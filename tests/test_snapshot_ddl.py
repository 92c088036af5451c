"""DDL surface (round 9 continuation): snapshot_create /
snapshot_add_columns Python faces and the SQL DDL face (CREATE TABLE /
CTAS / DROP TABLE / ALTER TABLE / SHOW TABLES), incl. the
catalog-path-string mode of snapshot_sql."""

from __future__ import annotations

import datetime
import os
import re

import pytest

pytestmark = pytest.mark.usefixtures("snapshot_storage_backend")
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dask_awkward_spark.sources.catalog import (
    snapshot_catalog_list,
    snapshot_catalog_register,
    snapshot_catalog_tables,
)
from dask_awkward_spark.sources.snapshot import (
    SnapshotConflictError,
    snapshot_add_columns,
    snapshot_changes,
    snapshot_create,
    snapshot_drop_column,
    snapshot_read,
    snapshot_scan_report,
    snapshot_versions,
    snapshot_write,
    _read_manifest,
)
from dask_awkward_spark.sources.sqlface import snapshot_sql


# ---- snapshot_create -------------------------------------------------


def test_create_empty_table_records_specs(spark, tmp_path):
    p = str(tmp_path / "t")
    v = snapshot_create(
        spark,
        p,
        "k bigint, seg string, meta struct<ts:bigint>",
        partition_by=["seg"],
        stats_columns=["k", "meta.ts"],
        bloom_by={"k": 100},
    )
    assert v == 1
    m = _read_manifest(p, 1)
    assert m["files"] == []
    assert m["partition_by"] == ["seg"]
    assert m["bloom_ndv"] == {"k": 100}
    assert set(m["stats_columns"]) == {"seg", "k", "meta.ts"}
    out = snapshot_read(spark, p)
    assert out.count() == 0
    assert out.schema.simpleString() == (
        "struct<k:bigint,seg:string,meta:struct<ts:bigint>>"
    )
    # the first real append inherits the sticky specs
    snapshot_write(
        spark.createDataFrame(
            [(1, "A", (7,)), (2, "B", (9,))],
            "k bigint, seg string, meta struct<ts:bigint>",
        ),
        p,
        mode="append",
    )
    m2 = _read_manifest(p, 2)
    assert m2["partition_by"] == ["seg"]
    assert all("seg=" in f for f in m2["files"])


def test_create_structtype_and_refusals(spark, tmp_path):
    p = str(tmp_path / "t")
    st = StructType.fromDDL("a int, b string")
    assert snapshot_create(spark, p, st) == 1
    # duplicate create refuses; if_not_exists no-ops without validating
    with pytest.raises(ValueError, match="already exists"):
        snapshot_create(spark, p, "x int")
    assert snapshot_create(spark, p, "x int", if_not_exists=True) == 1
    with pytest.raises(ValueError, match="at least one column"):
        snapshot_create(spark, str(tmp_path / "e"), StructType([]))
    with pytest.raises(ValueError, match="struct DDL"):
        snapshot_create(spark, str(tmp_path / "e2"), "bigint")


# ---- snapshot_add_columns --------------------------------------------


def _seed(spark, tmp_path, name="t"):
    p = str(tmp_path / name)
    snapshot_write(
        spark.createDataFrame([(1, "A"), (2, "B")], "k bigint, seg string"), p
    )
    return p


def test_add_columns_metadata_only_nulls(spark, tmp_path):
    p = _seed(spark, tmp_path)
    files_before = list(_read_manifest(p, 1)["files"])
    v = snapshot_add_columns(p, "score double, meta struct<ts:bigint>")
    assert v == 2
    m = _read_manifest(p, 2)
    assert m["op"] == "add_columns"
    assert m["files"] == files_before  # zero data files rewritten
    rows = snapshot_read(spark, p).orderBy("k").collect()
    assert [r.score for r in rows] == [None, None]
    assert [r.meta for r in rows] == [None, None]
    # the widened schema accepts appends carrying the new columns
    snapshot_write(
        spark.createDataFrame(
            [(3, "A", 1.5, (7,))],
            "k bigint, seg string, score double, meta struct<ts:bigint>",
        ),
        p,
        mode="append",
    )
    assert snapshot_read(spark, p).filter("score = 1.5").count() == 1
    # time travel: v1 does not have the column
    assert "score" not in snapshot_read(spark, p, version=1).columns


def test_add_columns_refusals(spark, tmp_path):
    p = _seed(spark, tmp_path)
    with pytest.raises(ValueError, match="already exist"):
        snapshot_add_columns(p, "K int")  # case-insensitive collision
    with pytest.raises(ValueError, match="duplicate names"):
        snapshot_add_columns(p, "x int, X string")
    with pytest.raises(ValueError, match="reserved"):
        snapshot_add_columns(p, "_change_type string")
    with pytest.raises(ValueError, match="no columns"):
        snapshot_add_columns(p, StructType([]))
    with pytest.raises(ValueError, match="cannot parse coldef"):
        snapshot_add_columns(p, "bigint")
    with pytest.raises(SnapshotConflictError):
        snapshot_add_columns(p, "x int", expect_head=99)


def test_readd_after_drop_never_reads_old_bytes(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k bigint, v double"), p
    )
    snapshot_drop_column(p, "v")
    snapshot_add_columns(p, "v double")
    rows = snapshot_read(spark, p).orderBy("k").collect()
    assert [r.v for r in rows] == [None, None], (
        "a re-added column must NOT resurrect the dropped column's bytes"
    )
    cm = _read_manifest(p, snapshot_versions(p)[-1]["version"])["column_mapping"]
    assert cm["physical"]["v"] != "v"  # fresh physical name


def test_add_columns_feeds_cross(spark, tmp_path):
    p = _seed(spark, tmp_path)
    snapshot_add_columns(p, "score double")
    snapshot_write(
        spark.createDataFrame(
            [(3, "C", 0.5)], "k bigint, seg string, score double"
        ),
        p,
        mode="append",
    )
    # plain file-delta feed crosses the metadata-only commit
    chg = snapshot_changes(spark, p, since=1)
    assert chg.count() == 1
    assert chg.first().k == 3
    # row-level feed too
    rl = snapshot_changes(spark, p, since=1, row_level=True)
    assert rl.filter("_change_type = 'insert'").count() == 1


def test_add_columns_then_stats_prune(spark, tmp_path):
    """A column added later can become the table's hot filter column:
    set_stats_columns names it, a compact backfills, and files prune."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_set_stats_columns,
    )

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(100).select(F.col("id").alias("k")).repartition(4), p
    )
    snapshot_add_columns(p, "score double")
    snapshot_write(
        spark.range(100, 200)
        .select(
            F.col("id").alias("k"), (F.col("id") / 100.0).alias("score")
        )
        .repartitionByRange(4, "score"),
        p,
        mode="append",
    )
    snapshot_set_stats_columns(p, ["score"])
    # backfill stats under the new spec; tiny target keeps >=2 output
    # files and the Z-order clusters them tight on the new column
    snapshot_compact(spark, p, target_file_bytes=1024, zorder_by=["score"])
    rep = snapshot_scan_report(p, [("score", ">", 1.7)])
    assert rep["skipped"] >= 1, f"new-column stats must prune: {rep}"
    assert snapshot_read(spark, p, where=[("score", ">", 1.7)]).count() == 29


# ---- SQL DDL face ----------------------------------------------------


def test_sql_create_insert_alter_drop_dict_mode(spark, tmp_path):
    tables = {}
    loc = str(tmp_path / "docs")
    v = snapshot_sql(
        spark,
        f"CREATE TABLE docs (id bigint, seg string, bal decimal(10,2)) "
        f"PARTITIONED BY (seg) TBLPROPERTIES ('stats_columns' = 'id', "
        f"'bloom.id' = '64') LOCATION '{loc}'",
        tables,
    )
    assert v == 1 and tables == {"docs": loc}  # CREATE registers in-place
    m = _read_manifest(loc, 1)
    assert m["partition_by"] == ["seg"]
    assert m["bloom_ndv"] == {"id": 64}
    snapshot_sql(
        spark,
        "INSERT INTO docs VALUES (1, 'A', CAST(2.5 AS decimal(10,2)))",
        tables,
    )
    assert snapshot_sql(
        spark, "ALTER TABLE docs ADD COLUMNS (score double, note string)",
        tables,
    ) == 3
    assert snapshot_sql(
        spark, "ALTER TABLE docs ADD COLUMN flag boolean", tables
    ) == 4
    assert snapshot_sql(
        spark, "ALTER TABLE docs RENAME COLUMN note TO remark", tables
    ) == 5
    assert snapshot_sql(
        spark, "ALTER TABLE docs DROP COLUMN flag", tables
    ) == 6
    out = snapshot_sql(spark, "SELECT id, seg, remark FROM docs", tables)
    assert out.collect()[0].remark is None
    st = snapshot_sql(spark, "DROP TABLE docs PURGE", tables)
    assert st == {"dropped": "docs", "path": loc, "purged": True}
    assert tables == {} and not os.path.exists(loc)


def test_sql_ctas_and_if_not_exists(spark, tmp_path):
    tables = {}
    loc = str(tmp_path / "c")
    spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    ).createOrReplaceTempView("ddl_src")
    try:
        v = snapshot_sql(
            spark,
            f"CREATE TABLE c PARTITIONED BY (g) LOCATION '{loc}' "
            "AS SELECT k, g FROM ddl_src",
            tables,
        )
        assert v == 1
        assert _read_manifest(loc, 1)["partition_by"] == ["g"]
        assert snapshot_sql(spark, "SELECT count(*) AS n FROM c", tables).first().n == 5
        # IF NOT EXISTS on an existing table: no-op, SELECT not evaluated
        v2 = snapshot_sql(
            spark,
            f"CREATE TABLE IF NOT EXISTS c LOCATION '{loc}' "
            "AS SELECT explode(sequence(1, 1000000)) AS boom",
            tables,
        )
        assert v2 == 1
        # VALUES form
        loc2 = str(tmp_path / "c2")
        snapshot_sql(
            spark,
            f"CREATE TABLE c2 LOCATION '{loc2}' AS VALUES (1, 'a'), (2, 'b')",
            tables,
        )
        assert snapshot_read(spark, loc2).count() == 2
    finally:
        spark.catalog.dropTempView("ddl_src")


def test_sql_ddl_catalog_path_mode(spark, tmp_path):
    """tables= as a catalog PATH: names resolve through the persistent
    catalog and CREATE/DROP write through to it."""
    cat = str(tmp_path / "cat")
    loc = str(tmp_path / "t")
    snapshot_sql(
        spark, f"CREATE TABLE t (k bigint, v double) LOCATION '{loc}'", cat
    )
    assert snapshot_catalog_tables(spark, cat) == {"t": loc}
    snapshot_sql(spark, "INSERT INTO t VALUES (1, 0.5), (2, 1.5)", cat)
    assert snapshot_sql(spark, "SELECT sum(k) AS s FROM t", cat).first().s == 3
    assert snapshot_sql(spark, "SHOW TABLES", cat).collect()[0].name == "t"
    st = snapshot_sql(spark, "DROP TABLE t", cat)
    assert st["dropped"] == "t" and st["purged"] is False
    assert snapshot_catalog_list(spark, cat) == []
    assert os.path.exists(loc)  # no PURGE: data stays


def test_sql_ddl_constraints_and_props(spark, tmp_path):
    tables = {}
    loc = str(tmp_path / "t")
    snapshot_sql(
        spark,
        f"CREATE TABLE t (k bigint, meta struct<ts:bigint>) LOCATION '{loc}'",
        tables,
    )
    snapshot_sql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (k > 0)", tables)
    with pytest.raises(Exception, match="pos"):
        snapshot_sql(
            spark,
            "INSERT INTO t VALUES (-1, named_struct('ts', CAST(1 AS bigint)))",
            tables,
        )
    snapshot_sql(spark, "ALTER TABLE t DROP CONSTRAINT pos", tables)
    snapshot_sql(
        spark,
        "INSERT INTO t VALUES (-1, named_struct('ts', CAST(1 AS bigint)))",
        tables,
    )
    v = snapshot_sql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('stats_columns' = 'meta.ts')",
        tables,
    )
    assert _read_manifest(loc, v)["stats_columns"] == ["meta.ts"]


def test_sql_ddl_refusals(spark, tmp_path):
    tables = {"t": str(tmp_path / "t")}
    snapshot_create(spark, tables["t"], "k bigint")
    loc2 = str(tmp_path / "x")
    with pytest.raises(ValueError, match="LOCATION"):
        snapshot_sql(spark, "CREATE TABLE x (a int)", tables)
    with pytest.raises(ValueError, match="Schema may not be specified"):
        snapshot_sql(
            spark,
            f"CREATE TABLE x (a int) LOCATION '{loc2}' AS SELECT 1",
            tables,
        )
    with pytest.raises(ValueError, match="ambiguous"):
        snapshot_sql(spark, f"CREATE TABLE t (a int) LOCATION '{loc2}'", tables)
    with pytest.raises(ValueError, match=r"near '\)'"):
        snapshot_sql(
            spark, f"CREATE TABLE x PARTITIONED BY () LOCATION '{loc2}'", tables
        )
    with pytest.raises(ValueError, match="infer a schema"):
        snapshot_sql(spark, f"CREATE TABLE x LOCATION '{loc2}'", tables)
    with pytest.raises(ValueError, match="extra input 'garbage'"):
        snapshot_sql(
            spark, f"CREATE TABLE x (a int) LOCATION '{loc2}' garbage", tables
        )
    # round 10: unknown TBLPROPERTIES keys are no longer refused — they
    # persist as opaque user properties (Delta parity)
    snapshot_sql(
        spark,
        f"CREATE TABLE x (a int) TBLPROPERTIES ('nope'='1') "
        f"LOCATION '{loc2}'",
        tables,
    )
    assert _read_manifest(loc2, 1)["properties"] == {"nope": "1"}
    snapshot_sql(spark, "DROP TABLE x PURGE", tables)
    with pytest.raises(ValueError, match="unknown table"):
        snapshot_sql(spark, "DROP TABLE nope", tables)
    with pytest.raises(ValueError, match="CREATE/write time"):
        snapshot_sql(
            spark,
            "ALTER TABLE t SET TBLPROPERTIES ('bloom.k' = '10')",
            tables,
        )
    with pytest.raises(ValueError, match="unsupported ALTER"):
        snapshot_sql(spark, "ALTER TABLE t CLUSTER BY (k)", tables)
    # a paren-typed coldef survives the cursor parse
    loc3 = str(tmp_path / "d")
    snapshot_sql(
        spark,
        f"CREATE TABLE d (a decimal(10,2), b string) LOCATION '{loc3}'",
        tables,
    )
    assert "decimal(10,2)" in _read_manifest(loc3, 1)["schema_ddl"]


def test_sql_create_quoted_path_with_keywords(spark, tmp_path):
    """A LOCATION path containing SQL-looking text must not confuse the
    clause cursor (the blanked-literal scan owns the structure)."""
    tables = {}
    loc = str(tmp_path / "AS SELECT (weird) dir")
    snapshot_sql(spark, f"CREATE TABLE w (k int) LOCATION '{loc}'", tables)
    assert tables["w"] == loc
    snapshot_sql(spark, "INSERT INTO w VALUES (7)", tables)
    assert snapshot_sql(spark, "SELECT k FROM w", tables).first().k == 7


# ---- review-cycle regressions ------------------------------------------


def test_ctas_and_insert_resolve_catalog_names_fresh(spark, tmp_path):
    """CTAS / INSERT bodies route through the SELECT face: catalog
    names resolve WITHOUT a prior SELECT, and a view pinned by an
    earlier statement must not feed stale rows into a later body."""
    cat = str(tmp_path / "cat")
    loc, loc2, loc3 = (str(tmp_path / n) for n in ("a", "b", "c"))
    snapshot_sql(spark, f"CREATE TABLE a (k bigint) LOCATION '{loc}'", cat)
    snapshot_sql(spark, "INSERT INTO a VALUES (1), (2)", cat)
    # SELECT pins a head view for 'a' at n=2 ...
    assert snapshot_sql(spark, "SELECT count(*) AS n FROM a", cat).first().n == 2
    # ... a mutation moves the head ...
    snapshot_sql(spark, "INSERT INTO a VALUES (3)", cat)
    # ... and a CTAS body referencing 'a' must see THE NEW head, not
    # the stale pinned view
    snapshot_sql(spark, f"CREATE TABLE b LOCATION '{loc2}' AS SELECT k FROM a", cat)
    assert snapshot_read(spark, loc2).count() == 3
    # INSERT INTO ... SELECT FROM <catalog name> works by name too
    snapshot_sql(spark, f"CREATE TABLE c (k bigint) LOCATION '{loc3}'", cat)
    snapshot_sql(spark, "INSERT INTO c SELECT k FROM a WHERE k >= 2", cat)
    assert snapshot_read(spark, loc3).count() == 2
    for v in ("a", "b", "c"):
        if spark.catalog.tableExists(v):
            spark.catalog.dropTempView(v)


def test_purge_refused_when_location_aliased(spark, tmp_path):
    """DROP ... PURGE must not destroy a path another registered name
    still points at; CREATE refuses making such an alias up front."""
    loc = str(tmp_path / "t")
    snapshot_create(spark, loc, "k bigint")
    tables = {"t1": loc, "t2": loc}  # aliases predating the guard
    with pytest.raises(ValueError, match="same location"):
        snapshot_sql(spark, "DROP TABLE t1 PURGE", tables)
    assert tables == {"t1": loc, "t2": loc}  # refusal mutated nothing
    st = snapshot_sql(spark, "DROP TABLE t1", tables)  # without PURGE: fine
    assert st["purged"] is False and tables == {"t2": loc}
    # CREATE-side guard: a second name for a registered location refuses
    with pytest.raises(ValueError, match="already registered as table"):
        snapshot_sql(
            spark, f"CREATE TABLE IF NOT EXISTS t9 (k bigint) LOCATION '{loc}'",
            tables,
        )
    assert os.path.exists(loc)


# ---- snapshot_sql_script ------------------------------------------------


def test_sql_script_provisioning_flow(spark, tmp_path):
    """A whole provisioning script — DDL + seeds + reads — as ONE string
    against one catalog path; '--' comments and literal semicolons must
    not confuse the splitter."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script

    cat = str(tmp_path / "cat")
    loc = str(tmp_path / "t")
    res = snapshot_sql_script(
        spark,
        f"""
        -- provisioning script (this comment vanishes)
        CREATE TABLE t (k bigint, s string) LOCATION '{loc}';
        INSERT INTO t VALUES (1, 'a;b'), (2, '-- not a comment');
        ALTER TABLE t ADD COLUMN extra double;
        SELECT count(*) AS n FROM t;  -- trailing comment
        """,
        cat,
    )
    assert len(res) == 4
    assert res[0] == 1 and res[1] == 2 and res[2] == 3
    assert res[3].first().n == 2
    # literal content with ; and -- survived intact
    vals = sorted(r.s for r in snapshot_read(spark, loc).collect())
    assert vals == ["-- not a comment", "a;b"]
    if spark.catalog.tableExists("t"):
        spark.catalog.dropTempView("t")


def test_sql_script_failure_names_statement(spark, tmp_path):
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script

    loc = str(tmp_path / "t")
    tables = {}
    with pytest.raises(ValueError, match="script statement 2"):
        snapshot_sql_script(
            spark,
            f"CREATE TABLE t (k bigint) LOCATION '{loc}'; FROBNICATE t;",
            tables,
        )
    # statement 1 committed (no rollback — each statement is atomic)
    assert tables == {"t": loc}


def test_describe_detail_and_show_create(spark, tmp_path):
    """DESCRIBE DETAIL surfaces manifest metadata; SHOW CREATE TABLE
    renders a statement that re-parses through this grammar — with
    LOGICAL column names even after a rename."""
    cat = str(tmp_path / "cat")
    loc = str(tmp_path / "d")
    snapshot_sql(
        spark,
        f"CREATE TABLE d (id bigint, seg string, meta struct<ts:bigint>) "
        f"PARTITIONED BY (seg) TBLPROPERTIES ('stats_columns'='id,meta.ts', "
        f"'bloom.id'='500') LOCATION '{loc}'",
        cat,
    )
    snapshot_sql(
        spark,
        "INSERT INTO d VALUES (1, 'A', named_struct('ts', CAST(5 AS bigint)))",
        cat,
    )
    snapshot_sql(spark, "ALTER TABLE d RENAME COLUMN id TO doc_id", cat)
    r = snapshot_sql(spark, "DESCRIBE DETAIL d", cat).first()
    assert r.format == "snapshot" and r.version == 3 and r.num_files == 1
    assert r.partition_columns == ["seg"] and r.size_bytes > 0
    assert r.bloom_columns == ["doc_id"]  # blooms follow the rename
    stmt = snapshot_sql(spark, "SHOW CREATE TABLE d", cat).first().createtab_stmt
    assert "doc_id bigint" in stmt and "id bigint" not in stmt.replace("doc_id", "")
    assert "'stats_columns' = 'seg,doc_id,meta.ts'" in stmt
    assert "'bloom.doc_id' = '500'" in stmt
    # the rendered statement round-trips through the same grammar
    loc2 = str(tmp_path / "d2")
    v = snapshot_sql(
        spark,
        stmt.replace("CREATE TABLE d ", "CREATE TABLE d2 ").replace(loc, loc2),
        cat,
    )
    assert v == 1
    assert _read_manifest(loc2, 1)["partition_by"] == ["seg"]


# ---- second review cycle regressions ------------------------------------


def test_sql_script_comment_with_apostrophe(spark, tmp_path):
    """A quote inside a '--' comment must not open a phantom literal
    that swallows the rest of the script (the comments are stripped by
    a scanner that tracks literals, not by blank-then-regex)."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script

    loc = str(tmp_path / "t")
    tables = {}
    res = snapshot_sql_script(
        spark,
        f"""
        -- don't touch anything below lightly
        CREATE TABLE t (k bigint) LOCATION '{loc}';
        -- it's important both statements run
        INSERT INTO t VALUES (1), (2);
        """,
        tables,
    )
    assert len(res) == 2 and snapshot_read(spark, loc).count() == 2


def test_show_create_renders_constraints_and_script_roundtrips(spark, tmp_path):
    """CHECK constraints render as ALTER statements after the CREATE;
    the whole output is a runnable script that recreates the table's
    definition — constraints included (proven by enforcement)."""
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script

    cat = str(tmp_path / "cat")
    loc, loc2 = str(tmp_path / "t"), str(tmp_path / "t2")
    snapshot_sql_script(
        spark,
        f"""
        CREATE TABLE t (k bigint, s string) LOCATION '{loc}';
        ALTER TABLE t ADD CONSTRAINT pos CHECK (k >= 0 AND s IN ('a', 'b'));
        """,
        cat,
    )
    stmt = snapshot_sql(spark, "SHOW CREATE TABLE t", cat).first().createtab_stmt
    assert "ADD CONSTRAINT pos CHECK (k >= 0 AND s IN ('a', 'b'))" in stmt
    script = stmt.replace("TABLE t", "TABLE t2").replace(loc, loc2)
    snapshot_sql_script(spark, script, cat)
    with pytest.raises(Exception, match="pos"):
        snapshot_sql(spark, "INSERT INTO t2 VALUES (-1, 'a')", cat)


def test_merge_insert_duplicate_columns_refused(spark, tmp_path):
    loc = str(tmp_path / "t")
    snapshot_create(spark, loc, "k bigint, v double")
    spark.createDataFrame([(1, 2.0)], "k bigint, v double").createOrReplaceTempView(
        "dup_src"
    )
    try:
        with pytest.raises(ValueError, match="duplicate columns"):
            snapshot_sql(
                spark,
                "MERGE INTO t USING dup_src s ON t.k = s.k "
                "WHEN NOT MATCHED THEN INSERT (v, v) VALUES (1, 2)",
                {"t": loc},
            )
    finally:
        spark.catalog.dropTempView("dup_src")


def test_parse_where_boolean_literals(spark):
    from dask_awkward_spark.sources.sqlface import parse_where

    assert parse_where("flag = TRUE") == [("flag", "=", True)]
    assert parse_where("flag in (false, true)") == [("flag", "in", [False, True])]


# expected triples captured from the hand-written WHERE grammar this
# face used before parsing moved to Spark's expression parser
_WHERE_TABLE = [
    ("k = 3", [("k", "=", 3)]),
    ("k == 3", [("k", "=", 3)]),
    ("k < 3", [("k", "<", 3)]),
    ("k <= 3", [("k", "<=", 3)]),
    ("k > 3", [("k", ">", 3)]),
    ("k >= 3", [("k", ">=", 3)]),
    ("k IN (1, 2, 3)", [("k", "in", [1, 2, 3])]),
    ("k = -3", [("k", "=", -3)]),
    ("v = 1.5", [("v", "=", 1.5)]),
    ("v > -2.5", [("v", ">", -2.5)]),
    ("v < 1e3", [("v", "<", 1000.0)]),
    ("v >= 2.5E-2", [("v", ">=", 0.025)]),
    ("s = 'it''s'", [("s", "=", "it's")]),
    ("s = ''", [("s", "=", "")]),
    ("d >= DATE '2020-01-02'", [("d", ">=", datetime.date(2020, 1, 2))]),
    (
        "ts < TIMESTAMP '2020-01-02 03:04:05'",
        [("ts", "<", datetime.datetime(2020, 1, 2, 3, 4, 5))],
    ),
    ("flag = TRUE", [("flag", "=", True)]),
    ("flag IN (false, true)", [("flag", "in", [False, True])]),
    ("meta.deep.ts > 100", [("meta.deep.ts", ">", 100)]),
    (
        "k = 1 AND v <= 1.5 AND s IN ('a', 'b')",
        [("k", "=", 1), ("v", "<=", 1.5), ("s", "in", ["a", "b"])],
    ),
]


@pytest.mark.parametrize("where, triples", _WHERE_TABLE)
def test_parse_where_triple_table(spark, where, triples):
    from dask_awkward_spark.sources.sqlface import parse_where

    got = parse_where(where)
    assert got == triples
    # int stays int, float stays float (stats compare by Python type)
    assert [type(v) for _, _, v in got] == [type(v) for _, _, v in triples]


@pytest.mark.parametrize(
    "where",
    [
        "k = 1 OR k = 2",
        "NOT k = 1",
        "k IS NULL",
        "k BETWEEN 1 AND 2",
        "upper(s) = 'A'",
        "k = other_col",
        "3 = k",
    ],
)
def test_parse_where_refusal_table(spark, where):
    from dask_awkward_spark.sources.sqlface import _REFUSE, parse_where

    with pytest.raises(ValueError, match=re.escape(_REFUSE)):
        parse_where(where)


# ---- nested ADD COLUMNS (dotted form) ------------------------------------


def test_add_nested_column_both_faces(spark, tmp_path):
    """'meta.extra double' widens the struct in place: old files
    null-fill the new field AT ITS DEPTH on BOTH reader faces, and the
    widened schema accepts appends carrying it."""
    from dask_awkward_spark.sources.snapshot import from_snapshot

    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(1, (7,)), (2, (9,))], "k bigint, meta struct<ts:bigint>"
        ),
        p,
    )
    files_before = list(_read_manifest(p, 1)["files"])
    v = snapshot_add_columns(p, "meta.extra double, note string")
    assert v == 2
    assert _read_manifest(p, 2)["files"] == files_before  # metadata-only
    rows = snapshot_read(spark, p).orderBy("k").collect()
    assert [r.meta.extra for r in rows] == [None, None]
    assert [r.note for r in rows] == [None, None]
    ds = sorted((r.k, r.meta.ts, r.meta.extra) for r in from_snapshot(spark, p).collect())
    assert ds == [(1, 7, None), (2, 9, None)]
    snapshot_write(
        spark.createDataFrame(
            [(3, (5, 1.5), "x")],
            "k bigint, meta struct<ts:bigint, extra:double>, note string",
        ),
        p,
        mode="append",
    )
    mixed = sorted(
        (r.k, r.meta.extra) for r in from_snapshot(spark, p).collect()
    )
    assert mixed == [(1, None), (2, None), (3, 1.5)]
    # time travel: v1 keeps the narrow struct
    assert (
        snapshot_read(spark, p, version=1).schema["meta"].dataType.simpleString()
        == "struct<ts:bigint>"
    )


def test_add_nested_column_rename_and_stats(spark, tmp_path):
    """The parent keeps its column-mapping identity (rename after the
    nested add carries the field), and the new leaf participates in
    nested-stats skipping once files record it."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_rename_column,
        snapshot_set_stats_columns,
    )

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(100).select(
            F.col("id").alias("k"),
            F.struct(F.col("id").alias("ts")).alias("meta"),
        ),
        p,
    )
    snapshot_add_columns(p, "meta.score double")
    snapshot_rename_column(p, "meta", "info")
    assert "info" in snapshot_read(spark, p).columns
    snapshot_set_stats_columns(p, ["info.score"])
    snapshot_write(
        spark.range(100, 300)
        .select(
            F.col("id").alias("k"),
            F.struct(
                F.col("id").alias("ts"), (F.col("id") / 100.0).alias("score")
            ).alias("info"),
        )
        .repartitionByRange(4, "info.score"),
        p,
        mode="append",
    )
    rep = snapshot_scan_report(p, [("info.score", ">", 2.5)])
    assert rep["skipped"] >= 1, f"added nested leaf must prune: {rep}"
    assert snapshot_read(spark, p, where=[("info.score", ">", 2.5)]).count() == 49


def test_add_nested_column_refusals(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(1, (7,), [1, 2])],
            "k bigint, meta struct<ts:bigint>, xs array<bigint>",
        ),
        p,
    )
    with pytest.raises(ValueError, match="already exists"):
        snapshot_add_columns(p, "meta.TS bigint")  # case-insensitive
    with pytest.raises(ValueError, match="no struct field"):
        snapshot_add_columns(p, "nope.x int")
    with pytest.raises(ValueError, match="non-struct"):
        snapshot_add_columns(p, "k.x int")
    with pytest.raises(ValueError, match="non-struct"):
        snapshot_add_columns(p, "xs.x int")  # list element: refused
    with pytest.raises(ValueError, match="cannot parse coldef"):
        snapshot_add_columns(p, "lonely")
    # SQL form reaches the same face
    v = snapshot_sql(
        spark, "ALTER TABLE t ADD COLUMNS (meta.deep struct<a:int>)", {"t": p}
    )
    assert v == 2
    dt = snapshot_read(spark, p).schema["meta"].dataType.simpleString()
    assert dt == "struct<ts:bigint,deep:struct<a:int>>"


def test_add_columns_name_guards_and_metadata(spark, tmp_path):
    """Third-review regressions: 'a: int' must refuse (not commit a
    column named 'a:'), empty dotted segments refuse, and a dotted add
    preserves StructField metadata on rebuilt levels."""
    from pyspark.sql.types import StructField, StructType as St, LongType

    p = str(tmp_path / "t")
    sch = St([
        StructField("k", LongType(), True, {"comment": "the key"}),
        StructField(
            "meta",
            St([StructField("ts", LongType(), True)]),
            True,
            {"comment": "payload"},
        ),
    ])
    snapshot_create(spark, p, sch)
    for bad in ("a: int", "a:int double", "meta. double", "x-y int"):
        with pytest.raises(ValueError, match="bad column name|cannot parse"):
            snapshot_add_columns(p, bad)
    snapshot_add_columns(p, "meta.extra double")
    got = snapshot_read(spark, p).schema
    assert got["k"].metadata == {"comment": "the key"}
    assert got["meta"].metadata == {"comment": "payload"}
    assert "extra" in got["meta"].dataType.fieldNames()


def test_create_or_replace(spark, tmp_path):
    """CREATE OR REPLACE TABLE: full redefinition in one atomic
    overwrite — the statement's specs win, old versions stay
    time-travelable, and both the declared-schema and CTAS forms work."""
    tables = {}
    loc = str(tmp_path / "t")
    snapshot_sql(
        spark,
        f"CREATE TABLE t (k bigint, g int) PARTITIONED BY (g) LOCATION '{loc}'",
        tables,
    )
    snapshot_sql(spark, "INSERT INTO t VALUES (1, 0), (2, 1)", tables)
    v = snapshot_sql(
        spark,
        f"CREATE OR REPLACE TABLE t LOCATION '{loc}' "
        "AS SELECT CAST(7 AS bigint) AS k, 'x' AS s",
        tables,
    )
    m = _read_manifest(loc, v)
    assert m["partition_by"] is None  # replace resets the sticky spec
    assert snapshot_sql(spark, "SELECT k, s FROM t", tables).collect()[0].k == 7
    # time travel to the pre-replace table still works
    assert snapshot_read(spark, loc, version=2).count() == 2
    # declared-schema replace form
    v = snapshot_sql(
        spark, f"CREATE OR REPLACE TABLE t (a int) LOCATION '{loc}'", tables
    )
    assert snapshot_read(spark, loc).columns == ["a"]
    with pytest.raises(ValueError, match="near 'NOT'"):
        snapshot_sql(
            spark,
            f"CREATE OR REPLACE TABLE IF NOT EXISTS t (a int) LOCATION '{loc}'",
            tables,
        )
    # OR REPLACE on a fresh path simply creates
    loc2 = str(tmp_path / "u")
    assert snapshot_sql(
        spark, f"CREATE OR REPLACE TABLE u (b int) LOCATION '{loc2}'", tables
    ) == 1


def test_restore_timestamp_and_tag_forms(spark, tmp_path):
    import datetime

    from dask_awkward_spark.sources.snapshot import snapshot_tag, _read_manifest

    loc = str(tmp_path / "t")
    tables = {"t": loc}
    snapshot_create(spark, loc, "k bigint")
    snapshot_sql(spark, "INSERT INTO t VALUES (1)", tables)      # v2
    snapshot_tag(loc, "golden")
    ts = datetime.datetime.fromtimestamp(
        _read_manifest(loc, 2)["committed_at"] + 0.001
    )
    snapshot_sql(spark, "INSERT INTO t VALUES (2), (3)", tables)  # v3
    v = snapshot_sql(
        spark,
        f"RESTORE TABLE t TO TIMESTAMP AS OF '{ts.isoformat(sep=' ')}'",
        tables,
    )
    assert snapshot_read(spark, loc).count() == 1
    snapshot_sql(spark, "INSERT INTO t VALUES (4), (5), (6)", tables)
    snapshot_sql(spark, "RESTORE t TAG AS OF 'golden'", tables)
    assert snapshot_read(spark, loc).count() == 1
    with pytest.raises(ValueError, match="not in"):
        snapshot_sql(spark, "RESTORE t TAG AS OF 'nope'", tables)
    with pytest.raises(ValueError, match="bad TIMESTAMP"):
        snapshot_sql(spark, "RESTORE t TIMESTAMP AS OF 'yesterday'", tables)


def test_create_or_replace_drops_constraints(spark, tmp_path):
    """OR REPLACE is a full REDEFINITION: CHECK constraints drop with
    the old definition (they may reference columns the new schema
    lacks); plain INSERT OVERWRITE keeps them (Delta's rule)."""
    tables = {}
    loc = str(tmp_path / "t")
    snapshot_sql(spark, f"CREATE TABLE t (k bigint) LOCATION '{loc}'", tables)
    snapshot_sql(spark, "ALTER TABLE t ADD CONSTRAINT pos CHECK (k > 0)", tables)
    # the replaced table has a DIFFERENT schema and no constraints
    snapshot_sql(
        spark,
        f"CREATE OR REPLACE TABLE t LOCATION '{loc}' AS SELECT 'x' AS s",
        tables,
    )
    assert _read_manifest(loc, 3)["constraints"] is None
    snapshot_sql(spark, "INSERT INTO t VALUES ('y')", tables)  # must not crash
    # negative values fine too: the constraint is gone
    snapshot_sql(
        spark, f"CREATE OR REPLACE TABLE t (k bigint) LOCATION '{loc}'", tables
    )
    snapshot_sql(spark, "INSERT INTO t VALUES (-5)", tables)
    assert snapshot_read(spark, loc).first().k == -5


def test_catalog_register_create_only_never_clobbers(spark, tmp_path):
    """replace=False registration: an existing same-name entry at a
    DIFFERENT path survives the merge untouched (clause-gated) and the
    call raises — the CREATE-through-catalog race can orphan no table."""
    from dask_awkward_spark.sources.catalog import (
        snapshot_catalog_lookup,
        snapshot_catalog_register,
    )

    cat = str(tmp_path / "cat")
    loc_a, loc_b = str(tmp_path / "a"), str(tmp_path / "b")
    snapshot_catalog_register(spark, cat, "t", loc_a)
    with pytest.raises(ValueError, match="never clobbers"):
        snapshot_catalog_register(spark, cat, "t", loc_b, replace=False)
    assert snapshot_catalog_lookup(spark, cat, "t")["path"] == loc_a
    # idempotent re-create at the SAME path is fine
    snapshot_catalog_register(spark, cat, "t", loc_a, replace=False)
    assert snapshot_catalog_lookup(spark, cat, "t")["path"] == loc_a
    # the default stays a replacing upsert
    snapshot_catalog_register(spark, cat, "t", loc_b)
    assert snapshot_catalog_lookup(spark, cat, "t")["path"] == loc_b
    # SQL CREATE through a catalog whose snapshot predates a foreign
    # registration refuses at the write-through, not silently
    snapshot_create(spark, str(tmp_path / "c"), "k bigint")
    stale_tables_view = cat  # catalog path mode re-reads per statement
    with pytest.raises(ValueError, match="ambiguous|never clobbers"):
        snapshot_sql(
            spark,
            f"CREATE TABLE t (k bigint) LOCATION '{tmp_path / 'c'}'",
            stale_tables_view,
        )


def test_show_tblproperties(spark, tmp_path):
    tables = {}
    loc = str(tmp_path / "t")
    snapshot_sql(
        spark,
        f"CREATE TABLE t (id bigint, meta struct<ts:bigint>) TBLPROPERTIES "
        f"('stats_columns'='id,meta.ts', 'bloom.id'='64') LOCATION '{loc}'",
        tables,
    )
    from dask_awkward_spark.sources.snapshot import snapshot_rename_column

    snapshot_rename_column(loc, "id", "doc_id")
    got = {
        r.key: r.value
        for r in snapshot_sql(spark, "SHOW TBLPROPERTIES t", tables).collect()
    }
    assert got == {"stats_columns": "doc_id,meta.ts", "bloom.doc_id": "64"}
    # a prefix-default table reports no properties
    loc2 = str(tmp_path / "u")
    snapshot_create(spark, loc2, "k bigint")
    assert snapshot_sql(spark, "SHOW TBLPROPERTIES u", {"u": loc2}).count() == 0


# ---- ALTER COLUMN TYPE — metadata-only lossless widening (round 10) ---


def test_alter_column_type_widen_metadata_only(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_alter_column_type

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 50).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("float").alias("x"),
        ),
        p,
    )
    files = list(_read_manifest(p, 1)["files"])
    v = snapshot_alter_column_type(p, "k", "bigint")
    m = _read_manifest(p, v)
    assert m["files"] == files and m["op"] == "alter_column_type"
    assert "k:bigint" in m["schema_ddl"]
    df = snapshot_read(spark, p)
    assert dict(df.dtypes)["k"] == "bigint"
    assert df.agg(F.sum("k")).first()[0] == sum(range(50))
    # float -> double too; appends then land at the wide width and the
    # mixed-width table reads exactly
    snapshot_alter_column_type(p, "x", "double")
    snapshot_write(
        spark.range(50, 100).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("x")
        ),
        p,
        mode="append",
    )
    out = snapshot_read(spark, p)
    assert out.count() == 100 and out.agg(F.sum("x")).first()[0] == sum(range(100))


def test_alter_column_type_refusals_and_noop(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_alter_column_type

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 20).select(
            F.col("id").alias("k"),
            F.struct(F.col("id").cast("smallint").alias("n")).alias("meta"),
        ),
        p,
    )
    # narrowing / lossy / re-typing refused with the lattice named
    for col, t in (("k", "int"), ("k", "float"), ("k", "string")):
        with pytest.raises(ValueError, match="LOSSLESS widening"):
            snapshot_alter_column_type(p, col, t)
    with pytest.raises(ValueError, match="not in"):
        snapshot_alter_column_type(p, "nope", "bigint")
    with pytest.raises(ValueError, match="crosses a non-struct"):
        snapshot_alter_column_type(p, "k.x", "bigint")
    # nested struct leaf widens; no-op is idempotent (no new commit)
    v = snapshot_alter_column_type(p, "meta.n", "int")
    assert "meta:struct<n:int>" in _read_manifest(p, v)["schema_ddl"]
    assert snapshot_alter_column_type(p, "meta.n", "int") == v
    assert snapshot_read(spark, p).agg(F.sum("meta.n")).first()[0] == sum(range(20))


def test_alter_column_type_sql_face_and_feeds(spark, tmp_path):
    """SQL form; the widen commit is row-preserving, so change feeds
    cross it (consumers just see the wider type)."""
    p = str(tmp_path / "t")
    tables = {"t": p}
    snapshot_write(
        spark.range(0, 10).select(F.col("id").cast("int").alias("k")), p
    )
    v = snapshot_sql(spark, "ALTER TABLE t ALTER COLUMN k TYPE bigint", tables)
    assert _read_manifest(p, v)["op"] == "alter_column_type"
    with pytest.raises(ValueError, match="LOSSLESS widening"):
        snapshot_sql(spark, "ALTER TABLE t ALTER COLUMN k TYPE int", tables)
    snapshot_write(
        spark.range(10, 15).select(F.col("id").alias("k")), p, mode="append"
    )
    # plain file-delta feed crosses the metadata-only widen
    rows = sorted(r.k for r in snapshot_changes(spark, p, since=1).collect())
    assert rows == [10, 11, 12, 13, 14]


def test_alter_column_type_through_container_elements(spark, tmp_path):
    """Widening addresses list/map elements with the same ``element`` /
    ``value`` steps nested ADD COLUMNS uses (VERDICT r10 item 2): old
    files written at the narrow width read back exactly under the
    pinned wide schema, map keys keep refusing."""
    from dask_awkward_spark.sources.snapshot import snapshot_alter_column_type

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 40).select(
            F.col("id").alias("k"),
            F.array(
                F.struct(F.col("id").cast("int").alias("x")),
                F.struct((F.col("id") + 1).cast("int").alias("x")),
            ).alias("items"),
            F.array(F.col("id").cast("int")).alias("tags"),
            F.create_map(
                F.lit("n"), F.col("id").cast("smallint")
            ).alias("mp"),
        ),
        p,
    )
    # field inside list<struct<...>>
    v = snapshot_alter_column_type(p, "items.element.x", "bigint")
    m = _read_manifest(p, v)
    assert "items:array<struct<x:bigint>>" in m["schema_ddl"]
    assert m["files"] == _read_manifest(p, 1)["files"]  # metadata-only
    # bare list element and map value
    snapshot_alter_column_type(p, "tags.element", "bigint")
    snapshot_alter_column_type(p, "mp.value", "int")
    df = snapshot_read(spark, p)
    assert dict(df.dtypes)["items"] == "array<struct<x:bigint>>"
    assert dict(df.dtypes)["tags"] == "array<bigint>"
    assert dict(df.dtypes)["mp"] == "map<string,int>"
    # OLD (narrow) files read back exactly under the wide schema
    got = df.select(
        F.aggregate(
            "items", F.lit(0).cast("bigint"), lambda a, s: a + s["x"]
        ).alias("sx"),
        F.element_at("tags", 1).alias("t0"),
        F.element_at("mp", "n").alias("n"),
    ).agg(F.sum("sx"), F.sum("t0"), F.sum("n")).first()
    assert tuple(got) == (
        sum(2 * i + 1 for i in range(40)),
        sum(range(40)),
        sum(range(40)),
    )
    # appends land at the wide width; mixed table stays exact
    snapshot_write(
        spark.range(40, 50).select(
            F.col("id").alias("k"),
            F.array(F.struct(F.col("id").alias("x"))).alias("items"),
            F.array(F.col("id")).alias("tags"),
            F.create_map(F.lit("n"), F.col("id").cast("int")).alias("mp"),
        ),
        p,
        mode="append",
    )
    assert snapshot_read(spark, p).count() == 50
    # map KEYS refuse — mixed-width keys would split identical keys
    with pytest.raises(ValueError, match="map KEY"):
        snapshot_alter_column_type(p, "mp.key", "bigint")
    # idempotence through a container path too
    assert snapshot_alter_column_type(p, "tags.element", "bigint") == (
        snapshot_versions(p)[-1]["version"]
    )


def test_alter_column_type_is_case_insensitive(spark, tmp_path):
    """Review r11 (4th pass): ALTER TYPE resolves dotted segments
    case-folded like nested ADD/DROP — the same script must not work
    for two of the three grammar faces and refuse the third."""
    from dask_awkward_spark.sources.snapshot import snapshot_alter_column_type

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(10).select(
            F.struct(F.col("id").cast("int").alias("n")).alias("meta"),
            F.array(
                F.struct(F.col("id").cast("int").alias("x"))
            ).alias("items"),
        ),
        p,
    )
    v = snapshot_alter_column_type(p, "Meta.N", "bigint")
    assert "n:bigint" in _read_manifest(p, v)["schema_ddl"]
    snapshot_alter_column_type(p, "Items.ELEMENT.x", "bigint")
    assert snapshot_read(spark, p).count() == 10


def test_alter_column_type_container_sql_face(spark, tmp_path):
    """The dotted container path flows through the SQL grammar
    unchanged (element/value are ordinary identifier segments)."""
    p = str(tmp_path / "t")
    tables = {"t": p}
    snapshot_write(
        spark.range(0, 10).select(
            F.array(
                F.struct(F.col("id").cast("int").alias("x"))
            ).alias("items"),
        ),
        p,
    )
    v = snapshot_sql(
        spark, "ALTER TABLE t ALTER COLUMN items.element.x TYPE bigint", tables
    )
    assert "x:bigint" in _read_manifest(p, v)["schema_ddl"]
    assert (
        snapshot_sql(spark, "SELECT sum(items[0].x) AS s FROM t", tables)
        .first()
        .s
        == sum(range(10))
    )


def test_alter_column_type_partition_spec_gate(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_alter_column_type

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 30).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 3).cast("int").alias("g"),
        ),
        p,
        partition_by=["g"],
    )
    # widening the partition column to a type the spec CANNOT carry
    # (int -> double is lossless, but doubles cannot be dir values) is
    # refused with the spec named ...
    with pytest.raises(ValueError, match="partition spec"):
        snapshot_alter_column_type(p, "g", "double")
    # ... while widening within _PART_TYPES is fine
    assert snapshot_alter_column_type(p, "g", "bigint") == 2
    # same gate for a TRANSFORM source column
    p2 = str(tmp_path / "t2")
    snapshot_write(
        spark.range(0, 30).select(F.col("id").cast("int").alias("k")),
        p2,
        partition_by=["truncate(10, k)"],
    )
    with pytest.raises(ValueError, match="partition spec"):
        snapshot_alter_column_type(p2, "k", "double")
    assert snapshot_alter_column_type(p2, "k", "bigint") == 2


# ---- nested adds under list/map elements (round 10) -------------------


def test_add_column_under_list_element(spark, tmp_path):
    """Delta's ``ADD COLUMNS (items.element.x double)``: the field
    lands inside array<struct>, old files null-fill it AT DEPTH, and
    writers at the widened schema mix with old files exactly."""
    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 8).select(
            F.col("id").alias("k"),
            F.array(
                F.struct(F.col("id").alias("a")),
                F.struct((F.col("id") + 1).alias("a")),
            ).alias("items"),
        ),
        p,
    )
    v = snapshot_add_columns(p, "items.element.x double")
    assert (
        _read_manifest(p, v)["schema_ddl"]
        == "struct<k:bigint,items:array<struct<a:bigint,x:double>>>"
    )
    row = snapshot_read(spark, p).orderBy("k").first()
    assert row.items[0].a == 0 and row.items[0].x is None
    snapshot_write(
        spark.range(8, 12).select(
            F.col("id").alias("k"),
            F.array(
                F.struct(F.col("id").alias("a"), F.lit(1.5).alias("x"))
            ).alias("items"),
        ),
        p,
        mode="append",
    )
    out = snapshot_read(spark, p)
    it = out.select(F.explode("items").alias("it"))
    assert out.count() == 12
    assert it.agg(F.sum("it.x")).first()[0] == 1.5 * 4
    assert it.filter(F.col("it.x").isNull()).count() == 16


def test_add_column_under_map_value_and_refusals(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 5).select(
            F.col("id").alias("k"),
            F.create_map(
                F.lit("m"), F.struct(F.col("id").alias("q"))
            ).alias("mp"),
            F.array(F.col("id")).alias("xs"),
        ),
        p,
    )
    v = snapshot_add_columns(p, "mp.value.r bigint")
    assert "mp:map<string,struct<q:bigint,r:bigint>>" in _read_manifest(p, v)[
        "schema_ddl"
    ]
    row = snapshot_read(spark, p).orderBy("k").first()
    assert dict(row.mp)["m"].q == 0 and dict(row.mp)["m"].r is None
    # map keys define entry identity: refused
    with pytest.raises(ValueError, match="entry identity"):
        snapshot_add_columns(p, "mp.key.z int")
    # bare list segment still refused, now with the addressing hint
    with pytest.raises(ValueError, match="element"):
        snapshot_add_columns(p, "xs.x int")
    # element step into a non-struct element refused
    with pytest.raises(ValueError, match="non-struct"):
        snapshot_add_columns(p, "xs.element.x int")


def test_add_list_element_column_streams_and_cdf_cross(spark, tmp_path):
    """The widened lineage's OLD files null-fill at depth on the ARROW
    read face too (the stream/CDF readers): a consumer reading the
    whole lineage after the add sees the new field as NULL in pre-add
    rows."""
    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 6).select(
            F.col("id").alias("k"),
            F.array(F.struct(F.col("id").alias("a"))).alias("items"),
        ),
        p,
        mode="append",
    )
    snapshot_add_columns(p, "items.element.x double")
    snapshot_write(
        spark.range(6, 9).select(
            F.col("id").alias("k"),
            F.array(
                F.struct(F.col("id").alias("a"), F.lit(2.0).alias("x"))
            ).alias("items"),
        ),
        p,
        mode="append",
    )
    # batch feed across the add (plain file-delta mode)
    delta = snapshot_changes(spark, p, since=0)
    got = sorted(
        (r.k, r.items[0].a, r.items[0].x) for r in delta.collect()
    )
    assert got == [(i, i, None) for i in range(6)] + [
        (i, i, 2.0) for i in range(6, 9)
    ]
    # SQL form of the element add
    v = snapshot_sql(
        spark, "ALTER TABLE t ADD COLUMNS (items.element.y bigint)", {"t": p}
    )
    assert "y:bigint" in _read_manifest(p, v)["schema_ddl"]


# ---- script rollback (round 10 — compensating multi-statement undo) ---


def test_script_rollback_restores_advanced_tables(spark, tmp_path):
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script
    from dask_awkward_spark.sources.snapshot import snapshot_versions

    p = str(tmp_path / "t")
    tables = {"t": p}
    snapshot_write(
        spark.createDataFrame([(1, "A"), (2, "B")], "k bigint, seg string"), p
    )
    with pytest.raises(ValueError, match="rollback: restored t to v1"):
        snapshot_sql_script(
            spark,
            """
            INSERT INTO t VALUES (3, 'C');
            DELETE FROM t WHERE k = 1;
            THIS IS NOT SQL;
            """,
            tables,
            on_error="rollback",
        )
    # content is back to the pre-script state (as a NEW restore commit
    # — the failed statements stay time-travelable)
    rows = sorted((r.k, r.seg) for r in snapshot_read(spark, p).collect())
    assert rows == [(1, "A"), (2, "B")]
    assert snapshot_versions(p)[-1]["op"] == "restore"
    # stop mode (default) leaves the partial commits in place
    with pytest.raises(ValueError, match="statement 2"):
        snapshot_sql_script(
            spark, "INSERT INTO t VALUES (9, 'Z'); NOPE;", tables
        )
    assert snapshot_read(spark, p).count() == 3


def test_script_rollback_drops_created_tables(spark, tmp_path):
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script
    from dask_awkward_spark.sources.snapshot import _versions

    base = str(tmp_path / "cat")
    loc = str(tmp_path / "new")
    with pytest.raises(ValueError, match="dropped created table nt"):
        snapshot_sql_script(
            spark,
            f"""
            CREATE TABLE nt (k bigint) LOCATION '{loc}';
            INSERT INTO nt VALUES (1), (2);
            BROKEN;
            """,
            base,
            on_error="rollback",
        )
    assert not _versions(loc), "the created table must be gone"
    # ... and deregistered from the catalog
    from dask_awkward_spark.sources.catalog import snapshot_catalog_tables

    assert "nt" not in snapshot_catalog_tables(spark, base)


def test_script_rollback_noop_on_success_and_bad_mode(spark, tmp_path):
    from dask_awkward_spark.sources.sqlface import snapshot_sql_script

    p = str(tmp_path / "t")
    tables = {"t": p}
    snapshot_write(spark.createDataFrame([(1,)], "k bigint"), p)
    res = snapshot_sql_script(
        spark, "INSERT INTO t VALUES (2); INSERT INTO t VALUES (3);",
        tables, on_error="rollback",
    )
    assert len(res) == 2 and snapshot_read(spark, p).count() == 3
    with pytest.raises(ValueError, match="stop|rollback"):
        snapshot_sql_script(spark, "SELECT 1", tables, on_error="abort")


def test_restore_carries_stats_columns(spark, tmp_path):
    """RESTORE is as-of for metadata too: a restore across a
    set_stats_columns commit brings the spec back (round-10 fix — it
    was silently reset to the prefix default before)."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_restore,
        snapshot_set_stats_columns,
    )

    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 2.0)], "k bigint, x double"), p
    )
    snapshot_set_stats_columns(p, ["x"])   # v2
    snapshot_write(
        spark.createDataFrame([(2, 3.0)], "k bigint, x double"), p,
        mode="append",
    )                                       # v3
    v = snapshot_restore(p, 2)
    assert _read_manifest(p, v)["stats_columns"] == ["x"]
    v2 = snapshot_restore(p, 1)
    assert _read_manifest(p, v2)["stats_columns"] is None


# ---- opaque user TBLPROPERTIES (round 10 — Delta parity) --------------


def test_user_properties_lifecycle(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_restore,
        snapshot_set_properties,
    )

    base = str(tmp_path)
    loc = f"{base}/t"
    cat = f"{base}/cat"
    snapshot_sql(
        spark,
        f"CREATE TABLE t (k bigint) TBLPROPERTIES ('stats_columns'='k', "
        f"'owner'='data-eng', 'pipeline.stage'='silver') LOCATION '{loc}'",
        cat,
    )
    m = _read_manifest(loc, 1)
    assert m["properties"] == {"owner": "data-eng", "pipeline.stage": "silver"}
    assert m["stats_columns"] == ["k"]  # reserved key still routes to spec
    # survive appends and data overwrites; SET merges; UNSET removes
    snapshot_sql(spark, "INSERT INTO t VALUES (1)", cat)
    snapshot_sql(
        spark, "ALTER TABLE t SET TBLPROPERTIES ('owner'='ml')", cat
    )
    snapshot_sql(
        spark, "ALTER TABLE t UNSET TBLPROPERTIES ('pipeline.stage')", cat
    )
    snapshot_sql(spark, "INSERT OVERWRITE t SELECT 9 AS k", cat)
    got = {
        r.key: r.value
        for r in snapshot_sql(spark, "SHOW TBLPROPERTIES t", cat).collect()
    }
    assert got["owner"] == "ml" and "pipeline.stage" not in got
    # SHOW CREATE renders them; RESTORE is as-of for properties too
    stmt = snapshot_sql(spark, "SHOW CREATE TABLE t", cat).first()[0]
    assert "'owner' = 'ml'" in stmt
    pre = _versions_of(loc)
    snapshot_sql(
        spark,
        f"CREATE OR REPLACE TABLE t (k bigint) TBLPROPERTIES "
        f"('fresh'='yes') LOCATION '{loc}'",
        cat,
    )
    assert _read_manifest(loc, _versions_of(loc)[-1])["properties"] == {
        "fresh": "yes"
    }
    snapshot_restore(loc, pre[-1])
    assert (
        _read_manifest(loc, _versions_of(loc)[-1])["properties"]["owner"]
        == "ml"
    )
    # python-face refusals: reserved keys, non-string values
    with pytest.raises(ValueError, match="engine-reserved"):
        snapshot_set_properties(loc, {"stats_columns": "x"})
    with pytest.raises(ValueError, match="engine-reserved"):
        snapshot_set_properties(loc, {"bloom.k": "100"})
    with pytest.raises(ValueError, match="strings"):
        snapshot_set_properties(loc, {"n": 3})
    # unset of a missing key is a no-op (no commit)
    h = _versions_of(loc)[-1]
    assert snapshot_set_properties(loc, unset=["nope"]) == h


def _versions_of(path):
    from dask_awkward_spark.sources.snapshot import _versions

    return _versions(path)


def test_user_properties_cross_feeds_and_fuzzless_paths(spark, tmp_path):
    """The set_properties commit is metadata-only: feeds cross it, DML
    after it carries the properties forward, and a concurrent DML
    rebase never reverts a property change (invalidation tested at the
    unit level via the manifest equality check)."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_set_properties,
    )

    p = str(tmp_path / "t")
    snapshot_write(spark.createDataFrame([(1,), (2,)], "k bigint"), p)
    snapshot_set_properties(p, {"owner": "x"})
    snapshot_write(
        spark.createDataFrame([(3,)], "k bigint"), p, mode="append"
    )
    # plain file-delta feed crosses the metadata-only commit
    assert sorted(
        r.k for r in snapshot_changes(spark, p, since=1).collect()
    ) == [3]
    # DML carries properties forward
    snapshot_delete(spark, p, [("k", "=", 1)])
    assert _read_manifest(p, _versions_of(p)[-1])["properties"] == {
        "owner": "x"
    }


# ---- file inventory + recorded sizes (round 10) -----------------------


def test_snapshot_files_inventory_and_recorded_bytes(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_files,
    )

    p = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("g")
        ),
        p,
        partition_by=["g"],
    )
    inv = snapshot_files(spark, p).collect()
    m = _read_manifest(p, 1)
    assert {r.file for r in inv} == set(m["files"])
    assert all(r.partition.startswith("g=") for r in inv)
    assert sum(r.rows for r in inv) == 100
    # recorded bytes match the actual on-disk size, no stat at read
    import os as _os

    for r in inv:
        assert r.bytes == _os.path.getsize(_os.path.join(p, r.file)), r
    # MOR delete rows show per file; DESCRIBE FILES SQL form
    snapshot_delete(spark, p, [("k", "<", 10)], strategy="merge-on-read")
    got = snapshot_sql(spark, "DESCRIBE FILES t", {"t": p})
    assert got.columns == [
        "file", "partition", "rows", "bytes", "deleted_rows", "has_stats"
    ]
    assert sum(r.deleted_rows for r in got.collect()) == 10
    # DESCRIBE DETAIL's size now comes from the recorded bytes
    det = snapshot_sql(spark, "DESCRIBE DETAIL t", {"t": p}).first()
    assert det.size_bytes == sum(r.bytes for r in inv)


# ---- MERGE schema evolution (round 10 — Delta autoMerge) --------------


def test_merge_schema_evolution_adds_and_widens(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame(
            [(1, 10), (2, 20)], "k bigint, v int"
        ),
        p,
    )
    src = spark.createDataFrame(
        [(2, 200, "beta"), (3, 300, "gamma")],
        "k bigint, v bigint, tag string",   # v WIDER, tag NEW
    )
    # without the flag: refused like an append's drift
    with pytest.raises(ValueError, match="missing columns|mismatch"):
        snapshot_merge(spark, p, src, on=["k"])
    st = snapshot_merge(spark, p, src, on=["k"], merge_schema=True)
    assert st["updated_rows"] == 1 and st["inserted_rows"] == 1
    out = {r.k: (r.v, r.tag) for r in snapshot_read(spark, p).collect()}
    # old row null-fills the added column; updated/inserted carry it;
    # v is bigint everywhere now
    assert out == {1: (10, None), 2: (200, "beta"), 3: (300, "gamma")}
    assert dict(snapshot_read(spark, p).dtypes) == {
        "k": "bigint", "v": "bigint", "tag": "string"
    }
    m = _read_manifest(p, snapshot_versions(p)[-1]["version"])
    assert "tag:string" in m["schema_ddl"] and "v:bigint" in m["schema_ddl"]


def test_merge_schema_evolution_noop_and_refusals(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_merge

    p = str(tmp_path / "t")
    snapshot_write(
        spark.createDataFrame([(1, 1.0)], "k bigint, x double"), p
    )
    # identical schema: the flag is a no-op (no extra commits)
    pre = len(snapshot_versions(p))
    snapshot_merge(
        spark, p,
        spark.createDataFrame([(2, 2.0)], "k bigint, x double"),
        on=["k"], merge_schema=True,
    )
    assert len(snapshot_versions(p)) == pre + 1  # just the merge commit
    # a NARROWING source column is still refused (int target would
    # lose the table's doubles) — evolution never narrows
    bad = spark.createDataFrame([(3, 3)], "k bigint, x int")
    st = snapshot_merge(spark, p, bad, on=["k"], merge_schema=True)
    # int -> double is the LOSSLESS direction (source narrower than
    # table): implicit upcast, no schema commit
    assert st["inserted_rows"] == 1
    assert dict(snapshot_read(spark, p).dtypes)["x"] == "double"
    # a source omitting a pre-existing table column keeps refusing for
    # full-row shapes, flag or not
    with pytest.raises(ValueError, match="missing columns"):
        snapshot_merge(
            spark, p, spark.createDataFrame([(9,)], "k bigint"),
            on=["k"], merge_schema=True,
        )


# ---- nested DROP COLUMN (round 11 — write-side grammar parity) --------


def _nested_drop_df(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.struct(
            F.col("id").alias("keep"),
            (F.col("id") * 2).alias("tmp"),
        ).alias("meta"),
        F.array(
            F.struct(F.col("id").alias("x"), (F.col("id") + 1).alias("y"))
        ).alias("items"),
        F.create_map(
            F.lit("a"),
            F.struct(F.col("id").alias("r"), F.lit(1).alias("s")),
        ).alias("mp"),
    )


def test_drop_nested_column_metadata_only(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import snapshot_drop_column

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    files = list(_read_manifest(p, 1)["files"])
    v = snapshot_drop_column(p, "meta.tmp")
    m = _read_manifest(p, v)
    assert m["files"] == files and m["op"] == "drop_column"
    assert "tmp" not in m["schema_ddl"]
    assert m["nested_tombstones"] == ["meta.tmp"]
    # old files read back under the NARROWER schema (bytes projected away)
    df = snapshot_read(spark, p)
    assert dict(df.dtypes)["meta"] == "struct<keep:bigint>"
    assert df.agg(F.sum("meta.keep")).first()[0] == sum(range(40))
    # container-nested drops use the same addressing
    snapshot_drop_column(p, "items.element.y")
    snapshot_drop_column(p, "mp.value.s")
    df = snapshot_read(spark, p)
    assert dict(df.dtypes)["items"] == "array<struct<x:bigint>>"
    assert dict(df.dtypes)["mp"] == "map<string,struct<r:bigint>>"
    got = df.select(
        F.element_at("items", 1).x.alias("x"),
        F.element_at("mp", "a").r.alias("r"),
    ).agg(F.sum("x"), F.sum("r")).first()
    assert tuple(got) == (sum(range(40)), sum(range(40)))
    # appends land at the narrow schema; mixed table reads exactly
    snapshot_write(
        spark.range(40, 50).select(
            F.col("id").alias("k"),
            F.struct(F.col("id").alias("keep")).alias("meta"),
            F.array(F.struct(F.col("id").alias("x"))).alias("items"),
            F.create_map(
                F.lit("a"), F.struct(F.col("id").alias("r"))
            ).alias("mp"),
        ),
        p,
        mode="append",
    )
    assert snapshot_read(spark, p).agg(F.sum("meta.keep")).first()[0] == sum(
        range(50)
    )


def test_drop_nested_refusals_and_tombstone(spark, tmp_path):
    from dask_awkward_spark.sources.snapshot import (
        snapshot_add_columns,
        snapshot_delete,
        snapshot_drop_column,
    )

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    snapshot_drop_column(p, "meta.tmp")
    # re-ADD at the tombstoned path refuses (old bytes would resurrect)
    with pytest.raises(ValueError, match="resurrect"):
        snapshot_add_columns(p, "meta.tmp double")
    # a SIBLING name is fine
    snapshot_add_columns(p, "meta.tmp2 double")
    # the tombstone survives appends and DML rewrites
    snapshot_delete(spark, p, [("k", "<", 5)])
    with pytest.raises(ValueError, match="resurrect"):
        snapshot_add_columns(p, "meta.tmp double")
    # ... and survives a parent RENAME (stored physical)
    from dask_awkward_spark.sources.snapshot import snapshot_rename_column

    snapshot_rename_column(p, "meta", "info")
    with pytest.raises(ValueError, match="resurrect"):
        snapshot_add_columns(p, "info.tmp double")
    # grammar refusals
    snapshot_drop_column(p, "items.element.y")
    with pytest.raises(ValueError, match="only"):
        snapshot_drop_column(p, "items.element.x")  # last struct field
    with pytest.raises(ValueError, match="map KEY"):
        snapshot_drop_column(p, "mp.key")
    with pytest.raises(ValueError, match="drop the column itself"):
        snapshot_drop_column(p, "items.element")
    with pytest.raises(ValueError, match="crosses a non-struct"):
        snapshot_drop_column(p, "k.x")
    # a plain OVERWRITE replaces every old file: tombstones reset and
    # the name becomes usable again
    snapshot_write(_nested_drop_df(spark), p)
    assert not _read_manifest(
        p, snapshot_versions(p)[-1]["version"]
    ).get("nested_tombstones")
    snapshot_drop_column(p, "meta.tmp")
    snapshot_write(_nested_drop_df(spark), p)  # overwrite again
    snapshot_add_columns(p, "meta.extra double")  # no refusal


def test_drop_nested_sql_face(spark, tmp_path):
    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    v = snapshot_sql(
        spark, "ALTER TABLE t DROP COLUMN meta.tmp", {"t": p}
    )
    assert "tmp" not in _read_manifest(p, v)["schema_ddl"]
    assert (
        snapshot_sql(
            spark, "SELECT sum(meta.keep) AS s FROM t", {"t": p}
        ).first().s
        == sum(range(40))
    )


def test_drop_nested_tombstone_is_case_insensitive(spark, tmp_path):
    """Review r11: name resolution is case-insensitive on every face,
    so a case-VARIANT re-add (meta.TMP after dropping meta.tmp) must
    hit the tombstone too — it would resolve the same retained bytes."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_add_columns,
        snapshot_drop_column,
    )

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    snapshot_drop_column(p, "meta.tmp")
    for variant in ("meta.TMP double", "META.tmp double", "Meta.Tmp double"):
        with pytest.raises(ValueError, match="resurrect"):
            snapshot_add_columns(p, variant)
    # case-variant DROP spelling resolves too (parity with nested ADD)
    snapshot_write(_nested_drop_df(spark), p)  # reset via overwrite
    v = snapshot_drop_column(p, "META.Tmp")
    assert "tmp" not in _read_manifest(p, v)["schema_ddl"]


def test_full_compact_clears_nested_tombstones(spark, tmp_path):
    """Review r11: an UNSCOPED compact rewrites every file under the
    narrow schema — no bytes remain to resurrect, so the tombstone
    clears and the name becomes reusable; a SCOPED compact rewrites
    only some files and must keep it."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_add_columns,
        snapshot_compact,
        snapshot_drop_column,
    )

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark).repartition(4), p)
    snapshot_drop_column(p, "meta.tmp")
    # scoped compact: old files may survive -> tombstone carried
    snapshot_compact(spark, p, where=[("k", "<", 10)])
    with pytest.raises(ValueError, match="resurrect"):
        snapshot_add_columns(p, "meta.tmp double")
    # full compact: every file rewritten -> tombstone cleared
    snapshot_compact(spark, p)
    m = _read_manifest(p, snapshot_versions(p)[-1]["version"])
    assert not m.get("nested_tombstones")
    snapshot_add_columns(p, "meta.tmp double")  # reusable again
    assert snapshot_read(spark, p).count() == 40
    # and the re-added field reads NULL everywhere (no resurrection)
    assert (
        snapshot_read(spark, p)
        .where(F.col("meta.tmp").isNotNull())
        .count()
        == 0
    )


def test_rename_nested_metadata_only(spark, tmp_path):
    """Nested RENAME COLUMN (round 12): metadata-only via the stored
    physical-path map — zero files rewritten, old files' bytes resolve
    under the new name, appends write the stable physical spelling."""
    from dask_awkward_spark.sources.snapshot import snapshot_rename_column

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    files = list(_read_manifest(p, 1)["files"])
    v = snapshot_rename_column(p, "meta.tmp", "meta.score")
    m = _read_manifest(p, v)
    assert m["files"] == files and m["op"] == "rename_column"
    assert m["column_mapping"]["nested"] == {"meta.tmp": "score"}
    # old-file read-back: bytes written under 'tmp' surface as 'score'
    df = snapshot_read(spark, p)
    assert "score" in df.schema["meta"].dataType.fieldNames()
    assert df.agg(F.sum("meta.score")).collect()[0][0] == sum(
        2 * i for i in range(40)
    )
    # time travel still sees the old spelling
    assert "tmp" in snapshot_read(spark, p, version=1).schema[
        "meta"
    ].dataType.fieldNames()
    # appends speak the NEW logical name but files store the physical
    # one; predicate pruning on the renamed leaf spans both eras
    extra = _nested_drop_df(spark, 10).withColumn(
        "meta",
        F.struct(
            F.col("meta.keep").alias("keep"), F.col("meta.tmp").alias("score")
        ),
    )
    snapshot_write(extra, p, mode="append")
    assert snapshot_read(spark, p).count() == 50
    assert (
        snapshot_read(spark, p, where=[("meta.score", "<=", 4)]).count() == 6
    )  # 3 rows per era: ids 0..2 each
    # container depth: items.element.x -> items.element.px (old files'
    # bytes at x resolve under px)
    snapshot_rename_column(p, "items.element.x", "px")
    got = (
        snapshot_read(spark, p)
        .select(F.explode("items").alias("e"))
        .agg(F.sum("e.px").alias("s"))
        .collect()[0]["s"]
    )
    assert got == sum(range(40)) + sum(range(10))
    # SQL-face form
    snapshot_sql(
        spark, "ALTER TABLE t RENAME COLUMN meta.score TO sc2", {"t": p}
    )
    assert "sc2" in snapshot_read(spark, p).schema["meta"].dataType.fieldNames()


def test_rename_nested_refusals(spark, tmp_path):
    """Moves, sibling collisions, container-step grammar words, and
    constrained fields refuse; a top-level rename TO a dotted name
    keeps the illegal-name creation message."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_add_constraint,
        snapshot_rename_column,
    )

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    with pytest.raises(ValueError, match="never MOVES"):
        snapshot_rename_column(p, "meta.tmp", "items.tmp")
    with pytest.raises(ValueError, match="already has a field"):
        snapshot_rename_column(p, "meta.tmp", "KEEP")  # case-insensitive
    with pytest.raises(ValueError, match="container STEP"):
        snapshot_rename_column(p, "meta.tmp", "element")
    with pytest.raises(ValueError, match="map KEYS"):
        snapshot_rename_column(p, "mp.key", "q")
    with pytest.raises(ValueError, match="the element IS the list's"):
        snapshot_rename_column(p, "items.element", "q")
    with pytest.raises(ValueError, match="may not contain"):
        snapshot_rename_column(p, "meta", "meta.x")
    snapshot_add_constraint(spark, p, "c1", [("meta.tmp", ">=", 0)])
    with pytest.raises(ValueError, match="CHECK constraint"):
        snapshot_rename_column(p, "meta.tmp", "score")
    # and renaming the PARENT of a constrained leaf refuses too
    with pytest.raises(ValueError, match="CHECK constraint"):
        snapshot_rename_column(p, "meta", "meta2")


def test_rename_nested_drop_readd_lifecycle(spark, tmp_path):
    """rename -> drop -> re-add: the tombstone carries the PHYSICAL
    spelling, so re-adding the OLD spelling refuses (bytes live there)
    while the dropped LOGICAL name is free again under a fresh
    physical spelling that null-fills."""
    from dask_awkward_spark.sources.snapshot import (
        snapshot_add_columns,
        snapshot_compact,
        snapshot_drop_column,
        snapshot_rename_column,
    )

    p = str(tmp_path / "t")
    snapshot_write(_nested_drop_df(spark), p)
    snapshot_rename_column(p, "meta.tmp", "meta.score")
    v = snapshot_drop_column(p, "meta.score")
    m = _read_manifest(p, v)
    assert m["nested_tombstones"] == ["meta.tmp"]  # physical identity
    assert not (m["column_mapping"].get("nested") or {})  # entry cleaned
    # the old PHYSICAL spelling is tombstoned (bytes live in old files)
    with pytest.raises(ValueError, match="resurrect"):
        snapshot_add_columns(p, "meta.tmp double")
    # renaming another field ONTO the tombstoned spelling refuses too
    with pytest.raises(ValueError, match="DROPPED at that path"):
        snapshot_rename_column(p, "meta.keep", "tmp")
    # the dropped LOGICAL name re-adds under a fresh spelling: NULLs
    snapshot_add_columns(p, "meta.score double")
    df = snapshot_read(spark, p)
    assert df.where(F.col("meta.score").isNotNull()).count() == 0
    assert df.count() == 40
    # adding the CURRENT logical spelling of a renamed sibling is the
    # live-name collision; adding its PHYSICAL spelling is the rename
    # guard — exercise the latter on a fresh rename
    snapshot_rename_column(p, "meta.keep", "meta.kept")
    with pytest.raises(ValueError, match="RENAMED away"):
        snapshot_add_columns(p, "meta.keep double")
    # full compact rewrites every file -> tombstone AND mapping reset
    head = snapshot_compact(spark, p)
    m = _read_manifest(p, head)
    assert not m.get("nested_tombstones")
    snapshot_add_columns(p, "meta.keep double")  # spelling free again
    assert snapshot_read(spark, p).count() == 40
