"""SQL face for snapshot tables (VERDICT r7 item 4).

:func:`snapshot_view` gave SQL-only consumers reads with time travel;
this module gives SQL-only PRODUCERS the mutations: one dispatcher,
:func:`snapshot_sql`, takes a statement string plus a name→path table
map and routes it into the existing atomic commit paths
(``snapshot_write`` / ``snapshot_delete`` / ``snapshot_update`` /
``snapshot_merge`` and the DDL faces) — so a SQL string gets exactly
the same optimistic-concurrency commit, stats-based file pruning
(nested leaves included: ``WHERE meta.ts < 100`` prunes), change feed,
and constraint enforcement as the Python API. Nothing here
re-implements DML; the SQL face is a FRONT.

Who parses what:

- **Spark's own parser** (``sessionState().sqlParser().parsePlan``)
  parses INSERT, DELETE, UPDATE, MERGE, CREATE [OR REPLACE] TABLE
  [AS SELECT], DROP TABLE, ALTER TABLE (ADD/RENAME/DROP/ALTER COLUMN,
  SET/UNSET TBLPROPERTIES, ADD/DROP CONSTRAINT) and SHOW TABLES /
  TBLPROPERTIES / CREATE TABLE / PARTITIONS. The face dispatches on the
  parsed plan node's class and reads the statement's parts from the
  tree; every EXPRESSION (SET right-hand sides, MERGE conditions and
  assignments, INSERT / CTAS / ``USING`` bodies) passes on as the
  user's exact text, sliced by the node's origin span. A statement
  Spark cannot parse raises ``ValueError`` carrying Spark's message
  (offending token and position) and the face's grammar line for that
  statement kind.
- **WHERE clauses** go through Spark's ``parseExpression`` and are
  walked into the storage layer's ANDed ``(column, op, value)``
  triples — the one vocabulary every prune and DML path speaks (ops
  ``= < <= > >= IN``; literals: numbers, strings, booleans, ``DATE``,
  ``TIMESTAMP``). Anything beyond it (OR, NOT, IS NULL, BETWEEN,
  functions, column-vs-column) raises with a message naming the Python
  call that can express it.
- **Own small grammars**, matched by anchored regexes BEFORE the
  parser runs: ``SELECT``/``WITH`` with ``VERSION|TIMESTAMP|TAG AS OF``
  pins (:func:`_select_sql`), ``DESCRIBE HISTORY|DETAIL|FILES`` (Spark
  mis-parses these as DescribeColumn), ``OPTIMIZE``, ``VACUUM``,
  ``RESTORE``, ``ALTER TABLE ... SET PARTITION SPEC``
  (:func:`_maintenance_sql`), ``CREATE|DESCRIBE VECTOR INDEX`` and
  ``ANN SEARCH``, plus script splitting in :func:`snapshot_sql_script`.

Two rewrites run on the literal-blanked text before parsing: a bare
``WHEN NOT MATCHED ... THEN INSERT`` (which Spark rejects) becomes
``INSERT *``, and ``<catalog name> TAG AS OF '<tag>'`` (which Spark has
no form for) becomes ``VERSION AS OF <n>``. Besides them, only the
TBLPROPERTIES keys Spark reserves for its own catalog (``owner``,
``location``, ...) parse under a prefix, since here they are opaque
user properties; nothing else is rewritten. String literals follow
Spark's escape rules everywhere: ``'it''s'`` and ``'it\\'s'`` are both
``it's``, and ``'a\\\\b'`` is one backslash.

Reference: no counterpart (dask-awkward has no SQL surface); the
Spark-native analog is Delta's SQL DML under a catalog. The table map
argument is the catalog hook — :mod:`~dask_awkward_spark.sources
.catalog` resolves names to paths persistently.
"""

from __future__ import annotations

import datetime
import re

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = ["snapshot_sql", "snapshot_sql_script", "snapshot_changes_view"]


def snapshot_changes_view(
    spark: SparkSession,
    path: str,
    name: str,
    since: int,
    until: "int | None" = None,
    row_level: bool = False,
) -> DataFrame:
    """SQL face for the change feed: register
    :func:`~dask_awkward_spark.sources.snapshot.snapshot_changes` as a
    temp view, so a SQL-only CDC consumer reads the delta with plain
    ``SELECT`` — the read-side complement of :func:`snapshot_sql`
    (Delta's ``table_changes('t', since, until)``). Pinned at
    registration like :func:`snapshot_view`; ``row_level=True``
    surfaces the ``_change_type``/``_commit_version`` columns."""
    from .snapshot import snapshot_changes

    df = snapshot_changes(spark, path, since, until=until, row_level=row_level)
    df.createOrReplaceTempView(name)
    return df


_IDENT = r"[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)*"

_REFUSE = (
    "the SQL face accepts ANDed `col op literal` / `col IN (...)` "
    "predicates only (ops = < <= > >= IN; literals: numbers, 'strings', "
    "DATE '...', TIMESTAMP '...') — for anything richer call the Python "
    "API (snapshot_delete/snapshot_update take the same triples; "
    "arbitrary row logic belongs in snapshot_merge or a read-transform-"
    "overwrite)"
)

# one grammar line per statement kind Spark's parser handles, quoted in
# parse errors next to Spark's own message
_GRAMMAR = {
    "INSERT": "INSERT INTO|OVERWRITE t [(cols)] SELECT ... | VALUES (...), ...",
    "DELETE": "DELETE FROM t WHERE <triples>",
    "UPDATE": "UPDATE t SET c = <expr>, ... WHERE <triples>",
    "MERGE": (
        "MERGE INTO t USING <view|(subquery)> s ON t.k = s.k [AND ...] "
        "WHEN MATCHED [AND cond] THEN UPDATE SET ...|* / DELETE, WHEN NOT "
        "MATCHED [AND cond] THEN INSERT [*|(cols) VALUES (exprs)], WHEN "
        "NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... / DELETE"
    ),
    "CREATE": (
        "CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [(coldefs)] "
        "[PARTITIONED BY (...)] [TBLPROPERTIES (...)] LOCATION 'path' "
        "[AS SELECT ...|VALUES ...]"
    ),
    "DROP": "DROP TABLE [IF EXISTS] t [PURGE]",
    "ALTER": (
        "ALTER TABLE t ADD COLUMN(S) / RENAME COLUMN a TO b / DROP COLUMN "
        "c / ALTER COLUMN c TYPE <wider> / SET TBLPROPERTIES ('k'='v', "
        "...) / UNSET TBLPROPERTIES ('k', ...) / SET PARTITION SPEC (c, "
        "...) / ADD CONSTRAINT n CHECK (<triples>) / DROP CONSTRAINT n"
    ),
    "SHOW": "SHOW TABLES | TBLPROPERTIES t | CREATE TABLE t | PARTITIONS t",
}

_OPS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _seq(x) -> list:
    """A Scala ``Seq`` from the parsed tree as a Python list."""
    return [x.apply(i) for i in range(x.size())]


def _opt(x):
    """A Scala ``Option`` from the parsed tree: its value or None."""
    return x.get() if x.isDefined() else None


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _parser(spark: SparkSession):
    return spark._jsparkSession.sessionState().sqlParser()


def _text(sql: str, node) -> str:
    """The user's exact text for a parsed node, sliced by its origin
    span (a node the parser synthesized has none: its own rendering)."""
    o = node.origin()
    if not o.startIndex().isDefined():
        return node.toString()
    return sql[o.startIndex().get():o.stopIndex().get() + 1]


def _name(node) -> str:
    """Dotted name of the table a statement targets: its leftmost
    leaf (UnresolvedRelation/Table/TableOrView/Identifier)."""
    while node.children().size():
        node = node.children().apply(0)
    if _kind(node) == "UnresolvedIdentifier":
        return ".".join(_seq(node.nameParts()))
    return ".".join(_seq(node.multipartIdentifier()))


def _value(sql: str, lit):
    """One parsed literal as the storage layer's Python value: integers
    stay int, decimals and doubles become float, DATE a date, TIMESTAMP
    the naive session-zone wall clock (how Spark renders the literal,
    and what the stats comparisons assume)."""
    t = ""
    if _kind(lit) == "Literal" and lit.value() is not None:
        t = lit.dataType().simpleString()
    if t in ("tinyint", "smallint", "int", "bigint", "boolean"):
        return lit.value()
    if t in ("float", "double") or t.startswith("decimal"):
        return float(lit.toString())
    if t == "string":
        return lit.toString()
    if t == "date":
        return datetime.date.fromisoformat(lit.toString())
    if t in ("timestamp", "timestamp_ntz"):
        return datetime.datetime.fromisoformat(lit.toString())
    raise ValueError(f"expected a literal, got {_text(sql, lit)!r}: {_REFUSE}")


def _conjuncts(expr) -> list:
    if _kind(expr) == "And":
        return _conjuncts(expr.left()) + _conjuncts(expr.right())
    return [expr]


def _triples(sql: str, expr) -> "list[tuple]":
    """A parsed AND tree of ``column op literal`` / ``column IN
    (literals)`` nodes as ``(column, op, value)`` triples; any other
    node refuses."""
    out = []
    for c in _conjuncts(expr):
        k = _kind(c)
        col = c.children().apply(0) if k in _OPS or k == "In" else None
        if col is None or _kind(col) != "UnresolvedAttribute":
            raise ValueError(
                f"cannot map {_text(sql, c)!r} to a (column, op, literal) "
                f"triple: {_REFUSE}"
            )
        name = ".".join(_seq(col.nameParts()))
        if k == "In":
            out.append((name, "in", [_value(sql, v) for v in _seq(c.list())]))
        else:
            out.append((name, _OPS[k], _value(sql, c.right())))
    return out


def parse_where(s: str) -> "list[tuple]":
    """Parse a conjunctive SQL WHERE clause into the storage layer's
    ``(column, op, value)`` triples — the exact vocabulary every prune
    and DML path speaks, so SQL-face mutations get identical file
    skipping and whole-file proofs. Spark's expression parser reads the
    text (its escape rules, backticked names); the walk refuses
    anything it cannot map EXACTLY (OR, NOT, IS NULL, BETWEEN,
    functions, column-vs-column, literal-first)."""
    try:
        expr = _parser(SparkSession.builder.getOrCreate()).parseExpression(s)
    except ParseException as e:
        raise ValueError(
            f"cannot parse WHERE clause {s!r}: {str(e).strip()}\n{_REFUSE}"
        ) from None
    return _triples(s, expr)


_BARE_INSERT_RE = re.compile(r"\bTHEN\s+INSERT\b(?!\s*[(*])", re.I)

# Spark reserves these TBLPROPERTIES keys for its own catalog; to this
# engine they are opaque user keys, so they parse under a prefix
_RESERVED_KEYS = (
    "comment", "collation", "external", "is_managed_location", "location",
    "owner", "provider",
)
_KEY_PREFIX = "__dak_reserved__"


def _props(kvs) -> "dict[str, str]":
    """A parsed TBLPROPERTIES map as a dict, reserved keys restored."""
    return {
        kv._1().removeprefix(_KEY_PREFIX): kv._2().removeprefix(_KEY_PREFIX)
        for kv in _seq(kvs.toSeq())
    }


def _parse(spark: SparkSession, sql: str, tables: "dict[str, str]"):
    """``(sql, plan)``: the statement after the pre-parse rewrites
    (found on the literal-blanked text, so a literal never matches) and
    Spark's parsed plan of it.

    - MERGE's bare ``THEN INSERT`` becomes ``THEN INSERT *`` (the form
      EXAMPLES.md uses; Spark's grammar requires the star).
    - ``<catalog name> TAG AS OF '<tag>'`` becomes ``VERSION AS OF
      <n>`` (Spark has no TAG form; the SELECT face has one).

    Inside a TBLPROPERTIES list, a literal spelling one of Spark's
    reserved keys gets :data:`_KEY_PREFIX` (:func:`_props` strips it)."""
    from .snapshot import _resolve_version

    blank = _blank_literals(sql)
    edits = []
    if re.match(r"\s*MERGE\b", blank, re.I):
        edits = [(m.end(), m.end(), " *") for m in _BARE_INSERT_RE.finditer(blank)]
    for name, path in tables.items():
        pat = rf"\b({re.escape(name)})\s+TAG\s+AS\s+OF\s+('[^']*')"
        for m in re.finditer(pat, blank, re.I):
            lit = _parser(spark).parseExpression(sql[m.start(2):m.end(2)])
            v = _resolve_version(path, None, None, _value(sql, lit))
            edits.append((m.start(), m.end(), f"{m.group(1)} VERSION AS OF {v}"))
    for m in re.finditer(r"\bTBLPROPERTIES\b[^(]*\(", blank, re.I):
        for k in re.finditer(r"'\s*'", blank[:_close_paren(blank, m.end() - 1)]):
            if k.start() >= m.end() and sql[k.start() + 1:k.end() - 1] in _RESERVED_KEYS:
                edits.append((k.start() + 1, k.start() + 1, _KEY_PREFIX))
    for lo, hi, rep in sorted(edits, reverse=True):
        sql = sql[:lo] + rep + sql[hi:]
    try:
        return sql, _parser(spark).parsePlan(sql)
    except ParseException as e:
        head = (re.match(r"\s*(\w*)", blank).group(1)).upper()
        raise ValueError(
            f"cannot parse {head or 'the'} statement: {str(e).strip()}\n"
            f"grammar: {_GRAMMAR.get(head) or _unsupported(sql)}"
        ) from None


def _unsupported(sql: str) -> str:
    return (
        f"unsupported statement {sql.strip()[:60]!r}: the SQL face speaks "
        "SELECT/WITH [... VERSION|TIMESTAMP|TAG AS OF ...]; "
        + "; ".join(_GRAMMAR.values())
        + "; DESCRIBE HISTORY|DETAIL|FILES t; OPTIMIZE; VACUUM; RESTORE; "
        "CREATE|DESCRIBE VECTOR INDEX; ANN SEARCH (see snapshot_sql)"
    )


def _as_of_seconds(raw: str) -> float:
    """A ``TIMESTAMP AS OF`` value as epoch seconds (naive reads in the
    system timezone, like ``snapshot_read(as_of=...)``'s float form)."""
    try:
        return datetime.datetime.fromisoformat(raw).timestamp()
    except ValueError as e:
        raise ValueError(f"bad TIMESTAMP AS OF literal {raw!r}: {e}") from None


def _resolve(table: str, tables: "dict[str, str]") -> str:
    if table not in tables:
        raise ValueError(
            f"unknown table {table!r}: the statement's target must appear "
            f"in the tables map (got {sorted(tables)}); register names "
            "persistently with sources.catalog.snapshot_catalog_register"
        )
    return tables[table]


def snapshot_sql(
    spark: SparkSession, sql: str, tables: "dict[str, str]"
) -> "dict | int | DataFrame":
    """Run one SQL statement against snapshot tables.

    ``tables`` maps the statement's table names to snapshot paths (get
    a persistent map from
    :func:`~dask_awkward_spark.sources.catalog.snapshot_catalog_tables`).

    Parsed by Spark's own parser, then routed by plan node class:

    - ``INSERT INTO|OVERWRITE t [(cols)] SELECT ... | VALUES (...)`` —
      the SELECT is full Spark SQL run through the SELECT face (catalog
      names and AS-OF pins work inside it); one atomic commit. With a
      column list, unnamed columns fill NULL; without one, columns are
      positional and cast to the table's types.
    - ``DELETE FROM t WHERE <triples>`` — same pruning/whole-file
      proofs as :func:`snapshot_delete`.
    - ``UPDATE t SET c = <spark sql expr>, ... WHERE <triples>`` —
      right-hand sides evaluate against the OLD row, like
      :func:`snapshot_update`.
    - ``MERGE INTO t USING <view|(subquery)> s ON t.k = s.k WHEN
      MATCHED [AND cond] THEN UPDATE SET c = expr|* / DELETE, WHEN NOT
      MATCHED [AND cond] THEN INSERT [*|(cols) VALUES (exprs)], WHEN NOT
      MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... / DELETE`` —
      every condition and assignment passes VERBATIM into
      :func:`snapshot_merge`'s clause grammar (SQL over the ``t``/``s``
      row structs), so the aliases are fixed to ``t``/``s`` and ON is
      ANDed ``t.k = s.k`` equi-keys. A bare ``THEN INSERT`` means
      ``INSERT *``. ``INSERT (cols) VALUES (exprs)`` builds the row
      from expressions over ``s`` — unlisted columns NULL, join keys
      kept from the source.
    - DDL: ``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [(cols)]
      [PARTITIONED BY (c, days(ts), bucket(n, c), truncate(w, c))]
      [TBLPROPERTIES ('stats_columns'='...', 'bloom.c'='ndv', ...)]
      LOCATION 'path' [AS SELECT ...]``, ``DROP TABLE [IF EXISTS] t
      [PURGE]``, ``ALTER TABLE t ADD COLUMN(S) / RENAME COLUMN a TO b /
      DROP COLUMN c / ALTER COLUMN c TYPE <wider> / SET|UNSET
      TBLPROPERTIES / ADD CONSTRAINT n CHECK (<triples>) / DROP
      CONSTRAINT n``, ``SHOW TABLES|TBLPROPERTIES t|CREATE TABLE
      t|PARTITIONS t`` (see :func:`_create_sql`, :func:`_ddl_sql`).
      CREATE/DROP mutate the passed ``tables`` mapping in place so later
      statements resolve the name.

    Matched by their own grammars before the parser runs:

    - ``SELECT``/``WITH`` — reads by catalog name over head-pinned
      views, with ``FROM t VERSION AS OF n`` / ``TIMESTAMP AS OF
      '...'`` / ``TAG AS OF 'name'`` time travel (:func:`_select_sql`).
    - Maintenance: ``DESCRIBE HISTORY|DETAIL|FILES t``, ``OPTIMIZE t
      [WHERE ...] [ZORDER BY (...)]``, ``VACUUM t [RETAIN n HOURS]
      [KEEP LAST n] [DRY RUN]``, ``RESTORE [TABLE] t [TO] VERSION AS OF
      n | TIMESTAMP AS OF '...' | TAG AS OF 'name'``, ``ALTER TABLE t
      SET PARTITION SPEC (...)`` (:func:`_maintenance_sql`).
    - ``CREATE VECTOR INDEX``, ``DESCRIBE VECTOR INDEX`` and ``ANN
      SEARCH`` (:func:`_vector_index_sql`, :func:`_ann_sql`).

    ``tables`` may instead be a CATALOG PATH string: names then resolve
    through the persistent catalog, and CREATE/DROP write through to it
    — a SQL-only consumer needs exactly one path for everything.

    Returns the new version number (INSERTs/DDL commits/OPTIMIZE/
    RESTORE), the stats dict (DELETE/UPDATE/MERGE/VACUUM/DROP TABLE),
    or the result DataFrame (SELECT/DESCRIBE/SHOW). Raises
    ``ValueError`` with a pointer at the Python API for any statement
    outside the grammar."""
    from .snapshot import snapshot_delete, snapshot_update, snapshot_write

    catalog_path = None
    if isinstance(tables, str):
        from .catalog import snapshot_catalog_tables

        catalog_path = tables
        tables = snapshot_catalog_tables(spark, catalog_path)

    if re.match(r"^\s*\(*\s*(SELECT|WITH)\b", sql, re.I):
        return _select_sql(spark, sql, tables)

    out = _maintenance_sql(spark, sql, tables)
    if out is not None:
        return out

    out = _vector_index_sql(spark, sql, tables, catalog_path)
    if out is not None:
        return out

    m = _DESC_VIDX_RE.match(sql)
    if m:
        return _describe_vector_index(spark, m.group(1), tables)

    out = _ann_sql(spark, sql, tables)
    if out is not None:
        return out

    sql, plan = _parse(spark, sql, tables)
    kind = _kind(plan)
    if kind == "DeleteFromTable":
        path = _resolve(_name(plan), tables)
        return snapshot_delete(spark, path, _where(sql, plan.condition(), "DELETE"))
    if kind == "UpdateTable":
        path = _resolve(_name(plan), tables)
        where = _where(sql, _opt(plan.condition()), "UPDATE")
        assignments = {
            ".".join(_seq(a.key().nameParts())): F.expr(_text(sql, a.value()))
            for a in _seq(plan.assignments())
        }
        return snapshot_update(spark, path, where, assignments)
    if kind == "MergeIntoTable":
        return _merge_sql(spark, sql, plan, tables)
    if kind == "InsertIntoStatement":
        if plan.partitionSpec().nonEmpty() or plan.byName():
            raise ValueError(
                "INSERT ... PARTITION (...) / BY NAME are not supported: "
                + _GRAMMAR["INSERT"]
            )
        path = _resolve(_name(plan.table()), tables)
        df = _body_frame(spark, _text(sql, plan.query()), tables)
        names = _seq(plan.userSpecifiedCols())
        if names:
            if len(names) != len(df.columns):
                raise ValueError(
                    f"column list {names} has {len(names)} names but the "
                    f"body produced {len(df.columns)} columns"
                )
            df = df.select(
                *[F.col(c).alias(n) for c, n in zip(df.columns, names)]
            )
            df = _fill_missing(spark, path, df)
        else:
            df = _name_positionally(spark, path, df)
        return snapshot_write(
            df, path, mode="overwrite" if plan.overwrite() else "append"
        )
    if kind in (
        "CreateTable", "CreateTableAsSelect", "ReplaceTable",
        "ReplaceTableAsSelect",
    ):
        return _create_sql(spark, sql, plan, tables, catalog_path)
    out = _ddl_sql(spark, sql, plan, tables, catalog_path)
    if out is not None:
        return out
    raise ValueError(_unsupported(sql))


def _where(sql: str, cond, verb: str) -> "list[tuple]":
    """A DML statement's WHERE as triples; a missing (or constant)
    condition refuses — whole-table rewrites go through the Python
    faces or INSERT OVERWRITE."""
    if cond is None or _kind(cond) == "Literal":
        raise ValueError(f"{verb} needs a WHERE clause: {_REFUSE}")
    return _triples(sql, cond)


def _body_frame(spark: SparkSession, body: str, tables: "dict[str, str]"):
    """An INSERT or CTAS body as a DataFrame. Literal rows are
    driver-bounded: the staging layer writes a pure LocalRelation
    driver-side as one file (or coalesces it to one write task on the
    fallback path) — wrapping it in coalesce(1) here would bury the
    LocalRelation under a Repartition node and force the slow path. A
    query goes through the SELECT face: catalog names in the body
    resolve and re-pin at THIS statement (incl. AS OF time travel)."""
    if re.match(r"^VALUES\b", body, re.I):
        return spark.sql(f"SELECT * FROM ({body})")
    return _select_sql(spark, body, tables)


def _strip_line_comments(script: str) -> str:
    """``--`` line comments removed, with ONE pass that tracks string
    literals the same way :func:`_blank_literals` does (open-quote kind
    owns the span, doubled same-kind quote escapes, backslash escapes):
    a ``--`` inside a literal stays, a quote inside a comment never
    opens a literal."""
    out: "list[str]" = []
    i, n, q = 0, len(script), None
    while i < n:
        c = script[i]
        if q is not None:
            out.append(c)
            if c == "\\":
                if i + 1 < n:
                    out.append(script[i + 1])
                i += 2
                continue
            if c == q:
                if i + 1 < n and script[i + 1] == q:
                    out.append(script[i + 1])
                    i += 2
                    continue
                q = None
            i += 1
            continue
        if c in ("'", '"'):
            q = c
            out.append(c)
            i += 1
            continue
        if c == "-" and i + 1 < n and script[i + 1] == "-":
            while i < n and script[i] != "\n":
                i += 1
            continue  # keep the newline itself (statement spacing)
        out.append(c)
        i += 1
    return "".join(out)


def snapshot_sql_script(
    spark: SparkSession, script: str, tables: "dict[str, str] | str",
    on_error: str = "stop",
) -> "list":
    """Run a multi-statement SQL script through :func:`snapshot_sql` —
    statements split on semicolons OUTSIDE quoted literals, ``--`` line
    comments stripped (outside literals too), empty statements skipped.
    Returns the per-statement results in order. Statements run
    SEQUENTIALLY and a failure stops the script at that statement (the
    raised error names its 1-based position). Each statement is its own
    atomic commit, exactly as if issued one at a time.

    ``on_error="rollback"`` (round 10) adds COMPENSATING rollback: the
    head version of every reachable table is recorded before the first
    statement, and on failure each table the script advanced is
    RESTOREd to its pre-script version (a new O(1) metadata commit —
    the failed statements stay time-travelable until vacuum) and each
    table the script CREATED is dropped (PURGE). This is script-level
    atomicity-by-compensation, NOT isolation: concurrent readers see
    intermediate commits while the script runs (Delta has no
    multi-statement transactions either), and a concurrent writer's
    commit landing mid-script on the same table would be restored away
    with it — run migration scripts the way they are always run, with
    writers paused on the touched tables. The raised error names the
    failing statement and lists what was rolled back.

    ``on_error="atomic"`` (round 11) upgrades compensation to STAGED
    all-or-nothing: every statement's commits land in a
    :class:`~dask_awkward_spark.sources.snapshot.snapshot_txn` overlay
    (later statements read earlier staged state exactly), nothing
    publishes until the whole script succeeded, and then each touched
    table's net result publishes as ONE CAS commit — a failure (or a
    hard crash) anywhere before publish leaves NO observable state:
    no reader ever sees an intermediate version, created tables never
    exist, catalog registrations (the catalog is itself a snapshot
    table) never land. Single-table scripts are thereby fully atomic;
    the remaining window is the multi-table publish loop itself — one
    CAS per table in statement order, so a crash BETWEEN publishes
    commits earlier tables but never a partial table. Statements that
    physically destroy data (``VACUUM``, ``DROP TABLE ... PURGE``)
    cannot be staged and are refused inside an atomic script. A
    multi-statement table advance publishes collapsed (op ``txn``, no
    row-level change files — the CDF refuses crossing it loudly)."""
    if on_error not in ("stop", "rollback", "atomic"):
        raise ValueError(
            f"on_error must be stop|rollback|atomic, got {on_error!r}"
        )
    from .snapshot import _versions, snapshot_restore

    def _table_map() -> "dict[str, str]":
        if isinstance(tables, str):
            from .catalog import snapshot_catalog_tables

            return snapshot_catalog_tables(spark, tables)
        return dict(tables)

    def _vsig(path: str, version: int):
        """Lineage identity: the CONTENT identity (committed_at, op)
        of the pre-script head's manifest. Manifest content is
        immutable once committed, so a normally-advanced table keeps
        it (even across an in-script VACUUM, whose checkpoint
        materialization rewrites the FILE but preserves the logical
        content — a storage stat would false-alarm there); a DROP
        PURGE + re-CREATE restarts the version count with fresh
        timestamps, so version numbers alone cannot distinguish
        'advanced' from 'replaced' (ADVICE r10)."""
        from .snapshot import _read_manifest

        try:
            m = _read_manifest(path, version)
            return (m.get("committed_at"), m.get("op"))
        except Exception:
            return None

    pre_heads: "dict[str, tuple[str, int, object]] | None" = None
    if on_error == "rollback":
        pre_heads = {}
        for name, path in _table_map().items():
            v = _versions(path)
            head = v[-1] if v else 0
            pre_heads[name] = (
                path, head, _vsig(path, head) if head else None
            )
    # ONE scanner for literals AND comments: a quote inside a comment
    # must not open a phantom literal (blanking-first would let
    # "-- don't" swallow every later statement), and a -- inside a
    # literal is content, not a comment
    cleaned = _strip_line_comments(script)
    blank = _blank_literals(cleaned)
    stmts, start = [], 0
    for i, c in enumerate(blank):
        if c == ";":
            stmts.append(cleaned[start:i])
            start = i + 1
    stmts.append(cleaned[start:])

    if on_error == "atomic":
        from .snapshot import snapshot_txn

        # dict mode runs against a PRIVATE copy: CREATE/DROP mutate the
        # mapping immediately, and an aborted script must leave the
        # caller's dict — like everything else — exactly as it was;
        # mutations merge back only after a successful publish
        run_tables = tables if isinstance(tables, str) else dict(tables)
        results = []
        with snapshot_txn():
            n = 0
            for s in stmts:
                if not s.strip():
                    continue
                n += 1
                sb = _blank_literals(s)
                if re.match(r"^\s*VACUUM\b", sb, re.I) or re.match(
                    r"^\s*DROP\s+TABLE\b.*\bPURGE\s*$",
                    sb.strip(),
                    re.I | re.S,  # statements may span lines
                ):
                    raise ValueError(
                        f"script statement {n} ({s.strip()[:60]!r}): "
                        "physical deletion (VACUUM / DROP TABLE PURGE) "
                        "cannot be staged inside on_error='atomic' — "
                        "run it in its own script"
                    )
                try:
                    results.append(snapshot_sql(spark, s, run_tables))
                except Exception as e:
                    msg = (
                        f"script statement {n} ({s.strip()[:60]!r}): {e}"
                        " [atomic: nothing was published]"
                    )
                    try:
                        wrapped = type(e)(msg)
                    except Exception:
                        wrapped = RuntimeError(msg)
                    raise wrapped from e
        if not isinstance(tables, str):
            tables.clear()
            tables.update(run_tables)  # publish succeeded: sync mutations
        return results

    results = []
    n = 0
    for s in stmts:
        if not s.strip():
            continue
        n += 1
        try:
            results.append(snapshot_sql(spark, s, tables))
        except Exception as e:
            rolled = []
            if pre_heads is not None:
                # compensating rollback, best-effort per table: restore
                # advanced tables, drop created ones; a table that
                # fails to roll back is reported, never silently left
                # half-done without a trace
                post = _table_map()
                for name in sorted(set(pre_heads) - set(post)):
                    # the script DROPped it — PURGE is unrecoverable,
                    # but the compensation report must say so
                    rolled.append(
                        f"FAILED to roll back {name}: the script "
                        "dropped it (PURGE is unrecoverable)"
                    )
                for name, path in post.items():
                    try:
                        v = _versions(path)
                        cur = v[-1] if v else 0
                        pre_v, pre_sig = (
                            (pre_heads[name][1], pre_heads[name][2])
                            if name in pre_heads
                            else (0, None)
                        )
                        if pre_v == 0 and cur:
                            # the script created it (or it was a mapped
                            # location with no table yet): remove. Dict
                            # mode passes a COPY — the drop's catalog
                            # bookkeeping must not pop the name out of
                            # the CALLER's mapping (re-running the
                            # fixed script needs it)
                            snapshot_sql(
                                spark,
                                f"DROP TABLE {name} PURGE",
                                tables if isinstance(tables, str)
                                else dict(tables),
                            )
                            rolled.append(f"dropped created table {name}")
                        elif pre_v > 0 and (
                            cur < pre_v or _vsig(path, pre_v) != pre_sig
                        ):
                            # lineage REPLACED (DROP PURGE +
                            # re-CREATE restarts the version count) or
                            # the restore target no longer exists —
                            # restoring into the new lineage would be
                            # an affirmatively false rollback claim
                            # (ADVICE r10)
                            reason = (
                                "the script dropped and recreated it "
                                "(PURGE is unrecoverable)"
                                if _vsig(path, pre_v) is not None
                                else f"pre-script version v{pre_v} no "
                                "longer exists (vacuumed or recreated "
                                "shorter)"
                            )
                            rolled.append(
                                f"FAILED to roll back {name}: {reason}"
                            )
                        elif cur > pre_v > 0:
                            snapshot_restore(path, pre_v)
                            rolled.append(f"restored {name} to v{pre_v}")
                    except Exception as re_:
                        rolled.append(f"FAILED to roll back {name}: {re_}")
            msg = f"script statement {n} ({s.strip()[:60]!r}): {e}"
            if rolled:
                msg += f" [rollback: {'; '.join(rolled)}]"
            try:
                wrapped = type(e)(msg)  # keep the type for except clauses
            except Exception:
                wrapped = RuntimeError(msg)  # exotic constructor signature
            raise wrapped from e
    return results


# words that can FOLLOW a FROM-target without being its alias — used to
# decide whether an AS-OF rewrite must re-alias the pinned view back to
# the original table name (so qualified refs like t.col keep resolving).
# Limitation, documented: an IMPLICIT alias spelled like one of these
# clause keywords must be written with an explicit AS (the heuristic
# would otherwise re-alias over it — failing loudly at parse, never
# silently).
_SQL_CLAUSE_KW = {
    "WHERE", "JOIN", "ON", "GROUP", "ORDER", "LEFT", "RIGHT", "INNER",
    "FULL", "CROSS", "NATURAL", "SEMI", "ANTI", "USING", "UNION",
    "EXCEPT", "INTERSECT", "MINUS", "LIMIT", "OFFSET", "FETCH", "FOR",
    "HAVING", "WINDOW", "SORT", "CLUSTER", "DISTRIBUTE", "QUALIFY",
    "SELECT", "AND", "OR", "WHEN", "THEN", "ELSE", "END", "VERSION",
    "TIMESTAMP", "LATERAL", "PIVOT", "UNPIVOT", "TABLESAMPLE", "VALUES",
}


def _blank_literals(sql: str) -> str:
    """The statement with every quoted literal's CONTENTS blanked to
    spaces (quote characters kept, so spans keep their width and
    positions line up with the original text). Spark's default lexer
    treats BOTH ``'...'`` and ``"..."`` as STRING literals — the
    opening quote kind owns the span, a doubled same-kind quote
    escapes, and backslash escapes anything. Every rewrite/search in
    the SELECT face runs against THIS view of the text, so they all
    share one model of where literals are."""
    out = list(sql)
    i, n, q = 0, len(sql), None
    while i < n:
        c = sql[i]
        if q is not None:
            if c == "\\":
                out[i] = " "
                if i + 1 < n:
                    out[i + 1] = " "
                i += 2
                continue
            if c == q:
                if i + 1 < n and sql[i + 1] == q:
                    out[i] = " "
                    out[i + 1] = " "  # escaped quote inside the literal
                    i += 2
                    continue
                q = None
            else:
                out[i] = " "
        elif c in ("'", '"'):
            q = c
        i += 1
    return "".join(out)


_ANN_RE = None  # compiled lazily below (needs _IDENT)
_ANN_TAIL_RE = re.compile(
    r"^\s*TOP\s+(\d+)"
    r"(?:\s+NPROBE\s+(\d+))?"
    r"(?:\s+RESCORE\s+(\d+))?"
    r"(?:\s+EXCLUDE\s+(SELF|'(?:[^']|'')*'|-?\d+))?"
    r"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
    r"|\s+TIMESTAMP\s+AS\s+OF\s+('(?:[^']|'')*')"
    r"|\s+TAG\s+AS\s+OF\s+('(?:[^']|'')*'))?"
    r"(?:\s+WHERE\s+(.+?))?"  # hybrid filter: LAST, so its string
    r"\s*;?\s*$",             # literals can contain anything
    re.I | re.S,
)


_VIDX_RE = re.compile(
    rf"^\s*CREATE\s+VECTOR\s+INDEX\s+({_IDENT})\s+"
    rf"LOCATION\s+'((?:[^']|'')*)'\s*"
    rf"(?:WITH\s*\()?",
    re.I,
)
_DESC_VIDX_RE = re.compile(
    rf"^\s*DESCRIBE\s+VECTOR\s+INDEX\s+({_IDENT})\s*;?\s*$", re.I
)


def _describe_vector_index(spark: SparkSession, name: str, tables) -> "DataFrame":
    """``DESCRIBE VECTOR INDEX idx``: the index's identity card as
    (key, value) rows — quantizer shape, ranking tier, metadata
    columns, live row/file counts — everything a SQL-only operator
    needs to pick nprobe/rescore or decide a retrain, from the
    manifest alone (zero data-file opens)."""
    import json as _json

    from .snapshot import _read_manifest, _require_versions

    path = _resolve(name, tables)
    head = _require_versions(path)[-1]
    m = _read_manifest(path, head)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(_json.loads(m["schema_json"]))
    cols = set(schema.fieldNames())
    if "vec_id" not in cols or "cell" not in cols:
        raise ValueError(
            f"table at {path} is not an IVF index (no vec_id/cell "
            "columns): build one with CREATE VECTOR INDEX or "
            "ivf_index_add"
        )
    raw_c = (m.get("properties") or {}).get("ivf_centroids")
    cents = _json.loads(raw_c) if raw_c else None
    tier = (
        "ivf-pq (ADC)" if "pqc" in cols
        else "ivf-sq (int8 + exact rescore)" if "q" in cols
        else "ivf-flat (exact)"
    )
    meta = sorted(cols - {"vec_id", "cell", "e", "q", "scale", "pqc", "norm"})
    stats = m.get("stats", {})
    rows = sum(
        (s or {}).get("rows") or 0 for s in stats.values()
    )
    out = [
        ("version", str(head)),
        ("n_cells", str(len(cents)) if cents else "(quantizer not persisted)"),
        ("dim", str(len(cents[0])) if cents else "(quantizer not persisted)"),
        ("tier", tier),
        ("meta_columns", ", ".join(meta) if meta else "(none)"),
        ("files", str(len(m["files"]))),
        ("rows", str(rows)),
        ("vec_id_type", schema["vec_id"].dataType.simpleString()),
    ]
    return local_frame(spark, out, "key string, value string")


def _vector_index_sql(
    spark: SparkSession,
    sql: str,
    tables: "dict[str, str]",
    catalog_path: "str | None",
):
    """``CREATE VECTOR INDEX idx LOCATION 'path' [WITH ('n_cells' =
    '8' | 'centroids' = '<json>', 'quantized' = 'true' | 'pq_m' = 'm'
    [, 'pq_ksub' = 'k', 'pq_residual' = 'true'], 'sample' = 'N',
    'iters' = 'N')] AS SELECT <id>, <vector> [, meta...] FROM
    ...`` — the SQL-only index LIFECYCLE closer (round 12): until now a
    SQL-only consumer could SEARCH an index (``ANN SEARCH``) but never
    BUILD one. The AS body runs through the SELECT face (catalog names
    + AS OF pins work); its first column is the vector id, the second
    the embedding, and every remaining column ingests as hybrid-filter
    METADATA (``ivf_index_add(meta_cols=...)``). The quantizer comes
    from ``'centroids'`` (a JSON literal — reproducible pins, and the
    oracle's parity spelling) or is TRAINED with ``'n_cells'`` k-means
    over a bounded sample of the body (driver-side Lloyd,
    :func:`~dask_awkward_spark.functions.simindex.ivf_train_centroids`
    — deterministic: the sample orders by the id column). The created
    index registers under ``idx`` like CREATE TABLE (catalog
    write-through included), so ``ANN SEARCH idx ...`` works in the
    next statement. Returns the creating commit's version."""
    m = _VIDX_RE.match(sql)
    if m is None:
        return None
    import json as _json

    from ..functions.simindex import ivf_index_add, ivf_train_centroids

    name, location = m.group(1), m.group(2).replace("''", "'")
    rest_off = m.end()
    opts: "dict[str, str]" = {}
    blank = _blank_literals(sql)
    if sql[m.end() - 1] == "(":  # WITH (...) present
        j = _close_paren(blank, m.end() - 1)
        opts = _parse_tblproperties(sql[m.end():j - 1], blank[m.end():j - 1])
        rest_off = j
    am = re.match(r"\s*AS\s+(.+)$", sql[rest_off:], re.I | re.S)
    if am is None:
        raise ValueError(
            "CREATE VECTOR INDEX needs an AS SELECT body: "
            "AS SELECT <id>, <vector> [, meta...] FROM ..."
        )
    body = _select_sql(spark, am.group(1).rstrip().rstrip(";"), tables)
    if len(body.columns) < 2:
        raise ValueError(
            "the AS body must produce (id, vector [, meta...]) — got "
            f"columns {body.columns}"
        )
    unknown = sorted(
        set(opts)
        - {
            "n_cells", "centroids", "quantized", "sample", "iters",
            "pq_m", "pq_ksub", "pq_residual",
        }
    )
    if unknown:
        raise ValueError(
            f"unknown CREATE VECTOR INDEX options {unknown}: expected "
            "'n_cells' | 'centroids', 'quantized', 'pq_m' [, 'pq_ksub', "
            "'pq_residual'], 'sample', 'iters'"
        )
    if ("n_cells" in opts) == ("centroids" in opts):
        raise ValueError(
            "pass exactly ONE of 'n_cells' (train k-means over a "
            "sample) or 'centroids' (a JSON literal quantizer)"
        )
    if "pq_m" in opts and opts.get("quantized", "false").lower() in (
        "true", "1"
    ):
        raise ValueError(
            "pick ONE ranking tier: 'quantized' (int8 SQ) or 'pq_m' "
            "(IVF-PQ); they rank on different columns"
        )
    from .snapshot import _versions

    if _versions(location):
        raise ValueError(
            f"{location} is already a snapshot table: CREATE VECTOR "
            "INDEX builds a fresh index — ingest increments with "
            "ivf_index_add, or DROP TABLE first"
        )
    if name in tables and tables[name] != location:
        raise ValueError(
            f"table name {name!r} is already registered at "
            f"{tables[name]}; pick another index name"
        )
    id_c, e_c = body.columns[0], body.columns[1]
    meta = list(body.columns[2:])
    if "centroids" in opts:
        cents = _json.loads(opts["centroids"])
    else:
        cents = ivf_train_centroids(
            body,
            int(opts["n_cells"]),
            e_col=e_c,
            order_col=id_c,
            sample_rows=int(opts.get("sample", "10000")),
            iters=int(opts.get("iters", "8")),
        )
    quantized = opts.get("quantized", "false").lower() in ("true", "1")
    pq_cb = None
    if "pq_m" in opts:
        # the PRODUCTION ranking tier from pure SQL: train the PQ
        # codebook over the same bounded deterministic sample the
        # coarse quantizer uses; 'pq_residual' encodes x - centroid
        # (IVFADC) against the index's own quantizer
        from ..functions.pq import pq_train

        residual = opts.get("pq_residual", "false").lower() in ("true", "1")
        pq_cb = pq_train(
            body,
            int(opts["pq_m"]),
            ksub=int(opts.get("pq_ksub", "256")),
            e_col=e_c,
            order_col=id_c,
            sample_rows=int(opts.get("sample", "10000")),
            residual_centroids=cents if residual else None,
        )
    v = ivf_index_add(
        location, body, cents, id_col=id_c, e_col=e_c,
        quantized=quantized, pq_codebook=pq_cb, meta_cols=meta or None,
    )
    tables[name] = location
    if catalog_path is not None:
        from .catalog import snapshot_catalog_register

        snapshot_catalog_register(
            spark, catalog_path, name, location, replace=False
        )
    return v


def _ann_sql(spark: SparkSession, sql: str, tables: "dict[str, str]"):
    """``ANN SEARCH t QUERY (<vector literal> | SELECT ...) TOP k
    [NPROBE n] [RESCORE n] [EXCLUDE id|SELF] [VERSION AS OF v |
    TIMESTAMP AS OF '<iso>' | TAG AS OF '<name>'] [WHERE <predicates>]``
    — vector similarity search as ONE SQL
    string against a registered IVF index table (VERDICT r10 item 4:
    the SQL faces covered the full table lifecycle, but a SQL-only
    consumer — the persona the catalog path serves — could not issue a
    vector query).

    ``WHERE`` (round 12, hybrid filtered search) takes the same
    conjunctive predicate grammar as DELETE/UPDATE, over the index's
    metadata columns (``ivf_index_add(meta_cols=...)``): it applies
    INSIDE the cell-pruned candidate scan, before ranking, so ``TOP
    k`` means "the top k among rows passing the filter" — exact at
    full rescore, never an over-fetched post-filter that under-fills
    k. It is the LAST clause (after the pins), so its string literals
    never collide with the tail grammar.

    Two QUERY forms. A numeric literal ``QUERY (0.1, 0.2, ...)`` is
    the interactive lookup: returns ``(vec_id, cell, cos)`` best
    first; ``EXCLUDE <id>`` drops one corpus id BEFORE ranking (the
    self-exclusion spelling when the query vector was taken from the
    corpus — post-filtering would under-fill the top-k). A subquery
    ``QUERY (SELECT id, embedding FROM q)`` is the BATCH form — first
    column the query id, second the vector, resolved through the same
    SELECT face (catalog names + AS OF inside work) — and returns
    ``(q_id, vec_id, cell, cos)``; a large side auto-routes to the
    distributed batch plan, so the realistic 10^5-query re-ranking job
    is one SQL string too. ``EXCLUDE SELF`` there drops each query's
    own id (ids share the corpus id space).

    The quantizer comes from the index itself: the version-pinned
    ``ivf_centroids`` table property that committed atomically WITH the
    rows it assigned (see :func:`~dask_awkward_spark.functions.simindex
    .ivf_centroids`), so the statement needs nothing but the catalog
    name — every probe-pruning / ADC / re-scoring tier of
    :func:`~dask_awkward_spark.functions.simindex.ivf_search` applies
    unchanged (``RESCORE n`` = its ``rescore_k``). The three AS-OF pins
    the SELECT face speaks (VERSION / TIMESTAMP / TAG — round 12 parity)
    time-travel BOTH the rows and the quantizer, so a tag minted before
    a retrain reproduces the old quantizer's answer from one SQL
    string."""
    global _ANN_RE
    if _ANN_RE is None:
        _ANN_RE = re.compile(
            rf"^\s*ANN\s+SEARCH\s+({_IDENT})\s+QUERY\s*\(", re.I
        )
    m = _ANN_RE.match(sql)
    if m is None:
        return None
    import json

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    from ..functions.simindex import ivf_search
    from .snapshot import _read_manifest, _require_versions

    path = _resolve(m.group(1), tables)
    j = _close_paren(_blank_literals(sql), m.end() - 1)
    inner = sql[m.end():j - 1]
    subquery = re.match(r"^\s*\(?\s*(SELECT|WITH)\b", inner, re.I) is not None
    tm = _ANN_TAIL_RE.match(sql[j:])
    if tm is None:
        raise ValueError(
            f"cannot parse ANN SEARCH tail {sql[j:].strip()[:60]!r}: "
            "expected TOP k [NPROBE n] [RESCORE n] [EXCLUDE id|SELF] "
            "[VERSION AS OF v | TIMESTAMP AS OF 'iso' | TAG AS OF "
            "'name'] [WHERE <predicates>]"
        )
    k = int(tm.group(1))
    nprobe = int(tm.group(2)) if tm.group(2) else 2
    rescore = int(tm.group(3)) if tm.group(3) else None
    excl, version = tm.group(4), tm.group(5)
    version = int(version) if version else None
    ts_lit, tag_lit = tm.group(6), tm.group(7)
    # hybrid filter (round 12): the same conjunctive triple grammar
    # the DML faces speak — applied INSIDE the cell-pruned candidate
    # scan, so TOP k means "top k among rows passing the filter"
    ann_where = parse_where(tm.group(8)) if tm.group(8) else None
    if ts_lit is not None or tag_lit is not None:
        # the SELECT face's other two AS-OF forms (round 12, VERDICT
        # r11 item 4): resolve the pin to a version NUMBER up front —
        # the version-pinned ivf_centroids property then time-travels
        # the quantizer with the rows, correct by construction
        from .snapshot import _resolve_version

        as_of = _as_of_seconds(ts_lit[1:-1].replace("''", "'")) if ts_lit else None
        tag = tag_lit[1:-1].replace("''", "'") if tag_lit else None
        version = _resolve_version(path, None, as_of, tag)
    excl_self = excl is not None and excl.upper() == "SELF"
    head = _require_versions(path)[-1]
    m_idx = _read_manifest(path, head if version is None else version)
    schema = StructType.fromJson(json.loads(m_idx["schema_json"]))
    raw_cents = (m_idx.get("properties") or {}).get("ivf_centroids")
    cents = json.loads(raw_cents) if raw_cents else None
    if "vec_id" not in schema.names or "cell" not in schema.names:
        raise ValueError(
            f"table at {path} is not an IVF index (no vec_id/cell "
            "columns): build one with ivf_index_add"
        )
    vid_t = schema["vec_id"].dataType
    vid_is_str = vid_t.simpleString() == "string"
    if subquery:
        if excl is not None and not excl_self:
            raise ValueError(
                "EXCLUDE <id> applies to the vector-literal form; a "
                "subquery batch uses EXCLUDE SELF (each query's own "
                "id is dropped) — filter other ids in the subquery"
            )
        body = _select_sql(spark, inner, tables)
        if len(body.columns) < 2:
            raise ValueError(
                "the QUERY subquery must produce (id, vector) — got "
                f"columns {body.columns}"
            )
        if excl_self:
            # schema-level guard, same spirit as the literal form's
            # EXCLUDE type check: a mismatched id type would make the
            # vec_id != q_id self-filter compare through an implicit
            # (possibly LOSSY) cast and silently drop or keep wrong
            # candidates — exact integer family vs integer family is
            # the only safe cross-type pairing (bigint ids above 2^53
            # collide under a double compare)
            ints = {"tinyint", "smallint", "int", "bigint"}
            q_id_t = body.schema[body.columns[0]].dataType.simpleString()
            v_t = vid_t.simpleString()
            ok = q_id_t == v_t or (q_id_t in ints and v_t in ints)
            if not ok:
                raise ValueError(
                    f"EXCLUDE SELF: the subquery's id column is "
                    f"{q_id_t} but the index's vec_id is {v_t} — "
                    "self-exclusion compares them directly; cast the "
                    "id in the subquery"
                )
        qdf = body.select(
            F.col(body.columns[0]).alias("vec_id"),
            F.col(body.columns[1]).cast("array<double>").alias("e"),
        )
        return (
            ivf_search(
                spark, path, qdf, None, k=k, nprobe=nprobe,
                exclude_self=excl_self, rescore_k=rescore,
                version=version, where=ann_where,
            )
            .orderBy("q_id", F.col("cos").desc(), "vec_id")
        )
    if excl_self:
        raise ValueError(
            "EXCLUDE SELF needs query ids — use the subquery form "
            "(QUERY (SELECT id, e FROM ...)), or EXCLUDE <id> with a "
            "vector literal"
        )
    pieces = [x.strip() for x in inner.split(",")]
    if pieces == [""]:
        raise ValueError("QUERY (...) vector literal is empty")
    if any(not x for x in pieces):
        # an empty element is a typo ('1.0,,2.0' / trailing comma) —
        # skipping it would silently parse a DIFFERENT element count,
        # and a coincidental dimension match would mask it entirely
        raise ValueError(
            f"QUERY (...) vector literal has an empty element "
            f"(doubled or trailing comma?): {inner[:40]!r}"
        )
    try:
        vec = [float(x) for x in pieces]
    except ValueError:
        raise ValueError(
            f"QUERY (...) must be a numeric vector literal or a "
            f"SELECT subquery, got {inner[:40]!r}"
        )
    if cents and len(vec) != len(cents[0]):
        # loud at parse time — a mismatched literal would otherwise
        # surface as null cosines deep inside the probe expressions
        raise ValueError(
            f"QUERY vector has {len(vec)} dims but the index's "
            f"quantizer expects {len(cents[0])}"
        )
    if excl is not None:
        if excl.startswith("'") != vid_is_str:
            # parse-time message, not a Py4J type-verification blowup
            raise ValueError(
                f"EXCLUDE {excl} does not match the index's vec_id "
                f"type ({vid_t.simpleString()}): "
                + ("quote the id ('…')" if vid_is_str
                   else "pass a bare integer id")
            )
        qid = (
            excl[1:-1].replace("''", "'")
            if excl.startswith("'")
            else int(excl)
        )
    else:
        # a label only — exclude_self is off, so collisions are inert
        qid = "__ann_query__" if vid_is_str else -1
    qdf = local_frame(
        spark,
        [(qid, vec)],
        StructType(
            [
                StructField("vec_id", vid_t),
                StructField("e", ArrayType(DoubleType())),
            ]
        ),
    )
    return (
        ivf_search(
            spark, path, qdf, None, k=k, nprobe=nprobe,
            exclude_self=excl is not None, rescore_k=rescore,
            version=version, where=ann_where,
        )
        .select("vec_id", "cell", "cos")
        .orderBy(F.col("cos").desc(), "vec_id")
    )


def _select_sql(spark: SparkSession, sql: str, tables: "dict[str, str]"):
    """SQL read face with time travel (VERDICT r9 item 5): run a
    ``SELECT``/``WITH`` statement whose FROM targets are catalog names,
    optionally suffixed ``VERSION AS OF <n>`` or ``TIMESTAMP AS OF
    '<iso>'`` (naive timestamps read in the system timezone, like
    ``snapshot_read(as_of=...)``'s float form).

    Mechanics: each ``name AS OF`` occurrence (outside string literals)
    is rewritten to a generated temp view pinned at that version via
    :func:`~dask_awkward_spark.sources.snapshot.snapshot_view`; every
    bare catalog name is registered as a head-pinned temp view under
    its own name (no text rewriting — aliases, quoted strings, and
    same-named columns are untouched); the rewritten statement then
    runs as plain ``spark.sql``. Catalog names therefore act as
    reserved table names inside the statement. Returns the result
    DataFrame; results are pinned at call time (Delta's ``SELECT ...
    FROM t VERSION AS OF 3``)."""
    from .snapshot import snapshot_view

    # rewrite one AS-OF occurrence at a time (the replacement shifts
    # positions, so the literal map re-derives from the current text).
    # The SEARCH runs on the literal-blanked view — a table name or an
    # AS-OF suffix inside a quoted string can never match — while the
    # REPLACEMENT splices the real text (the timestamp literal's value
    # is read from the original at the match span; blanking keeps spans
    # position-identical).
    counter, rewritten = 0, sql
    pats = [
        (
            name,
            path,
            re.compile(
                rf"\b{re.escape(name)}\b"
                rf"(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
                rf"|\s+TIMESTAMP\s+AS\s+OF\s+('(?:[^']|'')*')"
                rf"|\s+TAG\s+AS\s+OF\s+('(?:[^']|'')*'))",
                re.I,
            ),
        )
        for name, path in tables.items()
    ]
    progress = True
    while progress:
        progress = False
        blanked = _blank_literals(rewritten)
        for name, path, pat in pats:
            mm = pat.search(blanked)
            if mm is None:
                continue
            counter += 1
            vn = f"__dak_asof_{counter}"
            if mm.group(1) is not None:
                snapshot_view(spark, path, vn, version=int(mm.group(1)))
            elif mm.group(2) is not None:
                # the literal's VALUE comes from the original text
                raw = rewritten[mm.start(2) + 1 : mm.end(2) - 1].replace("''", "'")
                snapshot_view(spark, path, vn, as_of=_as_of_seconds(raw))
            else:
                # TAG AS OF 'name': the engine's own durable pin
                # (snapshot_tag survives vacuum) as a SQL suffix
                raw = rewritten[mm.start(3) + 1 : mm.end(3) - 1].replace("''", "'")
                snapshot_view(spark, path, vn, tag=raw)
            # keep the ORIGINAL name addressable (qualified refs like
            # acct.k must survive the rewrite): alias the pinned view
            # back to the table name — unless the user wrote their own
            # alias right after the AS OF suffix
            tail = blanked[mm.end():]
            nxt = re.match(r"\s+(?:AS\s+)?([A-Za-z_][A-Za-z_0-9]*)", tail, re.I)
            user_alias = bool(nxt) and (
                re.match(r"\s+AS\b", tail, re.I) is not None
                or nxt.group(1).upper() not in _SQL_CLAUSE_KW
            )
            rep_txt = vn if user_alias else f"{vn} AS {name}"
            rewritten = rewritten[: mm.start()] + rep_txt + rewritten[mm.end():]
            progress = True
            break

    # bare catalog names register head-pinned views under their own
    # name. Search the blanked text (same literal model as the rewrite)
    # with the INJECTED "AS <name>" aliases scrubbed — a purely
    # historical AS-OF read must not register (or clobber) a head view
    # for a name the user's own text never references bare.
    scrub = re.sub(
        r"__dak_asof_\d+\s+AS\s+[A-Za-z_][A-Za-z_0-9]*",
        " ",
        _blank_literals(rewritten),
        flags=re.I,
    )
    for name in sorted(tables):
        if re.search(rf"\b{re.escape(name)}\b", scrub, re.I):
            # head-pinned at call time — commits landing mid-query never
            # shift the result (re-run to follow the head)
            snapshot_view(spark, tables[name], name)
    return spark.sql(rewritten)


_HISTORY_RE = re.compile(rf"^\s*DESCRIBE\s+HISTORY\s+({_IDENT})\s*;?\s*$", re.I)
_DETAIL_RE = re.compile(rf"^\s*DESCRIBE\s+DETAIL\s+({_IDENT})\s*;?\s*$", re.I)
_FILES_RE = re.compile(rf"^\s*DESCRIBE\s+FILES\s+({_IDENT})\s*;?\s*$", re.I)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+({_IDENT})"
    rf"(?:\s+WHERE\s+(.+?))?"
    rf"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$",
    re.I | re.S,
)
_VACUUM_RE = re.compile(
    rf"^\s*VACUUM\s+({_IDENT})"
    rf"(?:\s+RETAIN\s+(\d+)\s+HOURS)?(?:\s+KEEP\s+LAST\s+(\d+))?"
    rf"(?:\s+(DRY\s+RUN))?\s*;?\s*$",
    re.I,
)
# Spark's grammar has no partition-spec evolution statement
_PSPEC_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_IDENT})\s+SET\s+PARTITION\s+SPEC\s*\(", re.I
)
_RESTORE_RE = re.compile(
    rf"^\s*RESTORE\s+(?:TABLE\s+)?({_IDENT})\s+(?:TO\s+)?"
    rf"(?:VERSION\s+AS\s+OF\s+(\d+)"
    rf"|TIMESTAMP\s+AS\s+OF\s+'((?:[^']|'')*)'"
    rf"|TAG\s+AS\s+OF\s+'((?:[^']|'')*)')\s*;?\s*$",
    re.I,
)


def _maintenance_sql(spark: SparkSession, sql: str, tables: "dict[str, str]"):
    """Delta's maintenance statements as strings, routed to the Python
    faces (None when ``sql`` is not one of them):

    - ``DESCRIBE HISTORY t`` → :func:`snapshot_history` (a DataFrame).
    - ``OPTIMIZE t [WHERE <triples>] [ZORDER BY (c1, c2)]`` →
      :func:`snapshot_compact` (returns the new version; the WHERE
      scope speaks the same triple vocabulary as DML).
    - ``VACUUM t [RETAIN n HOURS] [KEEP LAST n] [DRY RUN]`` →
      :func:`snapshot_vacuum` (returns its stats dict; defaults match
      the Python face — 24 h retention, keep the head).
    - ``RESTORE [TABLE] t [TO] VERSION AS OF n | TIMESTAMP AS OF
      '<iso>' | TAG AS OF 'name'`` → :func:`snapshot_restore` (returns
      the new version; timestamp resolves via ``snapshot_version_at``,
      tag via the table's vacuum-proof pins).
    - ``ALTER TABLE t SET PARTITION SPEC (c, days(ts), ...)`` →
      :func:`snapshot_set_partition_spec` (returns the new version)."""
    from .snapshot import (
        snapshot_compact,
        snapshot_history,
        snapshot_restore,
        snapshot_vacuum,
    )

    m = _HISTORY_RE.match(sql)
    if m:
        return snapshot_history(spark, _resolve(m.group(1), tables))
    m = _DETAIL_RE.match(sql)
    if m:
        return _describe_detail(spark, _resolve(m.group(1), tables))
    m = _FILES_RE.match(sql)
    if m:
        from .snapshot import snapshot_files

        return snapshot_files(spark, _resolve(m.group(1), tables))
    m = _PSPEC_RE.match(sql)
    if m:
        from .snapshot import snapshot_set_partition_spec

        blank = _blank_literals(sql)
        j = _close_paren(blank, m.end() - 1)
        if blank[j:].strip().rstrip(";").strip():
            raise ValueError(
                f"unparsed trailing text after PARTITION SPEC: "
                f"{sql[j:].strip()[:40]!r}"
            )
        cols = [
            sql[m.end() + lo:m.end() + hi].strip()
            for lo, hi in _top_level_comma_spans(blank[m.end():j - 1])
        ]
        return snapshot_set_partition_spec(_resolve(m.group(1), tables), cols)
    m = _OPTIMIZE_RE.match(sql)
    if m:
        table, where_sql, zorder = m.group(1), m.group(2), m.group(3)
        zcols = None
        if zorder is not None:
            zcols = [c.strip() for c in zorder.split(",") if c.strip()]
            if not zcols:
                raise ValueError(
                    "OPTIMIZE ... ZORDER BY needs at least one column"
                )
        return snapshot_compact(
            spark,
            _resolve(table, tables),
            where=parse_where(where_sql) if where_sql else None,
            zorder_by=zcols,
        )
    m = _VACUUM_RE.match(sql)
    if m:
        table, hours, keep, dry = m.groups()
        kw = {"dry_run": dry is not None}
        if hours is not None:
            kw["retain_seconds"] = int(hours) * 3600.0
        if keep is not None:
            kw["keep_last"] = int(keep)
        return snapshot_vacuum(_resolve(table, tables), **kw)
    m = _RESTORE_RE.match(sql)
    if m:
        from .snapshot import _resolve_version

        path = _resolve(m.group(1), tables)
        if m.group(2) is not None:
            version = int(m.group(2))
        else:
            # the SAME resolver every read face uses — SQL RESTORE and
            # SELECT ... AS OF must report identical errors
            as_of = tag = None
            if m.group(3) is not None:
                as_of = _as_of_seconds(m.group(3).replace("''", "'"))
            else:
                tag = m.group(4).replace("''", "'")
            version = _resolve_version(path, None, as_of, tag)
        return snapshot_restore(path, version)
    return None


def _describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """``DESCRIBE DETAIL t`` (Delta parity): one row of table-level
    metadata straight from the head manifest — METADATA-ONLY except for
    the file-size sum (one stat per live data file, no data read)."""
    import os as _os

    from .snapshot import _read_manifest, _require_versions, _fs

    versions = _require_versions(path)
    m = _read_manifest(path, versions[-1])
    size = 0
    stats = m.get("stats", {})
    for f in m["files"]:
        b = (stats.get(f) or {}).get("bytes")
        if b is not None:
            size += b  # recorded at stage time (round 10): no stat call
            continue
        try:
            size += _fs().size(_os.path.join(path, f))
        except Exception:
            continue  # a racing vacuum must not fail an inspect
    row = {
        "format": "snapshot",
        "location": path,
        "version": m["version"],
        "num_versions": len(versions),
        "committed_at": float(m.get("committed_at") or 0.0),
        "num_files": len(m["files"]),
        "size_bytes": size,
        "partition_columns": list(m.get("partition_by") or []),
        "stats_columns": list(m.get("stats_columns") or []),
        "bloom_columns": sorted((m.get("bloom_ndv") or {})),
        "constraints": sorted((m.get("constraints") or {})),
        "properties": dict(m.get("properties") or {}),
        "schema_ddl": m["schema_ddl"],
    }
    return local_frame(
        spark,
        [tuple(row.values())],
        "format string, location string, version bigint, "
        "num_versions bigint, committed_at double, num_files bigint, "
        "size_bytes bigint, partition_columns array<string>, "
        "stats_columns array<string>, bloom_columns array<string>, "
        "constraints array<string>, properties map<string,string>, "
        "schema_ddl string",
    )


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash is Spark's escape
    character, so it doubles too)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _render_pred_value(v) -> str:
    """One constraint predicate value back as WHERE-grammar SQL (the
    inverse of :func:`_value`)."""
    if isinstance(v, (list, tuple)):
        return "(" + ", ".join(_render_pred_value(x) for x in v) + ")"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return _sql_str(v)
    return repr(v)


def _show_tblproperties(spark: SparkSession, path: str) -> DataFrame:
    """``SHOW TBLPROPERTIES t``: the engine's sticky specs as (key,
    value) rows, the SAME vocabulary TBLPROPERTIES accepts at CREATE —
    stats_columns rendered LOGICAL (the stored physical names never
    leak), one ``bloom.<col>`` row per bloom column."""
    from .snapshot import _mapping_physical, _read_manifest, _require_versions

    m = _read_manifest(path, _require_versions(path)[-1])
    rows = []
    if m.get("stats_columns"):
        inv = {p: l for l, p in _mapping_physical(m).items()}
        rows.append((
            "stats_columns",
            ",".join(
                inv.get(c.partition(".")[0], c.partition(".")[0])
                + c.partition(".")[1] + c.partition(".")[2]
                for c in m["stats_columns"]
            ),
        ))
    for c, ndv in sorted((m.get("bloom_ndv") or {}).items()):
        rows.append((f"bloom.{c}", str(ndv)))
    for k, v in sorted((m.get("properties") or {}).items()):
        rows.append((k, v))  # opaque user properties, verbatim
    return local_frame(spark, rows or [], "key string, value string")


def _show_create_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    """``SHOW CREATE TABLE t``: render a statement SCRIPT that recreates
    the table's CURRENT definition through this module's own grammar
    (column names are LOGICAL — physical mapping internals never leak;
    CHECK constraints render as ALTER TABLE statements after the
    CREATE, so run the output through :func:`snapshot_sql_script`).
    One row, one ``createtab_stmt`` column (Spark's convention)."""
    import json as _json

    from pyspark.sql.types import StructType as _St

    from .snapshot import (
        _decode_pred_value,
        _mapping_physical,
        _read_manifest,
        _require_versions,
    )

    m = _read_manifest(path, _require_versions(path)[-1])
    schema = _St.fromJson(_json.loads(m["schema_json"]))
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    stmt = f"CREATE TABLE {name} ({cols})"
    if m.get("partition_by"):
        stmt += f"\nPARTITIONED BY ({', '.join(m['partition_by'])})"
    props = []
    if m.get("stats_columns"):
        # stored physical; render logical so the statement round-trips
        inv = {p: l for l, p in _mapping_physical(m).items()}

        def logical(leaf: str) -> str:
            head, dot, rest = leaf.partition(".")
            return inv.get(head, head) + dot + rest

        props.append(
            "'stats_columns' = "
            + _sql_str(",".join(logical(c) for c in m["stats_columns"]))
        )
    for c, ndv in sorted((m.get("bloom_ndv") or {}).items()):
        props.append(f"'bloom.{c}' = '{ndv}'")
    for k, v in sorted((m.get("properties") or {}).items()):
        if k == "ivf_centroids":
            # engine-owned identity (now a reserved key): rendering it
            # would make the replayed CREATE refuse — and a replayed
            # empty table is not an index anyway (ivf_index_add
            # re-persists the quantizer with the first ingest)
            continue
        props.append(f"{_sql_str(k)} = {_sql_str(v)}")
    if props:
        stmt += f"\nTBLPROPERTIES ({', '.join(props)})"
    stmt += f"\nLOCATION {_sql_str(path)};"
    for cname, triples in sorted((m.get("constraints") or {}).items()):
        cond = " AND ".join(
            f"{c} {op.upper()} {_render_pred_value(_decode_pred_value(v))}"
            for c, op, v in triples
        )
        stmt += f"\nALTER TABLE {name} ADD CONSTRAINT {cname} CHECK ({cond});"
    return local_frame(spark, [(stmt,)], "createtab_stmt string")


def _close_paren(blank: str, i: int) -> int:
    """Index just past the ')' matching the '(' at ``blank[i]`` —
    depth-counted on the BLANKED text, so parens inside quoted
    literals never miscount."""
    depth = 0
    for j in range(i, len(blank)):
        if blank[j] == "(":
            depth += 1
        elif blank[j] == ")":
            depth -= 1
            if depth == 0:
                return j + 1
    raise ValueError(f"unbalanced '(' at position {i}")


def _parse_tblproperties(real: str, blank: str) -> "dict[str, str]":
    """The ``'key' = 'value'`` pairs inside a TBLPROPERTIES span
    (both spans WITHOUT the outer parens). Doubled quotes escape — the
    form SHOW CREATE TABLE emits for values containing ``'``, so its
    output replays through this parser."""
    props = {}
    for lo, hi in _top_level_comma_spans(blank):
        pm = re.match(
            r"^\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$", real[lo:hi]
        )
        if pm is None:
            raise ValueError(
                f"cannot parse TBLPROPERTIES item {real[lo:hi].strip()!r}: "
                "expected 'key' = 'value' (single-quoted both sides)"
            )
        props[pm.group(1).replace("''", "'")] = pm.group(2).replace("''", "'")
    return props


def _top_level_comma_spans(blank: str) -> "list[tuple[int, int]]":
    """(start, end) spans between depth-0 commas of a blanked span."""
    spans, depth, start = [], 0, 0
    for j, c in enumerate(blank):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            spans.append((start, j))
            start = j + 1
    spans.append((start, len(blank)))
    return [s for s in spans if blank[s[0]:s[1]].strip()]


def _apply_tblproperties(props: "dict[str, str]"):
    """Split a TBLPROPERTIES dict three ways: the engine's sticky table
    specs — ``stats_columns`` (comma-separated leaf list, Delta's
    dataSkippingStatsColumns analog) and ``bloom.<col>`` (expected NDV,
    the parquet bloom spec) — and everything else as OPAQUE user
    properties (round 10, Delta parity: owner tags, pipeline markers;
    stored verbatim in the manifest, never dropped, rendered by SHOW
    TBLPROPERTIES / SHOW CREATE TABLE)."""
    stats_cols, bloom, user = None, {}, {}
    for k, v in props.items():
        if k.lower() == "stats_columns":
            stats_cols = [c.strip() for c in v.split(",") if c.strip()]
        elif k.lower().startswith("bloom."):
            col = k[len("bloom."):]
            try:
                bloom[col] = int(v)
            except ValueError:
                raise ValueError(
                    f"TBLPROPERTIES {k!r} must be an integer expected-NDV, "
                    f"got {v!r}"
                )
        else:
            user[k] = v
    return stats_cols, (bloom or None), (user or None)

def _create_sql(spark, sql, plan, tables, catalog_path):
    """``CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [(coldefs)]
    [PARTITIONED BY (...)] [TBLPROPERTIES (...)] LOCATION 'path'
    [AS SELECT ...]`` from Spark's parsed CreateTable / ReplaceTable
    (``...AsSelect``) node (OR REPLACE = full redefinition: one atomic
    overwrite, the statement's specs win, constraints drop). The
    declared-schema form routes to
    :func:`~..sources.snapshot.snapshot_create`; the CTAS form commits
    the body's rows as the creating version (CAS'd, like the Python
    face). Registers the name in the session map (and the persistent
    catalog when ``tables`` was given as a catalog path)."""
    import json

    from pyspark.sql.types import StructType

    from .snapshot import SnapshotConflictError, snapshot_create, snapshot_write, _versions

    kind, name = _kind(plan), _name(plan)
    replace = kind.startswith("Replace")
    if replace and not plan.orCreate():
        raise ValueError(
            "REPLACE TABLE is spelled CREATE OR REPLACE TABLE here: "
            + _GRAMMAR["CREATE"]
        )
    if_not_exists = not replace and plan.ignoreIfExists()
    spec = plan.tableSpec()
    location = _opt(spec.location())
    if location is None:
        raise ValueError(
            "CREATE TABLE needs LOCATION '<path>' (this engine's tables "
            "live at explicit paths; the catalog maps names to them)"
        )
    if not location:
        raise ValueError("LOCATION path must be non-empty")
    props = _props(spec.properties())
    stats_cols, bloom, uprops = _apply_tblproperties(props)
    # the engine's spec vocabulary: a bare column, days/month/year/hour
    # (ts), bucket(n, c), truncate(w, c) — arguments in written order
    singular = {"months": "month", "years": "year", "hours": "hour"}
    pb = []
    for t in _seq(plan.partitioning()):
        args = ", ".join(a.toString() for a in t.arguments())
        tname = singular.get(t.name(), t.name())
        pb.append(args if tname == "identity" else f"{tname}({args})")
    pb = pb or None
    existing = tables.get(name)
    if existing is not None and existing != location:
        raise ValueError(
            f"table {name!r} is already registered at {existing!r}; "
            f"CREATE at {location!r} would make the name ambiguous — "
            "DROP TABLE it first or pick another name"
        )
    aliased = sorted(n for n, p in tables.items() if p == location and n != name)
    if aliased:
        raise ValueError(
            f"location {location!r} is already registered as table "
            f"{aliased[0]!r}; a second name for the same path would "
            "alias live data (and DROP ... PURGE under either name "
            "would destroy the other's table) — use the existing name"
        )
    if kind.endswith("AsSelect"):
        df = schema = None
        if not (if_not_exists and _versions(location)):  # else skip the body
            df = _body_frame(spark, _text(sql, plan.query()), tables)
    else:
        schema = StructType.fromJson(json.loads(plan.tableSchema().json()))
        if not schema.fields:
            raise ValueError(
                "CREATE TABLE needs a (column list) or AS SELECT — an "
                "empty table cannot infer a schema"
            )
        # empty LocalRelation frame: one write task, no Python worker
        # stage (session.local_frame)
        df = local_frame(spark, [], schema)
    if replace:
        # OR REPLACE: a full redefinition — the statement's specs WIN
        # (explicit empties reset the sticky ones), CHECK constraints
        # drop (the old definition may reference columns the new
        # schema lacks); old versions stay time-travelable until vacuum
        version = snapshot_write(
            df, location, mode="overwrite",
            partition_by=pb or [], bloom_by=bloom or {},
            stats_columns=stats_cols or [], properties=uprops or {},
            _reset_constraints=True,
        )
    elif schema is not None:
        version = snapshot_create(
            spark, location, schema, partition_by=pb, bloom_by=bloom,
            stats_columns=stats_cols, properties=uprops,
            if_not_exists=if_not_exists,
        )
    elif df is None:
        version = _versions(location)[-1]
    else:
        try:
            version = snapshot_write(
                df, location, mode="append", expect_head=0,
                partition_by=pb, bloom_by=bloom,
                stats_columns=stats_cols, properties=uprops,
            )
        except SnapshotConflictError:
            if not if_not_exists:
                raise
            version = _versions(location)[-1]
    tables[name] = location
    if catalog_path is not None:
        from .catalog import snapshot_catalog_register

        # create-only write-through: two concurrent CREATEs of the same
        # name at different locations both read an empty catalog — the
        # gated register makes the later one FAIL instead of silently
        # orphaning the earlier table
        snapshot_catalog_register(
            spark, catalog_path, name, location, replace=False
        )
    return version


def _ddl_sql(spark, sql, plan, tables, catalog_path):
    """DROP TABLE [IF EXISTS] [PURGE], ALTER TABLE (ADD COLUMNS /
    RENAME COLUMN / DROP COLUMN / ALTER COLUMN TYPE / SET|UNSET
    TBLPROPERTIES / ADD|DROP CONSTRAINT) and SHOW TABLES|TBLPROPERTIES|
    CREATE TABLE|PARTITIONS from Spark's parsed plan node (None for any
    other node). DDL mutates the passed ``tables`` mapping in place
    (DROP unregisters) and writes through to the persistent catalog
    when ``tables`` was given as a catalog path."""
    from .snapshot import (
        snapshot_add_columns,
        snapshot_add_constraint,
        snapshot_alter_column_type,
        snapshot_drop_column,
        snapshot_drop_constraint,
        snapshot_partitions,
        snapshot_rename_column,
        snapshot_set_properties,
        snapshot_set_stats_columns,
    )

    kind = _kind(plan)
    if kind == "ShowTables":
        return local_frame(
            spark, sorted(tables.items()) or [], "name string, path string"
        )
    alter = re.match(r"\s*ALTER\s+TABLE\b", sql, re.I) is not None
    if not alter and kind not in (
        "DropTable", "ShowTableProperties", "ShowCreateTable", "ShowPartitions"
    ):
        return None
    name = _name(plan)
    if kind == "DropTable":
        if name not in tables:
            if plan.ifExists():
                return {"dropped": None, "path": None, "purged": False}
            raise ValueError(
                f"unknown table {name!r} (have {sorted(tables)}); "
                "DROP TABLE IF EXISTS to make this a no-op"
            )
        path, purge = tables[name], bool(plan.purge())
        if purge:
            # refuse destroying a path another registered name still
            # points at (aliases can predate the CREATE-time guard)
            aliased = sorted(
                n for n, p in tables.items() if p == path and n != name
            )
            if aliased:
                raise ValueError(
                    f"cannot PURGE {name!r}: table(s) {aliased} are "
                    f"registered at the same location {path!r} — drop "
                    "them first, or drop without PURGE"
                )
        tables.pop(name)
        if catalog_path is not None:
            from .catalog import snapshot_catalog_unregister

            snapshot_catalog_unregister(spark, catalog_path, name)
        if purge:
            from .snapshot import _txn_overlay
            from .storage import active

            if _txn_overlay() is not None:
                # the layer guard, not just the script-face regex:
                # physical deletion cannot be staged or rolled back
                raise ValueError(
                    f"cannot PURGE {name!r} inside a snapshot_txn: "
                    "physical deletion cannot be staged — run it "
                    "outside the transaction"
                )
            active().delete_prefix(path)
        return {"dropped": name, "path": path, "purged": purge}
    if kind == "ShowTableProperties":
        return _show_tblproperties(spark, _resolve(name, tables))
    if kind == "ShowCreateTable":
        return _show_create_table(spark, name, _resolve(name, tables))
    if kind == "ShowPartitions":
        return snapshot_partitions(spark, _resolve(name, tables))
    path = _resolve(name, tables)
    if kind == "AddColumns":
        return snapshot_add_columns(path, ", ".join(
            ".".join(_seq(c.name())) + " " + c.dataType().catalogString()
            for c in _seq(plan.columnsToAdd())
        ))
    if kind == "RenameColumn":
        return snapshot_rename_column(
            path, ".".join(_seq(plan.column().name())), plan.newName()
        )
    if kind == "DropColumns" and plan.columnsToDrop().size() == 1:
        return snapshot_drop_column(
            path, ".".join(_seq(plan.columnsToDrop().apply(0).name()))
        )
    # one ALTER COLUMN spec carries one action; TYPE is the one spoken
    specs = _seq(plan.specs()) if kind == "AlterColumns" else []
    if len(specs) == 1 and specs[0].newDataType().isDefined():
        # metadata-only lossless widening (round 10): the Python face
        # validates the lattice and refuses narrowing
        return snapshot_alter_column_type(
            path,
            ".".join(_seq(specs[0].column().name())),
            specs[0].newDataType().get().catalogString(),
        )
    if kind == "SetTableProperties":
        props = _props(plan.properties())
        stats_cols, bloom, uprops = _apply_tblproperties(props)
        if bloom is not None:
            raise ValueError(
                "bloom.<col> applies at CREATE/write time (the spec rides "
                "on data commits); SET TBLPROPERTIES changes "
                "'stats_columns' and opaque user keys metadata-only — "
                "restate blooms on the next snapshot_write"
            )
        if stats_cols is not None and uprops is not None:
            raise ValueError(
                "SET TBLPROPERTIES mixes the reserved 'stats_columns' "
                "spec with user properties: they commit through "
                "different faces and one statement would need two "
                "non-atomic versions — split into two ALTER statements"
            )
        if stats_cols is not None:
            return snapshot_set_stats_columns(path, stats_cols or None)
        return snapshot_set_properties(path, uprops)
    if kind == "UnsetTableProperties":
        # unsetting a missing key is always a no-op (the Python face's
        # contract) — IF EXISTS is accepted for SQL-compat spelling
        return snapshot_set_properties(path, unset=[
            k.removeprefix(_KEY_PREFIX) for k in _seq(plan.propertyKeys())
        ])
    if kind == "AddCheckConstraint":
        cc = plan.checkConstraint()
        return snapshot_add_constraint(
            spark, path, cc.userProvidedName(), _triples(sql, cc.child())
        )
    if kind == "DropConstraint":
        return snapshot_drop_constraint(path, plan.name())
    raise ValueError(
        f"unsupported ALTER TABLE action in {sql.strip()[:60]!r}: the DDL "
        f"face speaks {_GRAMMAR['ALTER']}"
    )


def _merge_sql(spark: SparkSession, sql: str, plan, tables: "dict[str, str]"):
    """``MERGE INTO`` from Spark's parsed MergeIntoTable node. Every
    CONDITION and ASSIGNMENT passes through VERBATIM (the user's text)
    to :func:`snapshot_merge`, which already takes them as Spark SQL
    strings over the ``t``/``s`` row structs — so the target alias must
    be ``t`` and the source alias ``s`` (Delta's docs convention), and
    the ON clause must be conjunctive ``t.k = s.k`` equi-keys. WHEN NOT
    MATCHED takes ``[AND cond] THEN INSERT *`` (full row) or the
    column-list ``INSERT (cols) VALUES (exprs)`` — expressions over
    ``s``, unlisted columns NULL, join keys kept from the source."""
    from .snapshot import snapshot_merge, snapshot_read

    path = _resolve(_name(plan), tables)
    src = plan.sourceTable()
    for node, alias in ((plan.targetTable(), "t"), (src, "s")):
        if _kind(node) == "SubqueryAlias" and node.alias().lower() != alias:
            raise ValueError(
                f"MERGE aliases are fixed to t (target) and s (source), "
                f"got {node.alias()!r}: conditions pass verbatim into "
                "snapshot_merge, which names the row structs t and s"
            )
    on = []
    for part in _conjuncts(plan.mergeCondition()):
        keys = {}
        if _kind(part) == "EqualTo":
            for side in (part.left(), part.right()):
                q = _seq(side.nameParts()) if _kind(side) == "UnresolvedAttribute" else []
                if len(q) == 2:
                    keys[q[0].lower()] = q[1]
        if set(keys) != {"t", "s"} or keys["t"] != keys["s"]:
            raise ValueError(
                f"MERGE ON must be ANDed t.<k> = s.<k> equi-keys with the "
                f"same name on both sides, got {_text(sql, part)!r}"
            )
        on.append(keys["t"])

    def cond(action):
        c = _opt(action.condition())
        return None if c is None else _text(sql, c)

    def assigns(action):
        pairs = [
            (".".join(_seq(a.key().nameParts())), _text(sql, a.value()))
            for a in _seq(action.assignments())
        ]
        cols = [c[2:] if c.startswith("t.") else c for c, _ in pairs]
        if len(set(cols)) != len(cols):
            raise ValueError(
                f"duplicate columns in MERGE assignment list {cols}: a "
                "dict would silently keep only the last value"
            )
        return dict(zip(cols, (v for _, v in pairs)))  # verbatim SQL over t/s

    def clause(action):
        k = _kind(action)
        if k == "DeleteAction":
            return (cond(action), "delete", None)
        # UPDATE SET * copies the whole source row
        return (cond(action), "update", None if k == "UpdateStarAction" else assigns(action))

    not_matched = None
    nm = _seq(plan.notMatchedActions())
    if len(nm) > 1:
        raise ValueError("duplicate WHEN NOT MATCHED clause")
    if nm:
        c = cond(nm[0])
        if _kind(nm[0]) == "InsertAction":
            not_matched = ("insert", c, assigns(nm[0]))
        else:
            # AND <cond> gates insertion only (snapshot_merge's
            # ("insert", cond) form — matched clauses still see every
            # source row, exactly Delta's semantics)
            not_matched = "insert" if c is None else ("insert", c)
    clauses = [clause(a) for a in _seq(plan.matchedActions())]
    nms = [clause(a) for a in _seq(plan.notMatchedBySourceActions())]
    # resolve the source LAST so structural refusals fire before any
    # catalog lookup can mask them with a missing-view error
    child = src.child() if _kind(src) == "SubqueryAlias" else src
    if _kind(child) != "UnresolvedRelation":
        source = _select_sql(spark, _text(sql, child), tables)
    elif _name(child) in tables:
        source = snapshot_read(spark, tables[_name(child)])
    else:
        source = spark.table(_name(child))
    return snapshot_merge(
        spark,
        path,
        source,
        on=on,
        when_matched=clauses or None,
        when_not_matched=not_matched,
        when_not_matched_by_source=nms or None,
    )


def _head_schema(path: str):
    import json as _json

    from pyspark.sql.types import StructType

    from .snapshot import _read_manifest, _require_versions

    m = _read_manifest(path, _require_versions(path)[-1])
    return StructType.fromJson(_json.loads(m["schema_json"]))


def _name_positionally(spark, path: str, df: DataFrame) -> DataFrame:
    """SQL INSERT without a column list is positional: rename the body's
    columns to the table's schema order and cast each to the table's
    type (SQL store-assignment — VALUES literals arrive as int/decimal;
    under ANSI an out-of-range value still aborts, never truncates)."""
    schema = _head_schema(path)
    if len(df.columns) != len(schema.fields):
        raise ValueError(
            f"INSERT body produced {len(df.columns)} columns but the table "
            f"has {len(schema.fields)} ({schema.fieldNames()}); add a "
            "column list to insert a subset"
        )
    return df.select(
        *[
            F.col(c).cast(f.dataType).alias(f.name)
            for c, f in zip(df.columns, schema.fields)
        ]
    )


def _fill_missing(spark, path: str, df: DataFrame) -> DataFrame:
    """Column-list INSERT: absent columns become typed NULLs, order is
    normalized to the table schema. Unknown names are refused."""
    schema = _head_schema(path)
    types = {f.name: f.dataType for f in schema.fields}
    unknown = sorted(set(df.columns) - set(types))
    if unknown:
        raise ValueError(f"column list names unknown columns {unknown}")
    return df.select(
        *[
            F.col(n).cast(types[n]) if n in df.columns
            else F.lit(None).cast(types[n]).alias(n)
            for n in schema.fieldNames()
        ]
    )
