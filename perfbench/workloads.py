"""The three benchmark workloads.

Each workload is a closed loop of operations from one client. An
operation is a read (a query, a snapshot read or a search) or a write (a
DML statement or an ingest); its output is checked after its timer
stops. Expected results come from outside the engine — DuckDB oracles, a
plain-Python model of the tables, NumPy brute force — and are computed
outside the timed windows.

- ``nested_scan``: the registry's read queries in a seeded order.
- ``table_dml``: a seeded statement stream over snapshot tables in one
  catalog, through the Python API and through SQL by catalog name, with
  IVF-PQ ingests and searches on one more table, the vector index.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen


@dataclass
class Op:
    kind: str
    category: str  # "read" | "write"
    run: Callable[[], object]
    check: Callable[[object], "str | None"] = lambda _r: None
    path: "str | None" = None  # the snapshot table a statement touches
    where: "list | None" = None  # a pruned read's predicate
    family: "str | None" = None  # a query's kernel family (nested_scan)


class Workload:
    name = "?"
    scale = 0.01
    #: nominal seconds per round on the run's pinned cores: a run measures
    #: max(1, round(seconds / round_s)) whole rounds, so the measured
    #: mix depends on --seconds only, never on the host's speed
    round_s = 10.0

    def __init__(self, spark, seed: int, work_dir: str, data_dir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = data_dir
        self.tr = tracer
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        """Expected-result computation that needs only the inputs."""

    def setup(self) -> None:
        """Fixture tables built through the engine, and warm-up."""

    def round(self) -> "list[Op]":
        """The next round of operations. A round holds every operation
        kind in fixed proportions, in a seeded order with seeded
        arguments, so whole rounds always measure the same mix."""
        raise NotImplementedError

    def finish(self) -> "list[tuple[str, str | None]]":
        """Untimed end-of-run checks as ``(name, error or None)``."""
        return []

    def table_paths(self) -> "list[str]":
        """The snapshot tables whose storage the run reports."""
        return []


# ---------------------------------------------------------------- nested_scan

NESTED_QUERIES = (
    "q1_pricing_summary", "q3_top_orders", "q5_supplier_volume", "q6_revenue",
    "op_sort_inner", "op_combinations", "op_sum_axis1", "op_unflatten",
    "op_sum_axis0_jagged",
    "text_fingerprint", "text_winnowing", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_fuzzy_levenshtein",
    "ev_sessionize", "ev_asof_join",
    "sketch_kmv_distinct", "hist2d_qty_discount",
)

#: query-name prefix -> the kernel family whose query time it reports
FAMILIES = (
    ("op_", "operators"),
    ("text_", "functions.strings"),
    ("dedup_", "functions.curation"),
    ("ev_", "functions.timeseries"),
    ("sketch_", "functions.sketches"),
    ("hist", "functions.sketches"),
    ("q", "queries.tpch"),
)


def family(query: str) -> str:
    return next(f for p, f in FAMILIES if query.startswith(p))


class NestedScan(Workload):
    name = "nested_scan"
    scale = 0.01
    round_s = 13.0

    def prepare(self):
        import duckdb

        from dask_awkward_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        oracles = all_oracles()
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, t + '.parquet')}'"
            )
        self.expected = {q: con.sql(oracles[q]).arrow() for q in NESTED_QUERIES}
        con.close()

    def _run(self, q: str) -> pa.Table:
        with self.tr.span("queries.build", "queries"):
            df = self.queries[q](self.spark, self.data_dir)
        with self.tr.span("queries.execute", "queries"):
            return df.toArrow()

    def _op(self, q: str) -> Op:
        return Op(q, "read", lambda: self._run(q),
                  lambda got: check.diff(got, self.expected[q]),
                  family=family(q))

    def setup(self):
        # three clients compile the cold plans side by side
        with ThreadPoolExecutor(3) as ex:
            list(ex.map(self._run, NESTED_QUERIES))

    def round(self):
        return [self._op(q) for q in self.rng.sample(NESTED_QUERIES, len(NESTED_QUERIES))]


# ------------------------------------------------------------------ table_dml

N_TABLES = 10  # more than the engine's 8-entry manifest and listing caches
INITIAL_ROWS = 1500
SEGS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
DML_SCHEMA = pa.schema([
    ("k", pa.int64()), ("seg", pa.string()), ("bal", pa.float64()),
    ("qty", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("d", pa.date32()),
])
_TS0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
_D0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days

#: statement kind -> (category, statements per round)
DML_KINDS = {
    "read_pruned": ("read", 20),
    "read_version": ("read", 2),
    "read_changes": ("read", 2),
    "write_append": ("write", 1),
    "merge_upsert": ("write", 1),
    "update_cow": ("write", 1),
    "delete_mor": ("write", 1),
    "sql_insert_values": ("write", 1),
    "sql_update": ("write", 1),
    "sql_delete": ("write", 1),
}


class _TableModel:
    """One snapshot table replayed in plain Python: the live rows
    (key -> row tuple) after every version, and each version's
    row-level change count by change type."""

    def __init__(self, name: str, path: str):
        self.name, self.path = name, path
        self.rows: "dict[int, tuple]" = {}
        self.history: "list[dict[int, tuple]]" = []  # index v-1 -> rows at v
        self.changes: "list[dict[str, int]]" = []
        self.next_key = 0

    @property
    def head(self) -> int:
        return len(self.history)

    def commit(self, rows: dict, changes: dict) -> None:
        self.rows = rows
        self.history.append(dict(rows))
        self.changes.append(changes)

    def table(self, rows: "dict | None" = None) -> pa.Table:
        rows = self.rows if rows is None else rows
        ks = sorted(rows)
        cols = list(zip(*(rows[k] for k in ks))) or [[]] * 5
        return pa.table(
            [pa.array(ks, pa.int64())] + [pa.array(c, f.type) for c, f in zip(cols, list(DML_SCHEMA)[1:])],
            schema=DML_SCHEMA,
        )


class TableDml(Workload):
    name = "table_dml"
    round_s = 12.0

    def prepare(self):
        self.vec = VectorIndex(None, self.seed, self.work_dir, self.data_dir, self.tr)
        self.vec.prepare()

    def _new_rows(self, m: _TableModel, n: int) -> "dict[int, tuple]":
        r = self.rng
        out = {}
        for _ in range(n):
            k = m.next_key
            m.next_key += 1
            out[k] = (
                SEGS[r.randrange(5)],
                r.randrange(-99_999, 999_999) / 100.0,
                r.randrange(1, 51),
                _TS0 + r.randrange(0, 30 * 86_400) * 1_000_000,
                _D0 + r.randrange(0, 365),
            )
        return out

    def _frame(self, rows: dict, m: _TableModel):
        return self.spark.createDataFrame(m.table(rows))

    def _key_range(self, m: _TableModel, width: int = 60) -> "tuple[int, int]":
        lo = self.rng.randrange(0, max(1, m.next_key - width))
        return lo, lo + width

    def setup(self):
        from dask_awkward_spark.sources.catalog import snapshot_catalog_register
        from dask_awkward_spark.sources.snapshot import snapshot_write

        root = os.path.join(self.work_dir, "tables")
        self.catalog = os.path.join(root, "_catalog")
        self.models = [_TableModel(f"t{i}", os.path.join(root, f"t{i}")) for i in range(N_TABLES)]
        weights = [1.0 / (rank + 1) ** 1.2 for rank in range(N_TABLES)]
        self.rng.shuffle(weights)
        self.weights = weights
        first = [self._new_rows(m, INITIAL_ROWS) for m in self.models]

        def create(m, rows):
            snapshot_write(self._frame(rows, m).repartitionByRange(4, "k"), m.path)

        with ThreadPoolExecutor(4) as ex:  # independent tables, side by side
            list(ex.map(create, self.models, first))
        for m, rows in zip(self.models, first):
            m.commit(rows, {"insert": len(rows)})
            snapshot_catalog_register(self.spark, self.catalog, m.name, m.path)
        # warm-up: one statement of every kind, replayed in the model too
        for kind in DML_KINDS:
            op = self._make(kind, self.rng.choice(self.models))
            op.check(op.run())
        self.vec.spark = self.spark
        self.vec.setup()

    def table_paths(self):
        return [m.path for m in self.models] + self.vec.table_paths()

    def round(self):
        # made in execution order: each op factory reads and advances the model
        kinds = [k for k, (_, w) in (DML_KINDS | VEC_KINDS).items() for _ in range(w)]
        self.rng.shuffle(kinds)
        return [self.vec._make(k) if k in VEC_KINDS
                else self._make(k, self.rng.choices(self.models, weights=self.weights)[0])
                for k in kinds]

    # each op factory returns the Op and applies its effect to the model
    def _make(self, kind: str, m: _TableModel) -> Op:
        op = getattr(self, "_" + kind)(m)
        op.kind, op.category, op.path = kind, DML_KINDS[kind][0], m.path
        return op

    def _write_append(self, m):
        from dask_awkward_spark.sources.snapshot import snapshot_write

        rows = self._new_rows(m, 40)
        df = self._frame(rows, m)
        m.commit({**m.rows, **rows}, {"insert": len(rows)})
        return Op("", "", lambda: snapshot_write(df, m.path, mode="append"))

    def _merge_upsert(self, m):
        from dask_awkward_spark.sources.snapshot import snapshot_merge

        lo, hi = self._key_range(m, 40)
        upd = {k: (v[0], self.rng.randrange(0, 99_999) / 100.0) + v[2:]
               for k, v in m.rows.items() if lo <= k < hi}
        new = self._new_rows(m, 20)
        src = self._frame({**upd, **new}, m)
        m.commit({**m.rows, **upd, **new},
                 {"update_preimage": len(upd), "update_postimage": len(upd), "insert": len(new)})
        return Op("", "", lambda: snapshot_merge(self.spark, m.path, src, on=["k"]))

    def _update(self, m, sql: bool):
        lo, hi = self._key_range(m)
        delta = self.rng.randrange(1, 500) / 4.0
        hit = {k: (v[0], v[1] + delta) + v[2:] for k, v in m.rows.items() if lo <= k < hi}
        m.commit({**m.rows, **hit},
                 {"update_preimage": len(hit), "update_postimage": len(hit)})
        if sql:
            stmt = f"UPDATE {m.name} SET bal = bal + {delta} WHERE k >= {lo} AND k < {hi}"
            return Op("", "", lambda: self._sql(stmt))
        from pyspark.sql import functions as F

        from dask_awkward_spark.sources.snapshot import snapshot_update

        return Op("", "", lambda: snapshot_update(
            self.spark, m.path, [("k", ">=", lo), ("k", "<", hi)],
            {"bal": F.col("bal") + F.lit(delta)}))

    def _update_cow(self, m):
        return self._update(m, sql=False)

    def _sql_update(self, m):
        return self._update(m, sql=True)

    def _delete(self, m, sql: bool):
        lo, hi = self._key_range(m, 30)
        gone = [k for k in m.rows if lo <= k < hi]
        m.commit({k: v for k, v in m.rows.items() if not lo <= k < hi}, {"delete": len(gone)})
        if sql:
            stmt = f"DELETE FROM {m.name} WHERE k >= {lo} AND k < {hi}"
            return Op("", "", lambda: self._sql(stmt))
        from dask_awkward_spark.sources.snapshot import snapshot_delete

        return Op("", "", lambda: snapshot_delete(
            self.spark, m.path, [("k", ">=", lo), ("k", "<", hi)],
            strategy="merge-on-read"))

    def _delete_mor(self, m):
        return self._delete(m, sql=False)

    def _sql_delete(self, m):
        return self._delete(m, sql=True)

    def _sql_insert_values(self, m):
        rows = self._new_rows(m, 8)
        m.commit({**m.rows, **rows}, {"insert": len(rows)})

        def lit(k, v):
            ts = dt.datetime.fromtimestamp(v[3] / 1e6, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
            d = dt.date(1970, 1, 1) + dt.timedelta(days=v[4])
            return f"({k}, '{v[0]}', {v[1]!r}, {v[2]}, TIMESTAMP'{ts}', DATE'{d}')"

        stmt = f"INSERT INTO {m.name} VALUES " + ", ".join(lit(k, v) for k, v in rows.items())
        return Op("", "", lambda: self._sql(stmt))

    def _sql(self, stmt: str):
        from dask_awkward_spark.sources.sqlface import snapshot_sql

        return snapshot_sql(self.spark, stmt, self.catalog)

    def _read_pruned(self, m):
        from dask_awkward_spark.sources.snapshot import snapshot_read

        lo, hi = self._key_range(m, 100)
        where = [("k", ">=", lo), ("k", "<", hi)]
        want = sum(1 for k in m.rows if lo <= k < hi)
        return Op("", "", lambda: snapshot_read(self.spark, m.path, where=where).count(),
                  lambda got: None if got == want else f"count {got} != {want}",
                  where=where)

    def _read_version(self, m):
        v = self.rng.randrange(1, m.head + 1)
        rows = m.history[v - 1]
        want = (len(rows), sum(r[2] for r in rows.values()))
        stmt = f"SELECT count(*) AS n, sum(qty) AS q FROM {m.name} VERSION AS OF {v}"

        def run():
            r = self._sql(stmt).collect()[0]
            return (r["n"], r["q"] or 0)

        return Op("", "", run, lambda got: None if tuple(got) == want else f"{got} != {want}")

    def _read_changes(self, m):
        from pyspark.sql import functions as F

        from dask_awkward_spark.sources.snapshot import snapshot_changes

        since = max(0, m.head - 3)
        want: "dict[str, int]" = {}
        for ch in m.changes[since:]:
            for t, n in ch.items():
                if n:
                    want[t] = want.get(t, 0) + n

        def run():
            df = snapshot_changes(self.spark, m.path, since=since, row_level=True)
            return {r[0]: r[1] for r in df.groupBy("_change_type").agg(F.count(F.lit(1))).collect()}

        return Op("", "", run, lambda got: None if got == want else f"{got} != {want}")

    def finish(self):
        from dask_awkward_spark.sources.snapshot import snapshot_read

        out = []
        for m in self.models:
            try:
                got = snapshot_read(self.spark, m.path).toArrow()
                out.append((f"final_state.{m.name}", check.diff(got, m.table())))
            except Exception as e:  # noqa: BLE001 — a failed check, not a crash
                out.append((f"final_state.{m.name}", f"{type(e).__name__}: {e}"))
        return out


# ---------------------------------------------------- vector index (table_dml)

N_CELLS = 8
NPROBE = 2
TOP_K = 10
INITIAL_INGEST = 800
INGEST_CHUNK = 40
QUERY_BATCH = 8
PQ_M, PQ_KSUB = 8, 16

#: op kind -> (category, operations per round)
VEC_KINDS = {"ingest": ("write", 1), "search": ("read", 2), "batch_search": ("read", 1)}


class VectorIndex(Workload):
    """IVF-PQ work on one cell-partitioned index table: ``pq_train`` and
    a first ``ivf_index_add`` in set-up, then seeded ingest chunks and
    seeded query batches through ``ivf_search`` on the collected and the
    batch path, at full rescore. Its operations run inside ``table_dml``
    rounds; it is not a workload of its own."""

    def prepare(self):
        emb = pq.read_table(os.path.join(self.data_dir, "embeddings.parquet"))
        self.vec_ids = emb.column("vec_id").to_numpy()
        self.vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        rs = np.random.default_rng(self.seed)
        self.centroids = rs.normal(0.0, 1.0, (N_CELLS, gen.DIM)).round(6).tolist()
        self.order = rs.permutation(len(self.vec_ids))
        self.cent = np.array(self.centroids)
        self.cells = np.argmax(self.vecs @ self.cent.T, axis=1) + 1

    def _frame(self, idx):
        return self.spark.createDataFrame(pa.table({
            "vec_id": pa.array(self.vec_ids[idx], pa.int64()),
            "e": pa.array(list(self.vecs[idx]), pa.list_(pa.float64())),
        }))

    def setup(self):
        from dask_awkward_spark.functions.pq import pq_train
        from dask_awkward_spark.functions.simindex import ivf_index_add

        self.index = os.path.join(self.work_dir, "tables", "ivf_index")
        self.indexed: "list[int]" = []
        self.cursor = 0
        train = self._frame(self.order[:INITIAL_INGEST])
        self.codebook = pq_train(train, m=PQ_M, ksub=PQ_KSUB, order_col="vec_id",
                                 sample_rows=INITIAL_INGEST, iters=4)
        ivf_index_add(self.index, train, self.centroids, e_col="e", pq_codebook=self.codebook)
        self.indexed.extend(self.order[:INITIAL_INGEST].tolist())
        self.cursor = INITIAL_INGEST
        for kind in VEC_KINDS:  # warm-up: one operation of each kind
            op = self._make(kind)
            op.check(op.run())

    def table_paths(self):
        return [self.index]

    def _make(self, kind: str) -> Op:
        op = self._ingest() if kind == "ingest" else self._search(batch=kind == "batch_search")
        op.kind, op.category, op.path = kind, VEC_KINDS[kind][0], self.index
        return op

    def _ingest(self) -> Op:
        from dask_awkward_spark.functions.simindex import ivf_index_add

        if self.cursor + INGEST_CHUNK > len(self.order):  # corpus exhausted: wrap
            self.cursor = INITIAL_INGEST
        idx = self.order[self.cursor:self.cursor + INGEST_CHUNK]
        self.cursor += INGEST_CHUNK
        df = self._frame(idx)
        self.indexed.extend(idx.tolist())
        return Op("", "", lambda: ivf_index_add(
            self.index, df, self.centroids, e_col="e", pq_codebook=self.codebook))

    def _search(self, batch: bool) -> Op:
        from dask_awkward_spark.functions.simindex import ivf_search

        rs = np.random.default_rng(self.rng.randrange(1 << 30))
        base = rs.choice(len(self.vec_ids), QUERY_BATCH, replace=False)
        qv = self.vecs[base] + rs.normal(0.0, 0.01, (QUERY_BATCH, gen.DIM))
        qid = np.arange(QUERY_BATCH, dtype=np.int64) + 10_000_000
        qdf = self.spark.createDataFrame(pa.table({
            "vec_id": pa.array(qid), "e": pa.array(list(qv), pa.list_(pa.float64())),
        }))
        want = self._brute_force(qid, qv)

        def run():
            return ivf_search(self.spark, self.index, qdf, self.centroids, k=TOP_K,
                              nprobe=NPROBE, exclude_self=False, rescore_k=1_000_000,
                              batch=batch).toArrow()

        return Op("", "", run, lambda got: self._check_topk(got, want))

    def _brute_force(self, qid, qv) -> "dict[int, tuple[list[int], dict]]":
        """Exact top-k by cosine among the indexed rows of each query's
        probed cells (best NPROBE by dot, ties to the lower cell): per
        query, the top-k ids and every candidate's cosine."""
        idx = np.array(self.indexed)
        ev, cells, ids = self.vecs[idx], self.cells[idx], self.vec_ids[idx]
        norms = np.linalg.norm(ev, axis=1)
        out = {}
        for q, v in zip(qid, qv):
            probe = sorted(range(N_CELLS), key=lambda c: (-(v @ self.cent[c]), c))[:NPROBE]
            mask = np.isin(cells, [c + 1 for c in probe])
            cos = (ev[mask] @ v) / (norms[mask] * np.linalg.norm(v))
            ranked = sorted(zip(-np.round(cos, 6), ids[mask].tolist()))[:TOP_K]
            out[int(q)] = ([i for _, i in ranked], dict(zip(ids[mask].tolist(), cos)))
        return out

    @staticmethod
    def _check_topk(got: pa.Table, want: dict) -> "str | None":
        """The result's ids per query must be the exact top-k; an id may
        differ only where its cosine ties the k-th within rounding."""
        have: "dict[int, list[int]]" = {}
        for q, i in zip(got.column("q_id").to_pylist(), got.column("vec_id").to_pylist()):
            have.setdefault(q, []).append(i)
        for q, (ids, cos) in want.items():
            top = have.get(q, [])
            if len(top) != len(ids):
                return f"query {q}: {len(top)} results != {len(ids)}"
            kth = cos[ids[-1]]
            odd = set(top) ^ set(ids)
            if any(i not in cos or abs(cos[i] - kth) > 2e-6 for i in odd):
                return f"query {q}: top-{TOP_K} {sorted(top)} != {sorted(ids)}"
        return None


WORKLOADS = {w.name: w for w in (NestedScan, TableDml)}
