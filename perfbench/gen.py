"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (``<dir>/<name>.parquet``,
one row group each) with the column names, types and value domains of
the TPC-H-like test corpus: a star schema (region, nation, customer,
supplier, part, orders, lineitem), an ``events`` stream, a ``documents``
text corpus with planted near-duplicates, and 64-dimensional
``embeddings`` clustered around ten labels.

Everything is drawn from one ``numpy`` generator seeded by ``seed``, so
the same ``(seed, scale)`` always yields byte-identical tables and a
different seed yields different ones. ``scale`` is the TPC-H scale
factor: lineitem has ``6_000_000 * scale`` rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "screw", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
N_LABELS = 10
N_EMBEDDINGS = 2000

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days(rng, n, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    """n midnight timestamps (microseconds) uniform over [lo, hi]."""
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(values) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def make_tables(seed: int, scale: float) -> "dict[str, pa.Table]":
    """All ten tables as pyarrow Tables (deterministic in seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(200, int(50_000 * scale))
    out: "dict[str, pa.Table]" = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_orders, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1))),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, n_line, 900.0, 2100.0), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4))),
    })
    t0 = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.gamma(2.0, 30.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences; every fifth document is a near-copy of an
    earlier one (a few words swapped), so the dedup queries find pairs."""
    words = np.array(WORDS)
    docs: "list[list[str]]" = []
    for i in range(n):
        if i >= 10 and i % 5 == 0:
            base = list(docs[int(rng.integers(0, i))])
            for j in rng.integers(0, len(base), 2):
                base[j] = str(words[rng.integers(0, len(words))])
            docs.append(base)
        else:
            docs.append(list(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
    text = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, N_LABELS, N_EMBEDDINGS)
    centers = rng.normal(0.0, 0.12, (N_LABELS, DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (N_EMBEDDINGS, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> "dict[str, pa.Table]":
    """Write every table to ``out_dir/<name>.parquet``; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, scale)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    return tables


def fingerprint(tables: "dict[str, pa.Table]") -> str:
    """A digest of every table's content (for determinism checks)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()
