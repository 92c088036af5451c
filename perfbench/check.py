"""Order-insensitive comparison of two result tables.

Both sides are normalized column by column to strings with the same
rules: numbers become float64 rounded to 6 decimals (integers and
decimals included, so an engine's integer width never decides a match),
timestamps become epoch microseconds, dates epoch days, NULL a marker.
Rows are then sorted on every column and compared. This is the value
hash discipline of the registry's DuckDB oracles, vectorized with
pyarrow so large results check in milliseconds.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

NULL = "<null>"


def _norm_column(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_timestamp(t):
        col = pc.cast(col, pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = pc.cast(col, pa.date32()).cast(pa.int32())
    elif pa.types.is_dictionary(t):
        col = pc.cast(col, t.value_type)
        return _norm_column(col)
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type) or pa.types.is_decimal(col.type):
        f = pc.cast(col, pa.float64())
        # + 0.0 folds -0.0 into 0.0 before rendering
        col = pc.add(pc.round(f, 6), 0.0)
    return pc.fill_null(pc.cast(col, pa.string()), NULL)


def normalize(table: pa.Table) -> pa.Table:
    """String-normalized copy with columns in name order, rows sorted."""
    names = sorted(table.column_names)
    out = pa.table({n: _norm_column(table.column(n)) for n in names})
    if out.num_rows and names:
        out = out.sort_by([(n, "ascending") for n in names])
    return out


def diff(actual: pa.Table, expected: pa.Table) -> "str | None":
    """None when the tables hold the same rows (any order), else a short
    description of the first difference."""
    if sorted(actual.column_names) != sorted(expected.column_names):
        return f"columns {sorted(actual.column_names)} != {sorted(expected.column_names)}"
    if actual.num_rows != expected.num_rows:
        return f"rows {actual.num_rows} != {expected.num_rows}"
    a, e = normalize(actual), normalize(expected)
    for n in a.column_names:
        if not a.column(n).equals(e.column(n)):
            ne = pc.not_equal(a.column(n), e.column(n))
            i = pc.index(ne, True).as_py()
            return f"column {n} row {i}: {a.column(n)[i]} != {e.column(n)[i]}"
    return None
