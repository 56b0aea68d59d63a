"""The one comparison of a query's Spark result with its DuckDB twin.

``connect(sf_dir)`` registers the fixture tables as DuckDB views, and
``mismatch(df, con, sql)`` checks, in this order:

1. the column names (as a set: the twins name columns, not positions);
2. each column's type family, from the DuckDB Arrow schema against
   ``to_arrow_type`` of the Spark schema — integer of any width,
   floating, decimal, string, boolean, binary, temporal, and nested
   types compared recursively (a DuckDB ``HUGEINT`` arrives as
   ``decimal128(38,0)`` and is not an integer);
3. the values, rows sorted, floats rounded to ``FLOAT_DP`` places.

``duckdb`` is imported lazily, so the package never needs it.
"""

from __future__ import annotations

import math
import os

import pyarrow as pa

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
FLOAT_DP = 9


def connect(sf_dir: str):
    """A DuckDB connection with one view per fixture table of ``sf_dir``
    (single parquet files, or Spark-written parquet directories)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = (f"read_parquet('{p}/*.parquet')" if os.path.isdir(p)
               else f"'{p}'")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def type_family(t: pa.DataType):
    if pa.types.is_integer(t):
        return "integer"
    if pa.types.is_floating(t):
        return "floating"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if (pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_fixed_size_binary(t)):
        return "binary"
    if pa.types.is_temporal(t):
        return "temporal"
    if (pa.types.is_list(t) or pa.types.is_large_list(t)
            or pa.types.is_fixed_size_list(t)):
        return ("list", type_family(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple((f.name, type_family(f.type)) for f in t))
    if pa.types.is_map(t):
        return ("map", type_family(t.key_type), type_family(t.item_type))
    return str(t)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        v = round(v, FLOAT_DP)
        return 0.0 if v == 0 else v  # -0.0 == 0.0
    if isinstance(v, dict):  # DuckDB struct
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # lists; Spark Row is a tuple
        return tuple(_norm(x) for x in v)
    return v


def mismatch(df, con, sql: str | None) -> str | None:
    """None when the Spark DataFrame ``df`` returns what ``sql`` returns
    on ``con``, else the first difference found. A query without a
    twin (``sql`` None) is a failure, not a rows-only pass."""
    from pyspark.sql.pandas.types import to_arrow_type
    if sql is None:
        return "no oracle SQL"
    got_types = {f.name: to_arrow_type(f.dataType) for f in df.schema}
    tbl = con.sql(sql).fetch_arrow_table()
    exp_types = {f.name: f.type for f in tbl.schema}
    cols = sorted(got_types)
    if cols != sorted(exp_types):
        return f"columns {cols} vs {sorted(exp_types)}"
    for c in cols:
        g, e = got_types[c], exp_types[c]
        if type_family(g) != type_family(e):
            return f"column {c}: type {g} vs {e}"
    order = [df.columns.index(c) for c in cols]
    got = sorted((_norm(tuple(r[i] for i in order)) for r in df.collect()),
                 key=repr)
    exp = sorted((_norm(row) for row in zip(
        *(tbl.column(c).to_pylist() for c in cols))), key=repr)
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    diffs = [(g, e) for g, e in zip(got, exp) if g != e]
    if diffs:
        return f"{len(diffs)} rows differ, first {diffs[:3]}"
    return None
