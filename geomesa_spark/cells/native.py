"""Z2 cell id as a native Catalyst column expression (zero Python).

Same semantics as the numpy kernels in ``cells.z2`` (floor-bin + upper
clamp, Morton interleave, -1 for null/NaN/out-of-range — the reserved-
partition sentinel), but built from Spark SQL bit operations so cell
assignment runs inside whole-stage codegen. The pandas-UDF kernel remains
for array-valued operations (covers, k-rings); hot-path point assignment
uses this expression.

Parity is property-tested against ``cells.z2.cell_id`` in
tests/test_cells_native.py.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from geomesa_spark.cells.z2 import MAX_RES, PARTITION_RES

_LON_MIN, _LON_SPAN = -180.0, 360.0
_LAT_MIN, _LAT_SPAN = -90.0, 180.0


def _bin_sql(v: str, vmin: float, span: float, res: int) -> str:
    n = 1 << res
    return (f"CAST(greatest(least(floor(({v} - {vmin!r}D) / {span!r}D"
            f" * {float(n)!r}D), {n - 1}), 0) AS BIGINT)")


def cell_expr(lon: str, lat: str, res: int = PARTITION_RES) -> Column:
    """Morton cell id of columns (lon, lat) at ``res`` bits/dim; -1 for
    bad rows. One SQL expression, so building it is one JVM call."""
    if not 0 < res <= MAX_RES:
        raise ValueError(f"res must be in (0, {MAX_RES}]")
    x, y = (f"`{c.replace('`', '``')}`" for c in (lon, lat))
    ok = (f"{x} IS NOT NULL AND {y} IS NOT NULL"
          f" AND NOT isnan({x}) AND NOT isnan({y})"
          f" AND {x} >= {_LON_MIN!r}D AND {x} <= {_LON_MIN + _LON_SPAN!r}D"
          f" AND {y} >= {_LAT_MIN!r}D AND {y} <= {_LAT_MIN + _LAT_SPAN!r}D")
    bx = _bin_sql(x, _LON_MIN, _LON_SPAN, res)
    by = _bin_sql(y, _LAT_MIN, _LAT_SPAN, res)
    morton = " | ".join(
        f"shiftleft(shiftrightunsigned({b}, {i}) & 1L, {2 * i + j})"
        for i in range(res) for j, b in enumerate((bx, by)))
    return F.expr(f"CASE WHEN {ok} THEN {morton} ELSE -1L END")


def cell_prefix_expr(cell: Column, from_res: int, to_res: int) -> Column:
    """Truncate a cell id to a coarser resolution (partition prefix)."""
    if to_res > from_res:
        raise ValueError("to_res must be <= from_res")
    return F.when(cell < 0, F.lit(-1).cast("long")).otherwise(
        F.shiftrightunsigned(cell, 2 * (from_res - to_res)).cast("long"))
