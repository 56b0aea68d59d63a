"""Driver-side planning: spatial predicate -> cell-cover partition filter.

The reference's planning pipeline (ECQL -> FilterStrategy -> SFC ranges ->
backend scans; /root/reference/geomesa-index-api/.../planning/
QueryPlanner.scala, FilterSplitter.scala, Z2IndexKeySpace.scala:75-124)
collapses, in Spark, to: extract the query geometry on the driver, compute
its cell cover, and prepend a partition-column IN-filter that Catalyst/
parquet partition pruning handles natively. The exact predicate then refines
the over-selecting cover downstream (strict-bbox semantics,
Z2IndexKeySpace.useFullFilter:126-138).

Short-circuits mirrored from the reference (Z2IndexKeySpace.scala:84-87,
FilterHelper.isFilterWholeWorld:44-51):
- query disjoint from the world -> empty scan,
- whole-world query -> no partition filter at all,
- cover exceeding the range budget -> coarsen, never fail the query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from geomesa_spark.cells import PARTITION_RES, bbox_cover, cell_bounds
from geomesa_spark.geo.model import Geometry, Polygon, flatten
from geomesa_spark.geo.predicates import disjoint as geo_disjoint
from geomesa_spark.geo.predicates import intersects as geo_intersects

_WORLD_BOUNDS = (-180.0, -90.0, 180.0, 90.0)
DEFAULT_MAX_COVER = 4096  # range budget, analog of ScanRangesTarget


def int_predicate(col: str, items) -> Column:
    """``col IN (v, ...)`` over integers, or ``col >= lo AND col <= hi OR
    ...`` over ``(lo, hi)`` pairs, as ONE SQL expression built in a single
    JVM call (``isin`` and Column operators cost a py4j round trip each).
    Plain comparisons on the bare column, so Catalyst still prunes
    partitions and pushes the filter to the Parquet scan."""
    items = list(items)
    if not items:
        return F.lit(False)
    c = "`" + col.replace("`", "``") + "`"
    if isinstance(items[0], (tuple, list)):
        return F.expr(" OR ".join(
            f"{c} = {int(lo)}L" if lo == hi
            else f"({c} >= {int(lo)}L AND {c} <= {int(hi)}L)"
            for lo, hi in items))
    return F.expr(f"{c} IN ({', '.join(str(int(v)) for v in items)})")


def local_frame(spark, rows: list, schema: StructType) -> DataFrame:
    """Python rows (tuples, or dicts keyed by field name) as a frame built
    from Arrow: a LocalRelation, so it plans without a Python RDD and
    reading it costs no job."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    table = LocalDataToArrowConversion.convert(rows, schema, False) if rows \
        else to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)


def cell_cover_of_geometry(geom: Geometry, res: int = PARTITION_RES,
                           max_cells: int = DEFAULT_MAX_COVER,
                           exact: bool = True) -> np.ndarray | None:
    """Cells at ``res`` overlapping ``geom``; None means "whole world, do
    not filter". Over-selects, never under-selects.

    ``exact``: drop cover cells whose rectangle does not intersect the
    geometry (tighter than bbox for polygons — the XZ/polygon-decomposition
    trick of the reference, GeometryUtils.bounds + Z2IndexKeySpace:89-95).
    """
    if geom is None or geom.is_empty():
        return np.empty(0, dtype=np.int64)  # disjoint short-circuit
    x0, y0, x1, y1 = geom.bounds()
    if not np.isfinite(x0):
        return np.empty(0, dtype=np.int64)
    if (x0 <= _WORLD_BOUNDS[0] and y0 <= _WORLD_BOUNDS[1]
            and x1 >= _WORLD_BOUNDS[2] and y1 >= _WORLD_BOUNDS[3]):
        return None  # whole-world: scan everything
    use_res = res
    while True:
        try:
            cover = bbox_cover(x0, y0, x1, y1, res=use_res, max_cells=max_cells)
            break
        except ValueError:
            use_res -= 1  # coarsen instead of failing (budget semantics)
            if use_res < 0:
                return None
    if use_res != res:
        # caller's partition column is at ``res``; recompute at res from
        # the coarse cells' bounds (still a valid over-selection). The
        # re-expansion is by construction >= the cover the budget just
        # rejected, so it must honor the budget too: past one coarsening
        # step of slack (4x), a six-figure isin literal list costs more
        # than scanning + exact refine — return None (no prune) instead
        # of defeating the ScanRangesTarget budget the ValueError enforces.
        if len(cover) << (2 * (res - use_res)) > 4 * max_cells:
            return None
        lo0, la0, lo1, la1 = cell_bounds(cover, use_res)
        cover = np.unique(np.concatenate([
            bbox_cover(a, b, c, d, res=res, max_cells=1 << 31)
            for a, b, c, d in zip(lo0, la0, lo1, la1)]))
    if exact and len(cover) > 1:
        keep = []
        for c in cover.tolist():
            cx0, cy0, cx1, cy1 = (float(v[0]) for v in cell_bounds(np.asarray([c]), res))
            cellpoly = Polygon([[cx0, cy0], [cx1, cy0], [cx1, cy1], [cx0, cy1],
                                [cx0, cy0]])
            if geo_intersects(cellpoly, geom):
                keep.append(c)
        cover = np.asarray(keep, dtype=np.int64)
    return cover


def _polygon_edges(geom: Geometry):
    """All ring edges of every polygon part as flat arrays, or None if the
    geometry has any non-polygon part (callers fall back conservative)."""
    axs, ays, bxs, bys = [], [], [], []
    for part in flatten(geom):
        if not isinstance(part, Polygon):
            return None
        if part.is_empty():
            continue
        for ring in part.rings():
            axs.append(ring[:-1, 0]); ays.append(ring[:-1, 1])
            bxs.append(ring[1:, 0]); bys.append(ring[1:, 1])
    if not axs:
        return None
    return (np.concatenate(axs), np.concatenate(ays),
            np.concatenate(bxs), np.concatenate(bys))


def _any_edge_hits_rect(edges, rx0: float, ry0: float,
                        rx1: float, ry1: float) -> bool:
    """True if any edge segment touches the closed rectangle (exact:
    bbox-overlap + corner side test — no corner strictly one side)."""
    ax, ay, bx, by = edges
    ov = ((np.maximum(ax, bx) >= rx0) & (np.minimum(ax, bx) <= rx1)
          & (np.maximum(ay, by) >= ry0) & (np.minimum(ay, by) <= ry1))
    if not ov.any():
        return False
    ax, ay, bx, by = ax[ov], ay[ov], bx[ov], by[ov]
    dx, dy = bx - ax, by - ay
    allpos = np.ones(len(ax), dtype=bool)
    allneg = np.ones(len(ax), dtype=bool)
    for cx, cy in ((rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1)):
        cr = dx * (cy - ay) - dy * (cx - ax)
        allpos &= cr > 0
        allneg &= cr < 0
    return bool((~(allpos | allneg)).any())


def cell_cover_classified(geom: Geometry, res: int = PARTITION_RES,
                          max_cells: int = DEFAULT_MAX_COVER
                          ) -> tuple[np.ndarray | None, np.ndarray | None]:
    """Cover cells split into INTERIOR (cell rectangle strictly inside the
    geometry's interior — every point in it locates 'I', no exact refine
    needed) vs boundary cells. The reference's contained-vs-intersecting
    range distinction (Z2IndexKeySpace.getRangeBytes contained ranges /
    XZ query windows), which lets scans skip per-row predicate evaluation
    for fully-covered ranges.

    Returns (cells, interior_mask); interior_mask is None when cells is
    None (whole world) and all-False when the geometry has non-polygon
    parts (conservative)."""
    cover = cell_cover_of_geometry(geom, res=res, max_cells=max_cells)
    if cover is None or len(cover) == 0:
        return cover, None if cover is None else np.zeros(0, dtype=bool)
    interior = np.zeros(len(cover), dtype=bool)
    edges = _polygon_edges(geom)
    if edges is None:
        return cover, interior
    x0s, y0s, x1s, y1s = cell_bounds(cover, res)
    from geomesa_spark.operators.join import locate_points_in_geometry
    loc = locate_points_in_geometry(
        (np.asarray(x0s, dtype=np.float64) + np.asarray(x1s)) / 2.0,
        (np.asarray(y0s, dtype=np.float64) + np.asarray(y1s)) / 2.0, geom)
    for i in range(len(cover)):
        if loc[i] == 1 and not _any_edge_hits_rect(
                edges, float(x0s[i]), float(y0s[i]),
                float(x1s[i]), float(y1s[i])):
            interior[i] = True
    return cover, interior


def prune_by_geometry(df: DataFrame, geom: Geometry, cell_col: str = "cell_prefix",
                      res: int = PARTITION_RES,
                      max_cells: int = DEFAULT_MAX_COVER) -> DataFrame:
    """Prepend the partition filter for a query geometry.

    With a parquet/Iceberg table partitioned by ``cell_col``, Catalyst turns
    the IN-list into partition pruning (the FS datastore's
    getIntersectingPartitions, SpatialScheme.scala:43-59).
    """
    cover = cell_cover_of_geometry(geom, res=res, max_cells=max_cells)
    if cover is None:
        return df
    if len(cover) == 0:
        return df.where(F.lit(False))
    return df.where(int_predicate(cell_col, cover.tolist()))


def query_guard(geom: Geometry | None, *, allow_full_scan: bool = False) -> None:
    """Refuse planless full scans unless explicitly allowed (semantics of
    planning/guard/FullTableScanQueryGuard.scala)."""
    if geom is None and not allow_full_scan:
        raise ValueError(
            "query has no spatial bounds; pass allow_full_scan=True to permit "
            "a full-table scan")
