"""Driver-side planning: spatial predicate -> cell-cover partition filter.

The reference's planning pipeline (ECQL -> FilterStrategy -> SFC ranges ->
backend scans; /root/reference/geomesa-index-api/.../planning/
QueryPlanner.scala, FilterSplitter.scala, Z2IndexKeySpace.scala:75-124)
collapses, in Spark, to: extract the query geometry on the driver, compute
its cell cover, and prepend a partition-column IN-filter that Catalyst/
parquet partition pruning handles natively. The exact predicate then refines
the over-selecting cover downstream (strict-bbox semantics,
Z2IndexKeySpace.useFullFilter:126-138).

One cover serves every caller (``cell_cover_classified``): the geometry's
segments, extracted once, classify the cells of its bbox cover with one
vectorized edge test, no per-cell polygon test. A cell is kept when a
segment touches it or its centre is interior, and flagged interior when
no segment touches it and its centre is. Joins and tile footprints
explode the whole classified cover. Filters take its cells behind the
short-circuits mirrored from the reference (Z2IndexKeySpace.scala:84-87,
FilterHelper.isFilterWholeWorld:44-51):
- query disjoint from the world -> empty scan,
- whole-world query -> no partition filter at all,
- cover exceeding the range budget -> coarsen, and past 4x the budget
  no partition filter; never fail the query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from geomesa_spark.cells import (PARTITION_RES, bbox_cover, cell_bounds,
                                 z_decode)
from geomesa_spark.geo.model import Geometry, LineString, Polygon, flatten

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
                           max_cells: int = DEFAULT_MAX_COVER
                           ) -> np.ndarray | None:
    """Cells at ``res`` whose closed rectangle meets ``geom``, as a
    partition filter: the cells of ``cell_cover_classified`` behind the
    filter short-circuits. None means "do not filter": a whole-world
    geometry, or a cover past the range budget. Over-selects, never
    under-selects.

    Budget: when the bbox cover at ``res`` exceeds ``max_cells``, the bbox
    is coarsened until it fits, and the query is pruned only if those
    coarse cells re-expanded to ``res`` stay within one coarsening step of
    slack (4x): past that, a six-figure ``IN`` list costs more than a scan
    plus the exact refine (the ScanRangesTarget budget).
    """
    if geom is None or geom.is_empty() or not np.isfinite(geom.bounds()[0]):
        return np.empty(0, dtype=np.int64)  # disjoint short-circuit
    x0, y0, x1, y1 = geom.bounds()
    if (x0 <= _WORLD_BOUNDS[0] and y0 <= _WORLD_BOUNDS[1]
            and x1 >= _WORLD_BOUNDS[2] and y1 >= _WORLD_BOUNDS[3]):
        return None  # whole-world: scan everything
    use_res = res
    while True:
        try:
            coarse = bbox_cover(x0, y0, x1, y1, res=use_res,
                                max_cells=max_cells)
            break
        except ValueError:
            use_res -= 1  # coarsen instead of failing (budget semantics)
            if use_res < 0:
                return None
    if len(coarse) << (2 * (res - use_res)) > 4 * max_cells:
        return None
    return cell_cover_classified(geom, res=res)[0]


# cell-edge pairs (or cell centres x one edge chunk) evaluated at once
_BLOCK = 1 << 20


def _segments(geom: Geometry) -> tuple[np.ndarray, list]:
    """Every segment of ``geom`` as rows (ax, ay, bx, by), and its polygon
    parts. Ring and line edges come from ``_ring_edges``, which drops
    zero-length edges; a point, or a part whose edges are all zero-length,
    gives a zero-length segment at its first vertex."""
    from geomesa_spark.operators.join import _ring_edges

    segs, polys = [np.zeros((0, 4))], []
    for part in flatten(geom):
        if part.is_empty():
            continue
        if isinstance(part, Polygon):
            polys.append(part)
            chains = part.rings()
        elif isinstance(part, LineString):
            chains = [part.coords]
        else:
            chains = [np.array([[part.x, part.y]])]
        edges = [e for e in map(_ring_edges, chains) if len(e)]
        segs += edges or [np.tile(chains[0][0], 2)[None, :]]
    return np.concatenate(segs), polys


def _touches(rects: tuple, segs: np.ndarray) -> np.ndarray:
    """Per rectangle (x0s, y0s, x1s, y1s), whether some segment touches
    it, closed: the segment's bbox meets it and its four corners are not
    all strictly on one side of the segment's line."""
    x0s, y0s, x1s, y1s = (np.asarray(v, dtype=np.float64)[:, None]
                          for v in rects)
    ax, ay, bx, by = (c[None, :] for c in segs.T)
    dx, dy = bx - ax, by - ay
    lox, hix = np.minimum(ax, bx), np.maximum(ax, bx)
    loy, hiy = np.minimum(ay, by), np.maximum(ay, by)
    out = np.zeros(len(x0s), dtype=bool)
    step = max(1, _BLOCK // max(len(segs), 1))
    for s in range(0, len(x0s), step):
        rx0, ry0 = x0s[s:s + step], y0s[s:s + step]
        rx1, ry1 = x1s[s:s + step], y1s[s:s + step]
        hit = (hix >= rx0) & (lox <= rx1) & (hiy >= ry0) & (loy <= ry1)
        pos, neg = hit.copy(), hit.copy()
        for cx, cy in ((rx0, ry0), (rx1, ry0), (rx1, ry1), (rx0, ry1)):
            cr = dx * (cy - ay) - dy * (cx - ax)
            pos &= cr > 0
            neg &= cr < 0
        out[s:s + step] = (hit & ~pos & ~neg).any(axis=1)
    return out


def cell_cover_classified(geom: Geometry, res: int = PARTITION_RES
                          ) -> tuple[np.ndarray, np.ndarray]:
    """The cells at ``res`` whose closed rectangle meets ``geom``, sorted,
    and which of them are INTERIOR: every point of the closed cell locates
    'I', so a point joined through one needs no exact refine (the
    reference's contained-vs-overlapping ranges, Z2IndexKeySpace.
    getRangeBytes). No budget and no whole-world short-circuit: a
    world-spanning geometry gets the whole grid.

    Edges classify the bbox cover directly, as Raptor's scanline
    classifies raster cells: a cell is kept iff some segment of ``geom``
    touches it (``_touches``, against the segments whose y-range meets
    the cell's row) or its centre locates interior to a polygon part. A
    run of adjacent cells in a row that no segment touches lies wholly on
    one side of every ring, so one centre locates the whole run. A cell
    is interior iff its centre is interior and no segment touches it, and
    only when every part is a polygon (a line or point part has no
    interior to vouch for)."""
    if geom is None or geom.is_empty() or not np.isfinite(geom.bounds()[0]):
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=bool)
    cells = bbox_cover(*geom.bounds(), res=res, max_cells=1 << 62)
    bx, by = z_decode(cells)
    order = np.lexsort((bx, by))  # row-major: a row's cells are adjacent
    cells, by = cells[order], by[order]
    x0s, y0s, x1s, y1s = cell_bounds(cells, res)
    segs, polys = _segments(geom)
    lo_y = np.minimum(segs[:, 1], segs[:, 3])
    hi_y = np.maximum(segs[:, 1], segs[:, 3])
    touched = np.zeros(len(cells), dtype=bool)
    rows = np.flatnonzero(np.r_[True, by[1:] != by[:-1]])
    for a, b in zip(rows, np.r_[rows[1:], len(cells)]):
        band = segs[(hi_y >= y0s[a]) & (lo_y <= y1s[a])]
        if len(band):
            touched[a:b] = _touches(
                (x0s[a:b], y0s[a:b], x1s[a:b], y1s[a:b]), band)
    # a run of untouched cells starts where the cell to its left is
    # touched or in another row
    free = ~touched
    first = free & ~np.r_[False, free[:-1] & (by[1:] == by[:-1])]
    inside = np.zeros(len(cells), dtype=bool)
    if polys and first.any():
        from geomesa_spark.operators.join import locate_points_in_geometry
        heads = np.flatnonzero(first)
        cx = (x0s[heads] + x1s[heads]) / 2.0
        cy = (y0s[heads] + y1s[heads]) / 2.0
        step = max(1, _BLOCK // 512)  # the kernel's edge chunk
        head_in = np.zeros(len(heads), dtype=bool)
        for s in range(0, len(heads), step):
            head_in[s:s + step] = np.logical_or.reduce(
                [locate_points_in_geometry(cx[s:s + step], cy[s:s + step],
                                           p) == 1 for p in polys])
        inside[free] = head_in[np.cumsum(first)[free] - 1]
    keep = np.flatnonzero(touched | inside)
    keep = keep[np.argsort(cells[keep])]
    if not all(isinstance(p, Polygon) for p in flatten(geom)):
        inside[:] = False
    return cells[keep], inside[keep]


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
