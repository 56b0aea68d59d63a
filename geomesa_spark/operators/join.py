"""Spatial joins: broadcast point-in-polygon and cell-partitioned equi-join.

Re-expresses the reference's sweepline spatial join (GeoMesaJoinRelation.
sweeplineJoin, /root/reference/geomesa-spark/geomesa-spark-sql/src/main/
scala/org/locationtech/geomesa/spark/GeoMesaJoinRelation.scala:41-91) as an
idiomatic Spark plan:

    regions --(cover cells + explode)-------> (cell, region[, edges])
    points  --(cell_expr, native bit math)--> (cell, point)
    equi-join on cell  (broadcast-hash if regions are small: zero shuffle
                        of the big point side; sort-merge + AQE skew-join
                        otherwise)
    exact refine       (broadcast: the region side is exploded on the
                        driver into an Arrow-built local relation whose
                        rows carry the polygon edges near their cell, and
                        the refine is one SQL ray-casting expression over
                        them — no Python stage;
                        distributed: cover pUDF + vectorized
                        point-in-polygon pUDF over Arrow batches)
    dedupe             (only when both sides can span multiple cells --
                        duplication semantics of RelationUtils.gridIdMapper
                        :35-53 and its acknowledged duplicate TODO :38)

Correctness contract (SURVEY §2.4): covers over-select and never
under-select; every candidate passes the exact DE-9IM predicate; result
row-set equals the brute-force cartesian join (the reference's own oracle,
SparkSQLDataTest.scala:344-351).
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, LongType,
                               StructField, StructType)

from geomesa_spark.cells import PARTITION_RES, cell_bounds
from geomesa_spark.geo import io as gio
from geomesa_spark.geo import predicates as gp
from geomesa_spark.plans.planner import cell_cover_classified, local_frame

# predicate -> accepted point locations (I interior, B boundary) for
# point-vs-region joins; key is predicate(region, point)
_POINT_PREDICATES = {
    "st_contains": frozenset("I"),
    "st_within": frozenset("I"),      # within(point, region)
    "st_covers": frozenset("IB"),
    "st_coveredBy": frozenset("IB"),
    "st_intersects": frozenset("IB"),
}


def locate_points_in_geometry(x: np.ndarray, y: np.ndarray, geom) -> np.ndarray:
    """Vectorized point classification vs one geometry.

    Returns int8 array: 1 interior, 0 boundary, -1 exterior. Ray casting
    over all rings at once; O(points x edges) numpy ops, no per-point python.
    """
    from geomesa_spark.geo.model import Polygon

    n = len(x)
    out = np.full(n, -1, dtype=np.int8)
    for part in (p for p in _flatten(geom)):
        if isinstance(part, Polygon) and not part.is_empty():
            inside = np.zeros(n, dtype=bool)
            boundary = np.zeros(n, dtype=bool)
            for ri, ring in enumerate(part.rings()):
                cross = np.zeros(n, dtype=bool)
                ax, ay, bx, by = _ring_edges(ring).T
                for s in range(0, len(ax), 512):  # edge-chunk to bound memory
                    a_x, a_y = ax[s:s + 512][None, :], ay[s:s + 512][None, :]
                    b_x, b_y = bx[s:s + 512][None, :], by[s:s + 512][None, :]
                    px, py = x[:, None], y[:, None]
                    # boundary: collinear and within segment bbox
                    orient = (b_x - a_x) * (py - a_y) - (b_y - a_y) * (px - a_x)
                    on = (orient == 0.0) & (px >= np.minimum(a_x, b_x)) \
                        & (px <= np.maximum(a_x, b_x)) \
                        & (py >= np.minimum(a_y, b_y)) \
                        & (py <= np.maximum(a_y, b_y))
                    boundary |= on.any(axis=1)
                    # ray cast to +x
                    spans = (a_y > py) != (b_y > py)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        xint = a_x + (py - a_y) * (b_x - a_x) / (b_y - a_y)
                    hits = spans & (xint > px)
                    cross ^= (hits.sum(axis=1) % 2).astype(bool)
                if ri == 0:
                    inside = cross
                else:  # hole: inside hole -> exterior
                    inside &= ~cross
            out = np.maximum(out, np.where(boundary, np.int8(0),
                                           np.where(inside, np.int8(1), np.int8(-1))))
        else:
            # non-polygon parts: exact per-row locate (rare side of a PIP join)
            for i in range(n):
                loc = gp.locate(part, float(x[i]), float(y[i]))
                code = 1 if loc == "I" else (0 if loc == "B" else -1)
                out[i] = max(out[i], code)
    return out


def _ring_edges(ring: np.ndarray) -> np.ndarray:
    """A closed ring's edges as rows (ax, ay, bx, by), zero-length
    edges (a repeated vertex) dropped."""
    e = np.column_stack([ring[:-1], ring[1:]])
    return e[~((e[:, 0] == e[:, 2]) & (e[:, 1] == e[:, 3]))]


def _flatten(geom):
    from geomesa_spark.geo.model import flatten
    return flatten(geom)


# ------------------------------------------------------------------ UDFs

def _geometry_cover(g, res: int) -> tuple:
    """A region's explode row: its classified cover as parallel lists of
    cells and interior flags (``cell_cover_classified``), and its envelope.
    A null geometry, or one whose cover is empty (wholly outside the
    world), gets the reserved cell -1, which only invalid points carry."""
    if g is None:
        return [-1], [False], None, None, None, None
    cells, interior = cell_cover_classified(g, res=res)
    env = tuple(float(b) for b in g.bounds())
    if not len(cells):
        return [-1], [False], *env
    return cells.tolist(), interior.tolist(), *env


_COVER = StructType([
    StructField("cells", ArrayType(LongType())),
    StructField("interior", ArrayType(BooleanType())),
    *(StructField(b, DoubleType()) for b in ("xmin", "ymin", "xmax", "ymax"))])


def udf_cover(res: int):
    """Per geometry, ``_geometry_cover`` as a ``_COVER`` struct, memoized
    per distinct WKB within a batch. Callers select the fields they read:
    the cells to explode, the interior flags (a point joined through an
    interior cell skips the exact refine) and the envelope (a JVM bbox
    pre-reject ahead of the refine)."""
    @F.pandas_udf(_COVER)
    def cover(wkb: pd.Series) -> pd.DataFrame:
        memo: dict[bytes | None, tuple] = {}
        rows = []
        for v in wkb:
            key = None if v is None else bytes(v)
            c = memo.get(key)
            if c is None:
                c = memo[key] = _geometry_cover(
                    None if key is None else gio.from_wkb(key), res)
            rows.append(c)
        return pd.DataFrame(rows, columns=_COVER.fieldNames())
    return cover


def udf_refine_point(predicate: str):
    accepted = _POINT_PREDICATES[predicate]
    want_i = "I" in accepted
    want_b = "B" in accepted

    @F.pandas_udf(BooleanType())
    def refine(lon: pd.Series, lat: pd.Series, wkb: pd.Series) -> pd.Series:
        x = lon.to_numpy(dtype=np.float64)
        y = lat.to_numpy(dtype=np.float64)
        out = np.zeros(len(x), dtype=bool)
        # group rows by identical region blob -> one vectorized pass each
        codes, uniques = pd.factorize(wkb.map(lambda b: bytes(b) if b is not None
                                              else b), use_na_sentinel=True)
        for gi, blob in enumerate(uniques):
            sel = codes == gi
            geom = gio.from_wkb(blob)
            loc = locate_points_in_geometry(x[sel], y[sel], geom)
            ok = np.zeros(int(sel.sum()), dtype=bool)
            if want_i:
                ok |= loc == 1
            if want_b:
                ok |= loc == 0
            out[sel] = ok
        return pd.Series(out)
    return refine


_PAIR_PREDICATES = ("st_contains", "st_within", "st_covers", "st_coveredBy",
                    "st_intersects", "st_overlaps", "st_touches",
                    "st_crosses", "st_equals")


def _geom_vertices(geom) -> np.ndarray:
    """All vertices of ``geom`` as an (n, 2) array (polygon ring closing
    duplicates dropped). Used by the vectorized pair screens — only
    set-membership of the vertices matters, not their order."""
    from geomesa_spark.geo.model import LineString, Point, Polygon

    chunks = []
    for part in _flatten(geom):
        if isinstance(part, Polygon) and not part.is_empty():
            for ring in part.rings():
                chunks.append(ring[:-1])
        elif isinstance(part, LineString):
            chunks.append(part.coords)
        elif isinstance(part, Point) and not part.is_empty():
            chunks.append(np.array([[part.x, part.y]]))
    if not chunks:
        return np.zeros((0, 2))
    return np.concatenate(chunks, axis=0)


def _screen_vertex_locations(pair_idx: list[int], containers: list,
                             partners: list) -> list[np.ndarray]:
    """For each (container, partner) pair, the location codes of the
    partner's vertices in the container (1 interior / 0 boundary /
    -1 exterior) — computed with ONE vectorized ray-cast per DISTINCT
    container over all its partners' vertices stacked, instead of a
    Python call per pair."""
    by_container: dict[int, list[int]] = {}
    for i in pair_idx:
        by_container.setdefault(id(containers[i]), []).append(i)
    out: dict[int, np.ndarray] = {}
    for idxs in by_container.values():
        geom = containers[idxs[0]]
        verts = [_geom_vertices(partners[i]) for i in idxs]
        lens = [len(v) for v in verts]
        if sum(lens) == 0:
            for i in idxs:
                out[i] = np.zeros(0, dtype=np.int8)
            continue
        stacked = np.concatenate([v for v in verts if len(v)], axis=0)
        loc = locate_points_in_geometry(stacked[:, 0], stacked[:, 1],
                                        geom)
        offs = np.cumsum([0] + lens)
        for j, i in enumerate(idxs):
            out[i] = loc[offs[j]:offs[j + 1]]
    return [out[i] for i in pair_idx]


def udf_refine_pairs(predicate: str):
    """General geometry-pair refinement (polygon-polygon etc.).

    Vectorized over the Arrow batch: pairs are deduplicated with
    ``pd.factorize`` on the concatenated WKB key, so exact work runs
    ONCE per distinct geometry pair (the cell equi-join duplicates a
    pair once per shared cover cell) with memoized geometry parses.
    Three screening tiers, each sound (they only decide what they can
    prove; DE-9IM remains the decider for the rest):

    1. numpy envelope pre-reject across ALL distinct pairs at once
       (callers going through ``spatial_join_pairs`` arrive pre-screened
       by the JVM join condition; the re-check costs one vectorized
       compare and keeps the UDF safe standalone);
    2. vertex-location screen, one vectorized ray-cast per distinct
       container geometry over all its partners' vertices stacked
       (``_screen_vertex_locations``): for the intersects predicate a
       non-exterior vertex in either direction PROVES intersection; for
       containment predicates an exterior vertex of the contained side
       DISPROVES it. This decides the bulk of candidate pairs without
       entering the interpreted DE-9IM machinery — the vectorized
       equivalent of the per-pair exact-call bound of the reference's
       sweepline OverlapAction (GeoMesaJoinRelation.scala:41-55,
       OverlapAction:25-41);
    3. the exact DE-9IM predicate for the undecided remainder (pairs
       intersecting only through edge crossings, containment with all
       vertices inside, and the rarer predicates).
    """
    fn = {
        "st_contains": gp.contains, "st_within": gp.within,
        "st_covers": gp.covers, "st_coveredBy": gp.covered_by,
        "st_intersects": gp.intersects, "st_overlaps": gp.overlaps,
        "st_touches": gp.touches, "st_crosses": gp.crosses,
        "st_equals": gp.equals,
    }[predicate]

    @F.pandas_udf(BooleanType())
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        # pair key = 4-byte length prefix + left WKB + right WKB (WKB is
        # binary — a separator byte would collide)
        ab = pd.Series(
            [len(x).to_bytes(4, "big") + bytes(x) + bytes(y)
             if x is not None and y is not None else None
             for x, y in zip(a, b)], dtype=object)
        codes, uniques = pd.factorize(ab, use_na_sentinel=True)
        gmemo: dict[bytes, object] = {}

        def parse(k: bytes):
            g = gmemo.get(k)
            if g is None:
                g = gmemo[k] = gio.from_wkb(k)
            return g

        nu = len(uniques)
        left, right = [], []
        for key in uniques:
            la = int.from_bytes(key[:4], "big")
            left.append(parse(key[4:4 + la]))
            right.append(parse(key[4 + la:]))
        # tier 1: vectorized envelope necessary-condition
        lb = np.array([g.bounds() for g in left], dtype=np.float64) \
            if nu else np.zeros((0, 4))
        rb = np.array([g.bounds() for g in right], dtype=np.float64) \
            if nu else np.zeros((0, 4))
        if predicate in ("st_contains", "st_covers"):
            env = ((lb[:, 0] <= rb[:, 0]) & (lb[:, 1] <= rb[:, 1])
                   & (lb[:, 2] >= rb[:, 2]) & (lb[:, 3] >= rb[:, 3]))
        elif predicate in ("st_within", "st_coveredBy"):
            env = ((rb[:, 0] <= lb[:, 0]) & (rb[:, 1] <= lb[:, 1])
                   & (rb[:, 2] >= lb[:, 2]) & (rb[:, 3] >= lb[:, 3]))
        elif predicate == "st_equals":
            env = (lb == rb).all(axis=1)
        else:
            env = ((lb[:, 0] <= rb[:, 2]) & (rb[:, 0] <= lb[:, 2])
                   & (lb[:, 1] <= rb[:, 3]) & (rb[:, 1] <= lb[:, 3]))
        verdicts = np.zeros(nu, dtype=bool)
        undecided = np.flatnonzero(env).tolist()
        # tier 2: vertex-location screens (sound accept/reject only)
        if predicate == "st_intersects" and undecided:
            locs = _screen_vertex_locations(undecided, left, right)
            still = []
            for i, loc in zip(undecided, locs):
                if len(loc) and loc.max() >= 0:  # a vertex of b in/on a
                    verdicts[i] = True
                else:
                    still.append(i)
            if still:  # reverse direction: vertices of a in/on b
                locs = _screen_vertex_locations(still, right, left)
                undecided = []
                for i, loc in zip(still, locs):
                    if len(loc) and loc.max() >= 0:
                        verdicts[i] = True
                    else:
                        undecided.append(i)
            else:
                undecided = []
        elif predicate in ("st_contains", "st_covers",
                           "st_within", "st_coveredBy") and undecided:
            flip = predicate in ("st_within", "st_coveredBy")
            cont, part = (right, left) if flip else (left, right)
            locs = _screen_vertex_locations(undecided, cont, part)
            undecided = [
                i for i, loc in zip(undecided, locs)
                if not (len(loc) and loc.min() == -1)]  # exterior vertex
        # tier 3: exact DE-9IM for the undecided remainder
        for i in undecided:
            verdicts[i] = bool(fn(left[i], right[i]))
        out = np.zeros(n, dtype=bool)
        ok = codes >= 0
        out[ok] = verdicts[codes[ok]]
        return pd.Series(out)
    return refine


# ------------------------------------------------------------- public API

# cross-query cover/envelope/edge memo for the driver-side broadcast
# explode: region dims are static (the same frame feeds every query of a
# session), so the per-geometry cover computation (~1 ms each) is a
# plan-cache hit after the first query. Bounded like a plan cache; an
# entry holds one geometry's ``_geometry_cover`` row and polygon edges
# (float64 arrays, 32 B an edge against the WKB key's 16 B a vertex).
_DRIVER_COVER_MEMO: dict[tuple[bytes, int], tuple[tuple, list | None]] = {}
_DRIVER_COVER_MEMO_CAP = 65536

# frame-level memo: when the SAME region DataFrame object is joined
# repeatedly (dim tables held by an application, bench rounds), the
# collect + local-relation build (two driver round-trips, ~0.5 s of
# fixed job overhead on a busy session) is skipped entirely. WeakKey so
# dropped frames release their covers.
_DRIVER_COVER_FRAMES: "weakref.WeakKeyDictionary[DataFrame, dict]" = \
    weakref.WeakKeyDictionary()


def _is_axis_rect(g) -> bool:
    """True iff ``g`` is a non-degenerate axis-aligned rectangle — a
    single-ring polygon whose ring is exactly its envelope. For such
    geometries every point-vs-region DE-9IM predicate folds to closed or
    strict coordinate comparisons against the envelope, so the exact
    refine can be evaluated entirely in whole-stage codegen (the same
    decomposition the reference applies to bbox filters,
    FilterHelper.extractGeometries / visitBinarySpatialOp)."""
    from geomesa_spark.geo.model import Polygon

    if not isinstance(g, Polygon) or g.is_empty():
        return False
    rings = list(g.rings())
    if len(rings) != 1:
        return False
    ring = rings[0]
    if len(ring) != 5:
        return False
    xmin, ymin, xmax, ymax = g.bounds()
    if not (xmax > xmin and ymax > ymin):
        return False
    corners = {(xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax)}
    if {(float(x), float(y)) for x, y in ring[:-1]} != corners:
        return False
    # The vertex SET alone admits a self-intersecting "bowtie" traversal
    # of the same four corners (e.g. (0,0)->(1,1)->(1,0)->(0,1)), whose
    # interior is NOT the envelope — require every edge axis-parallel,
    # which together with four distinct corner vertices forces a proper
    # rectangle ring in either winding order.
    return all(ring[i][0] == ring[i + 1][0] or ring[i][1] == ring[i + 1][1]
               for i in range(4))


# an edge a -> b with its y-range (y0 <= y1), which lets the refine skip
# an edge the point's y misses in two comparisons
_EDGE = StructType([StructField(c, DoubleType())
                    for c in ("ax", "ay", "bx", "by", "y0", "y1")])


# degrees by which a cell is widened before edges are clipped to it: a
# point's cell comes from floor bit math and a crossing's abscissa from a
# division, and either may round by a few ulps (~1e-13 at 360)
_CLIP_MARGIN = 1e-9


def _polygon_parts(g) -> list | None:
    """``g``'s polygon edges as part -> ring -> ``_ring_edges`` array,
    empty parts dropped as ``locate_points_in_geometry`` drops them; None
    when a part is not a polygon."""
    from geomesa_spark.geo.model import Polygon

    parts = []
    for part in _flatten(g):
        if not isinstance(part, Polygon):
            return None
        if not part.is_empty():
            parts.append([_ring_edges(ring) for ring in part.rings()])
    return parts


def _cell_edges(parts: list, x0: float, y0: float, y1: float) -> list:
    """The edges of ``parts`` that can decide a point of a cell whose lon
    starts at ``x0`` and whose lat spans [``y0``, ``y1``], as rows of
    ``_EDGE``. An edge wholly below, above or left of the cell neither
    holds such a point nor is crossed by the +x ray from it (the ray's y
    is outside the edge's, or the crossing lies left of the point), so
    dropping it changes no classification. Rings keep their order (a
    part's shell stays first); a part with no edge left is dropped."""
    m = _CLIP_MARGIN
    out = []
    for rings in parts:
        kept = []
        for e in rings:
            lo, hi = np.minimum(e[:, 1], e[:, 3]), np.maximum(e[:, 1], e[:, 3])
            keep = (np.maximum(e[:, 0], e[:, 2]) >= x0 - m) \
                & (hi >= y0 - m) & (lo <= y1 + m)
            kept.append(np.column_stack([e, lo, hi])[keep])
        if any(len(e) for e in kept):
            out.append(kept)
    return out


def _row_edges(parts: list, cells: list, interior: list, res: int) -> list:
    """Per cell of a geometry's cover, the ``__parts__`` value its
    exploded row carries: null on an interior cell (no refine), every edge
    on the reserved cell -1 of a region wholly outside the world, else
    the edges clipped to the cell (``_cell_edges``). A row's edges are a
    subset of the geometry's, so it carries at most ~3x the WKB the row
    already holds, and the refine walks only the edges near its cell."""
    cells = np.array(cells)
    x0s, y0s, _, y1s = cell_bounds(cells, res)
    outside = cells < 0
    x0s = np.where(outside, -np.inf, x0s)
    y0s = np.where(outside, -np.inf, y0s)
    y1s = np.where(outside, np.inf, y1s)
    return [None if inner else
            [[list(map(tuple, r.tolist())) for r in p]
             for p in _cell_edges(parts, x0s[i], y0s[i], y1s[i])]
            for i, inner in enumerate(interior)]


def _native_refine(predicate: str, lon: str, lat: str) -> Column:
    """The exact point-vs-region predicate over ``__parts__`` as ONE SQL
    expression: ``locate_points_in_geometry``'s ray casting with the same
    arithmetic in the same operation order, so it classifies every point
    bit-identically. Per part: boundary = on some edge (collinear and
    within the edge's bbox); inside = an odd crossing count of the +x ray
    with the shell and an even one with every hole. The numpy kernel takes
    the max code over parts, so interior-only predicates accept a point if
    some part has it inside and not on its boundary, the others if some
    part has it inside or on its boundary. ``xint`` divides only where the
    edge spans the ray's y (ANSI mode raises on a division by zero)."""
    x, y = (f"`{c.replace('`', '``')}`" for c in (lon, lat))
    ax, ay, bx, by, y0, y1 = (f"__e.{f}" for f in _EDGE.fieldNames())
    on_edge = (f"{y} >= {y0} AND {y} <= {y1}"
               f" AND {x} >= least({ax}, {bx}) AND {x} <= greatest({ax}, {bx})"
               f" AND ({bx} - {ax}) * ({y} - {ay}) - ({by} - {ay}) * ({x} - {ax})"
               f" = 0.0D")
    # the kernel's spans test (ay > y) != (by > y), i.e. y0 <= y < y1
    spans = f"{y} >= {y0} AND {y} < {y1}"
    hit = f"{ax} + ({y} - {ay}) * ({bx} - {ax}) / ({by} - {ay}) > {x}"

    def odd(ring: str) -> str:
        return (f"aggregate({ring}, false,"
                f" (__c, __e) -> IF({spans}, __c != ({hit}), __c))")

    boundary = f"exists(__p, __b -> exists(__b, __e -> {on_edge}))"
    inside = (f"{odd('__p[0]')} AND NOT exists(slice(__p, 2, size(__p)),"
              f" __r -> {odd('__r')})")
    at = (f"{inside} AND NOT {boundary}"
          if _POINT_PREDICATES[predicate] == frozenset("I")
          else f"{inside} OR {boundary}")
    return F.expr(f"`__int__` OR exists(`__parts__`, __p -> {at})")


def _driver_cover_explode(regions: DataFrame, region_geom: str,
                          res: int) -> tuple[DataFrame, bool]:
    """Cover-cell explode of a TO-BE-BROADCAST region side, computed on
    the driver. Returns ``(frame, native)``.

    Scale contract: callers reach this only with ``broadcast_regions=
    True``, i.e. they have already asserted the frame fits in driver/
    executor memory — Spark's BroadcastExchange performs exactly this
    collect itself to build the broadcast relation, so no new memory or
    distribution assumption is introduced. The result is a local relation
    built from Arrow (no Python RDD, so reading it costs no job) carrying
    the original columns plus (``__cell__``, ``__int__``), the geometry
    envelope (``__xmin__ .. __ymax__``, a codegen bbox pre-filter ahead of
    the refine) and, on boundary-cell rows, the geometry's polygon edges
    that can decide a point of the cell (``__parts__``, part -> ring ->
    edge, ``_row_edges``; null on interior-cell rows, which need no
    refine). Its cells are the distributed plan's: both explode
    ``_geometry_cover``. ``native`` is False when some geometry has a
    non-polygon part: only the pandas refine locates points against
    those, and every row's ``__parts__`` is then null."""
    frame_memo = _DRIVER_COVER_FRAMES.setdefault(regions, {})
    cached = frame_memo.get((region_geom, res))
    if cached is not None:
        return cached

    gi = regions.columns.index(region_geom)
    native = True
    geoms = []
    for row in regions.collect():
        v = row[gi]
        key = (bytes(v), res) if v is not None else None
        hit = _DRIVER_COVER_MEMO.get(key) if key is not None else None
        if hit is None:
            g = None if key is None else gio.from_wkb(key[0])
            hit = (_geometry_cover(g, res),
                   [] if g is None else _polygon_parts(g))
            if key is not None \
                    and len(_DRIVER_COVER_MEMO) < _DRIVER_COVER_MEMO_CAP:
                _DRIVER_COVER_MEMO[key] = hit
        native = native and hit[1] is not None
        geoms.append((row, *hit))
    rows = []
    for row, (cells, interior, *env), parts in geoms:
        edges = _row_edges(parts, cells, interior, res) if native \
            else [None] * len(cells)
        rows += [(*row, cell, inner, *env, e)
                 for cell, inner, e in zip(cells, interior, edges)]
    schema = StructType(list(regions.schema.fields)
                        + [StructField("__cell__", LongType()),
                           StructField("__int__", BooleanType())]
                        + [StructField(f"__{b}__", DoubleType())
                           for b in ("xmin", "ymin", "xmax", "ymax")]
                        + [StructField("__parts__", ArrayType(ArrayType(
                            ArrayType(_EDGE))))])
    out = local_frame(regions.sparkSession, rows, schema), native
    frame_memo[(region_geom, res)] = out
    return out


def spatial_join(points: DataFrame, regions: DataFrame, *,
                 predicate: str = "st_contains",
                 point_lon: str = "lon", point_lat: str = "lat",
                 region_geom: str = "geom",
                 res: int = PARTITION_RES,
                 broadcast_regions: bool | None = None,
                 salt: int | None = None) -> DataFrame:
    """Point-in-region spatial join.

    ``predicate(region, point)`` for st_contains/st_covers/st_intersects;
    st_within is interpreted as within(point, region). The point side keeps
    its partitioning when regions broadcast (zero shuffle of the big side).

    ``broadcast_regions``: the region side is exploded on the driver into
    an Arrow-built local relation and the exact refine is native ray
    casting over its stored edges (``_native_refine``), so the plan has no
    Python stage. Otherwise, and for a broadcast region set with a
    non-polygon part, regions explode through a pandas cover UDF and
    candidates refine through the pandas ``udf_refine_point``.

    ``salt``: duplicate each region row into ``salt`` copies and scatter
    points across them before the equi-join — explicit skew spreading, the
    reference's shard strategy (ShardStrategy.scala:42-80). Prefer AQE
    skew-join; use salt for pathological hot cells.
    """
    if predicate not in _POINT_PREDICATES:
        raise ValueError(f"unsupported point-join predicate {predicate}")
    from geomesa_spark.cells.native import cell_expr
    pts = points.withColumn("__cell__",
                            cell_expr(point_lon, point_lat, res))
    native = False
    if broadcast_regions:
        # Explicit-broadcast build side: BroadcastExchange collects this
        # frame to the driver regardless, so computing the cover cells
        # DURING that collect costs the same memory while deleting an
        # entire Python-worker stage (pandas-UDF explode) that otherwise
        # re-executes inside every query's broadcast build. The
        # distributed explode below remains the path for large (shuffled)
        # region sides.
        reg, native = _driver_cover_explode(regions, region_geom, res)
    else:
        reg = regions.withColumn(
            "__cv__", udf_cover(res)(F.col(region_geom))) \
            .select("*", F.posexplode("__cv__.cells")
                    .alias("__i__", "__cell__")) \
            .withColumn("__int__", F.col("__cv__.interior")[F.col("__i__")]) \
            .drop("__cv__", "__i__")
    if salt and salt > 1:
        reg = reg.withColumn("__salt__", F.explode(F.array(
            *[F.lit(i) for i in range(salt)])))
        pts = pts.withColumn("__salt__", F.pmod(F.xxhash64(point_lon, point_lat),
                                                F.lit(salt)).cast("int"))
        join_keys = ["__cell__", "__salt__"]
    else:
        join_keys = ["__cell__"]
    if broadcast_regions:
        reg = F.broadcast(reg)
    joined = pts.join(reg, on=join_keys, how="inner")
    aux = ["__cell__", "__int__"] + (["__salt__"] if salt and salt > 1 else [])
    if broadcast_regions:
        # closed-interval envelope containment is NECESSARY for every
        # accepted point location (I and B are both inside the closed
        # envelope), so this whole-stage-codegen filter rejects the bulk
        # of the cell-join candidates before the refine — same discipline
        # as the pair-join's _pair_bbox_condition
        joined = joined.where(
            F.col("__xmin__").isNull() | (
                (F.col(point_lon) >= F.col("__xmin__"))
                & (F.col(point_lon) <= F.col("__xmax__"))
                & (F.col(point_lat) >= F.col("__ymin__"))
                & (F.col(point_lat) <= F.col("__ymax__"))))
        aux += ["__xmin__", "__ymin__", "__xmax__", "__ymax__", "__parts__"]
    if native:
        return joined.where(
            _native_refine(predicate, point_lon, point_lat)).drop(*aux)
    refine = udf_refine_point(predicate)
    # a point joined through an INTERIOR cover cell is provably at
    # location 'I', so the shortcut is valid only for predicates that
    # accept interior points (all current ones do — the guard keeps a
    # future boundary-only predicate, e.g. st_touches, correct): accept
    # without the exact refine, and null the WKB argument so those rows
    # cross the Arrow boundary payload-free and skip the ray casting
    if "I" in _POINT_PREDICATES[predicate]:
        out = joined.where(F.when(F.col("__int__"), F.lit(True)).otherwise(
            refine(F.col(point_lon), F.col(point_lat),
                   F.when(F.col("__int__"), F.lit(None))
                   .otherwise(F.col(region_geom)))))
    else:
        out = joined.where(refine(F.col(point_lon), F.col(point_lat),
                                  F.col(region_geom)))
    return out.drop(*aux)


def _pair_bbox_condition(predicate: str):
    """JVM-side envelope necessary-condition for a geometry-pair
    predicate, over the stored cover-UDF bbox columns."""
    lx0, ly0 = F.col("__lx0__"), F.col("__ly0__")
    lx1, ly1 = F.col("__lx1__"), F.col("__ly1__")
    rx0, ry0 = F.col("__rx0__"), F.col("__ry0__")
    rx1, ry1 = F.col("__rx1__"), F.col("__ry1__")
    if predicate in ("st_contains", "st_covers"):
        return (lx0 <= rx0) & (ly0 <= ry0) & (lx1 >= rx1) & (ly1 >= ry1)
    if predicate in ("st_within", "st_coveredBy"):
        return (rx0 <= lx0) & (ry0 <= ly0) & (rx1 >= lx1) & (ry1 >= ly1)
    if predicate == "st_equals":
        return (lx0 == rx0) & (ly0 == ry0) & (lx1 == rx1) & (ly1 == ry1)
    # intersects-family (touches included: <=/>= admits shared boundaries)
    return (lx0 <= rx1) & (rx0 <= lx1) & (ly0 <= ry1) & (ry0 <= ly1)


def _pair_candidates(left: DataFrame, right: DataFrame, *,
                     predicate: str, left_geom: str, right_geom: str,
                     res: int,
                     broadcast_right: bool | None = None) -> DataFrame:
    """Candidate pairs of the cell equi-join AFTER the JVM envelope
    pre-reject but BEFORE the exact Python refine — exposed so tests can
    assert the exact-predicate workload is ≪ n² on dense cells."""
    cover = udf_cover(res)

    def explode(df: DataFrame, geom: str, s: str) -> DataFrame:
        return df.withColumn("__cv__", cover(F.col(geom))).select(
            "*", F.explode("__cv__.cells").alias(f"__{s}cell__"),
            *(F.col(f"__cv__.{b}").alias(f"__{s}{a}__") for a, b in
              (("x0", "xmin"), ("y0", "ymin"), ("x1", "xmax"),
               ("y1", "ymax")))).drop("__cv__")

    lf = explode(left, left_geom, "l")
    rf = explode(right, right_geom, "r")
    if broadcast_right:
        rf = F.broadcast(rf)
    cond = (F.col("__lcell__") == F.col("__rcell__")) \
        & _pair_bbox_condition(predicate)
    return lf.join(rf, on=cond, how="inner")


_PAIR_AUX_COLS = ["__lcell__", "__rcell__",
                  "__lx0__", "__ly0__", "__lx1__", "__ly1__",
                  "__rx0__", "__ry0__", "__rx1__", "__ry1__"]


def spatial_join_pairs(left: DataFrame, right: DataFrame, *,
                       predicate: str = "st_intersects",
                       left_geom: str = "geom", right_geom: str = "geom_r",
                       left_id: str = "left_id", right_id: str = "right_id",
                       res: int = PARTITION_RES,
                       broadcast_right: bool | None = None) -> DataFrame:
    """General geometry-geometry join: both sides explode to cover cells,
    equi-join on cell WITH an envelope pre-reject folded into the JVM
    join condition (whole-stage codegen — rejected pairs never reach
    Python), exact refine once per distinct surviving pair, dedupe by
    (left_id, right_id) — duplicates arise exactly when both geometries
    span multiple shared cells (gridIdMapper duplication semantics,
    RelationUtils.scala:35-53). On a dense cell with n geometries the
    exact-predicate workload is O(envelope-overlapping pairs), the same
    bound the reference's in-cell sweepline achieves
    (GeoMesaJoinRelation.sweeplineJoin:41-55, OverlapAction:25-41)."""
    joined = _pair_candidates(left, right, predicate=predicate,
                              left_geom=left_geom, right_geom=right_geom,
                              res=res, broadcast_right=broadcast_right)
    refine = udf_refine_pairs(predicate)
    out = joined.where(refine(F.col(left_geom), F.col(right_geom))) \
                .drop(*_PAIR_AUX_COLS) \
                .dropDuplicates([left_id, right_id])
    return out
