"""Measures and constructive ops: area, length, centroid, distance,
closest point, geodesics, convex hull, translate, overlays.

Reference semantics (re-implemented from published formulas, no code
copied):
- st_area/st_length planar in degrees (SpatialRelationFunctions.scala:41,49)
- st_distanceSphere: haversine x earth mean radius (spatial4j convention,
  R = 6371008.7714 m; SpatialRelationFunctions.scala:137-141)
- st_distanceSpheroid: ellipsoidal geodesic (GeoTools GeodeticCalculator
  orthodromic distance; we use Vincenty inverse on WGS84;
  GeometricDistanceFunctions.scala:21-43)
- st_lengthSphere: per-segment haversine sum (SpatialRelationFunctions.scala:54)
- st_closestPoint (SpatialRelationFunctions.scala:131-135), st_translate(:24)
- st_convexhull UDAF merge semantics (udaf/ConvexHull.scala:16-51)
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.geo.model import (
    Geometry,
    GeometryCollection,
    LineString,
    MultiPoint,
    MultiPolygon,
    Point,
    Polygon,
    flatten,
)
from geomesa_spark.geo.predicates import (
    _seg_intersection,
    _segments,
    locate,
)

EARTH_MEAN_RADIUS_M = 6371008.7714  # spatial4j DistanceUtils.EARTH_MEAN_RADIUS_KM * 1000
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1 - WGS84_F)


# ------------------------------------------------------------------ planar

def _ring_area2(ring: np.ndarray) -> float:
    """Twice the signed shoelace area."""
    x = ring[:, 0]
    y = ring[:, 1]
    return float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))


def area(g: Geometry) -> float:
    total = 0.0
    for p in flatten(g):
        if isinstance(p, Polygon) and not p.is_empty():
            total += abs(_ring_area2(p.shell)) / 2.0
            for h in p.holes:
                total -= abs(_ring_area2(h)) / 2.0
    return total


def length(g: Geometry) -> float:
    """Planar length; polygon -> perimeter (JTS getLength semantics)."""
    total = 0.0
    for p in flatten(g):
        if isinstance(p, LineString) and len(p.coords) >= 2:
            d = np.diff(p.coords, axis=0)
            total += float(np.hypot(d[:, 0], d[:, 1]).sum())
        elif isinstance(p, Polygon) and not p.is_empty():
            for r in p.rings():
                d = np.diff(r, axis=0)
                total += float(np.hypot(d[:, 0], d[:, 1]).sum())
    return total


def centroid(g: Geometry) -> Point:
    """Dimension-weighted centroid (JTS semantics: highest dim wins)."""
    parts = [p for p in flatten(g) if not p.is_empty()]
    if not parts:
        return Point()
    dim = max(p.dimension() for p in parts)
    if dim == 2:
        # c = (1/(3*A2)) * sum(cross*(x+x1)), holes subtract
        cx0 = cy0 = A2 = 0.0
        for p in parts:
            if isinstance(p, Polygon):
                for sign, ring in [(1.0, p.shell)] + [(-1.0, h) for h in p.holes]:
                    x, y = ring[:-1, 0], ring[:-1, 1]
                    x1, y1 = ring[1:, 0], ring[1:, 1]
                    cross = x * y1 - x1 * y
                    s2 = _ring_area2(ring)
                    orient = 1.0 if s2 >= 0 else -1.0
                    A2 += sign * abs(s2)
                    cx0 += sign * orient * float(np.dot(cross, (x + x1)))
                    cy0 += sign * orient * float(np.dot(cross, (y + y1)))
        if A2 != 0:
            return Point(cx0 / (3 * A2), cy0 / (3 * A2))
        dim = 1
    if dim == 1:
        sx = sy = tot = 0.0
        for p in parts:
            chains = []
            if isinstance(p, LineString):
                chains = [p.coords]
            elif isinstance(p, Polygon):
                chains = p.rings()
            for c in chains:
                d = np.diff(c, axis=0)
                seglen = np.hypot(d[:, 0], d[:, 1])
                midx = (c[:-1, 0] + c[1:, 0]) / 2
                midy = (c[:-1, 1] + c[1:, 1]) / 2
                sx += float(np.dot(seglen, midx))
                sy += float(np.dot(seglen, midy))
                tot += float(seglen.sum())
        if tot != 0:
            return Point(sx / tot, sy / tot)
        dim = 0
    pts = [(p.x, p.y) for p in parts if isinstance(p, Point)]
    if not pts:  # degenerate lines/polys: average their vertices
        vs = np.vstack([p.coords if isinstance(p, LineString) else p.shell
                        for p in parts if not isinstance(p, Point)])
        return Point(float(vs[:, 0].mean()), float(vs[:, 1].mean()))
    arr = np.asarray(pts)
    return Point(float(arr[:, 0].mean()), float(arr[:, 1].mean()))


def envelope(g: Geometry) -> Geometry:
    x0, y0, x1, y1 = g.bounds()
    if not np.isfinite(x0):
        return Polygon(np.empty((0, 2)))
    if x0 == x1 and y0 == y1:
        return Point(x0, y0)
    if x0 == x1 or y0 == y1:
        return LineString([[x0, y0], [x1, y1]])
    return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def _point_seg_dist(px, py, ax, ay, bx, by) -> tuple[float, float, float]:
    """(distance, closest_x, closest_y) from point to segment."""
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0:
        return float(np.hypot(px - ax, py - ay)), ax, ay
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    cx, cy = ax + t * dx, ay + t * dy
    return float(np.hypot(px - cx, py - cy)), cx, cy


def _all_points(g: Geometry) -> np.ndarray:
    chunks = []
    for p in flatten(g):
        if isinstance(p, Point) and not p.is_empty():
            chunks.append(np.asarray([[p.x, p.y]]))
        elif isinstance(p, LineString):
            chunks.append(p.coords)
        elif isinstance(p, Polygon) and not p.is_empty():
            chunks.extend(p.rings())
    return np.vstack(chunks) if chunks else np.empty((0, 2))


def _all_segments(g: Geometry):
    for p in flatten(g):
        if isinstance(p, LineString):
            yield from _segments(p.coords)
        elif isinstance(p, Polygon) and not p.is_empty():
            for r in p.rings():
                yield from _segments(r)


def _part_points(g: Geometry) -> list[tuple[float, float]]:
    """One representative vertex per connected part of ``g``.

    A part whose linework does not cross the other geometry lies wholly
    inside or wholly outside it, so ONE point per part decides interior
    containment — testing only the first point of the whole geometry
    (the previous form) missed multi-part inputs whose later parts are
    the contained ones."""
    reps = []
    for p in flatten(g):
        if isinstance(p, Point) and not p.is_empty():
            reps.append((p.x, p.y))
        elif isinstance(p, LineString) and len(p.coords):
            reps.append((float(p.coords[0, 0]), float(p.coords[0, 1])))
        elif isinstance(p, Polygon) and not p.is_empty():
            r = p.rings()[0]
            reps.append((float(r[0, 0]), float(r[0, 1])))
    return reps


def closest_point(a: Geometry, b: Geometry) -> Point:
    """The point ON a closest to b (JTS DistanceOp semantics, as used by
    st_closestPoint).

    Intersecting inputs short-circuit to a point OF the intersection
    (JTS nearestPoints returns distance-0 locations): a part of b inside
    a's closure, a part of a inside b's closure, or — when neither
    representative vertex is contained but the boundaries cross — a
    line-work intersection point. The vertex/segment loops alone miss
    the crossing case (both hulls' vertices can sit strictly outside the
    other geometry while the interiors still overlap)."""
    # containment / crossing -> distance zero at a shared point
    for (px, py) in _part_points(b):
        if locate(a, px, py) != "E":
            return Point(px, py)
    for (px, py) in _part_points(a):
        if locate(b, px, py) != "E":
            return Point(px, py)
    segs_a = list(_all_segments(a))
    segs_b = list(_all_segments(b))
    for sa1, sa2 in segs_a:
        for sb1, sb2 in segs_b:
            kind, data = _seg_intersection(sa1, sa2, sb1, sb2)
            if kind == "point":
                return Point(data[0], data[1])
            if kind == "overlap":
                return Point(data[0][0], data[0][1])
    best = (np.inf, np.nan, np.nan)
    pts_b = _all_points(b)
    # vertices/points of b vs segments of a
    for (px, py) in pts_b:
        for s1, s2 in segs_a:
            d, cx, cy = _point_seg_dist(px, py, s1[0], s1[1], s2[0], s2[1])
            if d < best[0]:
                best = (d, cx, cy)
    # points of a vs segments of b (closest stays a vertex of a)
    for (px, py) in _all_points(a):
        for s1, s2 in segs_b:
            d, _, _ = _point_seg_dist(px, py, s1[0], s1[1], s2[0], s2[1])
            if d < best[0]:
                best = (d, px, py)
        if not segs_b:
            for (qx, qy) in pts_b:
                d = float(np.hypot(px - qx, py - qy))
                if d < best[0]:
                    best = (d, px, py)
    return Point(best[1], best[2])


def distance(a: Geometry, b: Geometry) -> float:
    """Planar min distance (0 if intersecting)."""
    # cheap containment checks for area geometries
    pa = _all_points(a)
    pb = _all_points(b)
    if len(pa) == 0 or len(pb) == 0:
        return float("nan")
    if any(locate(a, x, y) != "E" for x, y in _part_points(b)) or \
       any(locate(b, x, y) != "E" for x, y in _part_points(a)):
        return 0.0
    segs_a = list(_all_segments(a))
    segs_b = list(_all_segments(b))
    for sa1, sa2 in segs_a:
        for sb1, sb2 in segs_b:
            kind, _ = _seg_intersection(sa1, sa2, sb1, sb2)
            if kind != "none":
                return 0.0
    best = np.inf
    if segs_b:
        for (px, py) in pa:
            for s1, s2 in segs_b:
                d, _, _ = _point_seg_dist(px, py, s1[0], s1[1], s2[0], s2[1])
                best = min(best, d)
    if segs_a:
        for (px, py) in pb:
            for s1, s2 in segs_a:
                d, _, _ = _point_seg_dist(px, py, s1[0], s1[1], s2[0], s2[1])
                best = min(best, d)
    if not segs_a and not segs_b:
        dx = pa[:, None, 0] - pb[None, :, 0]
        dy = pa[:, None, 1] - pb[None, :, 1]
        best = float(np.sqrt(dx * dx + dy * dy).min())
    return float(best)


# ---------------------------------------------------------------- geodesy

def haversine_m(lon1, lat1, lon2, lat2):
    """Vectorized sphere distance in meters (st_distanceSphere semantics)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64))
                              for v in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def haversine_expr(lon1: str, lat1: str, lon2: str, lat2: str):
    """``haversine_m`` between named columns as ONE Catalyst expression
    (codegen, no Python worker) built in a single JVM call."""
    from pyspark.sql import functions as F
    x1, y1, x2, y2 = (f"radians(`{c}`)" for c in (lon1, lat1, lon2, lat2))
    a = (f"power(sin(({y2} - {y1}) / 2), 2)"
         f" + cos({y1}) * cos({y2}) * power(sin(({x2} - {x1}) / 2), 2)")
    # clamp: float rounding can push a epsilon past 1 for antipodes
    return F.expr(f"asin(least(1.0D, sqrt({a}))) * {2 * EARTH_MEAN_RADIUS_M!r}D")


def vincenty_m(lon1, lat1, lon2, lat2, iterations: int = 200, tol: float = 1e-12):
    """Vectorized WGS84 ellipsoid inverse distance (Vincenty, meters).

    st_distanceSpheroid semantics (GeodeticCalculator orthodromic distance).
    Falls back to haversine for near-antipodal non-convergence.
    """
    lon1, lat1, lon2, lat2 = (np.atleast_1d(np.asarray(v, dtype=np.float64))
                              for v in (lon1, lat1, lon2, lat2))
    f = WGS84_F
    L = np.radians(lon2 - lon1)
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)
    lam = L.copy()
    for _ in range(iterations):
        sinLam, cosLam = np.sin(lam), np.cos(lam)
        sinSigma = np.sqrt((cosU2 * sinLam) ** 2
                           + (cosU1 * sinU2 - sinU1 * cosU2 * cosLam) ** 2)
        cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosLam
        sigma = np.arctan2(sinSigma, cosSigma)
        with np.errstate(divide="ignore", invalid="ignore"):
            sinAlpha = np.where(sinSigma != 0, cosU1 * cosU2 * sinLam / np.where(
                sinSigma == 0, 1, sinSigma), 0.0)
        cos2Alpha = 1 - sinAlpha ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            cos2SigmaM = np.where(cos2Alpha != 0,
                                  cosSigma - 2 * sinU1 * sinU2 / np.where(
                                      cos2Alpha == 0, 1, cos2Alpha), 0.0)
        C = f / 16 * cos2Alpha * (4 + f * (4 - 3 * cos2Alpha))
        lamPrev = lam
        lam = L + (1 - C) * f * sinAlpha * (
            sigma + C * sinSigma * (
                cos2SigmaM + C * cosSigma * (-1 + 2 * cos2SigmaM ** 2)))
        if np.all(np.abs(lam - lamPrev) < tol):
            break
    u2 = cos2Alpha * (WGS84_A ** 2 - WGS84_B ** 2) / WGS84_B ** 2
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dSigma = B * sinSigma * (cos2SigmaM + B / 4 * (
        cosSigma * (-1 + 2 * cos2SigmaM ** 2)
        - B / 6 * cos2SigmaM * (-3 + 4 * sinSigma ** 2) * (-3 + 4 * cos2SigmaM ** 2)))
    out = WGS84_B * A * (sigma - dSigma)
    same = (lon1 == lon2) & (lat1 == lat2)
    out = np.where(same, 0.0, out)
    bad = ~np.isfinite(out)
    if np.any(bad):
        out = np.where(bad, haversine_m(lon1, lat1, lon2, lat2), out)
    return out


def length_sphere(g: Geometry) -> float:
    """Per-segment haversine sum in meters (st_lengthSphere)."""
    total = 0.0
    for p in flatten(g):
        chains = []
        if isinstance(p, LineString):
            chains = [p.coords]
        elif isinstance(p, Polygon) and not p.is_empty():
            chains = p.rings()
        for c in chains:
            if len(c) >= 2:
                total += float(np.sum(haversine_m(c[:-1, 0], c[:-1, 1],
                                                  c[1:, 0], c[1:, 1])))
    return total


def length_spheroid(g: Geometry) -> float:
    total = 0.0
    for p in flatten(g):
        chains = []
        if isinstance(p, LineString):
            chains = [p.coords]
        elif isinstance(p, Polygon) and not p.is_empty():
            chains = p.rings()
        for c in chains:
            if len(c) >= 2:
                total += float(np.sum(vincenty_m(c[:-1, 0], c[:-1, 1],
                                                 c[1:, 0], c[1:, 1])))
    return total


# -------------------------------------------------------------- convex hull

def convex_hull_points(pts: np.ndarray) -> Geometry:
    """Monotone-chain hull of an (N,2) array -> Point/LineString/Polygon."""
    pts = np.unique(pts[np.all(np.isfinite(pts), axis=1)], axis=0)
    if len(pts) == 0:
        return Polygon(np.empty((0, 2)))
    if len(pts) == 1:
        return Point(pts[0, 0], pts[0, 1])
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def build(points):
        out: list = []
        for p in points:
            while len(out) >= 2 and _cross(out[-2], out[-1], p) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = build(pts)
    upper = build(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return LineString([pts[0], pts[-1]])
    return Polygon(np.asarray(hull + hull[:1]))


def _cross(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def convex_hull(g: Geometry) -> Geometry:
    """Convex hull of a single geometry (JTS Geometry.convexHull semantics:
    point for <=1 distinct vertex, line for 2 collinear-degenerate input,
    CCW polygon otherwise). Backs the scalar st_convexHull function; the
    grouped aggregate lives in operators/export.py."""
    return convex_hull_points(_all_points(g))


def translate(g: Geometry, dx: float, dy: float) -> Geometry:
    if isinstance(g, Point):
        return Point(g.x + dx, g.y + dy, g.m)
    if isinstance(g, LineString):
        return LineString(g.coords + [dx, dy])
    if isinstance(g, Polygon):
        return Polygon(g.shell + [dx, dy], [h + [dx, dy] for h in g.holes])
    cls = type(g)
    return cls([translate(p, dx, dy) for p in g.parts])


