"""DE-9IM relate engine and named spatial predicates.

Re-implements (from published DE-9IM semantics, OGC SFA / Clementini) the
predicate surface the reference delegates to JTS in
SpatialRelationFunctions.scala:24-59 (/root/reference/geomesa-spark/
geomesa-spark-jts/src/main/scala/.../udf/SpatialRelationFunctions.scala):
st_contains/covers/crosses/disjoint/equals/intersects/overlaps/touches/
within/relate/relateBool.

Strategy: compute the 9-intersection matrix from first principles —
  * ``locate(g, p)``: point-in-geometry classification (Interior/Boundary/
    Exterior) via exact segment tests and ray casting,
  * segment-arrangement sampling: each geometry's 1D line-work is split at
    every intersection with the other geometry's line-work; sub-segment
    midpoints plus vertices plus representative interior points classify
    every matrix cell,
  * the exterior row is the transposed interior/boundary column of
    relate(b, a); EE is always 2 for bounded geometries.

Exact float arithmetic (no epsilon): suits the integer-ish coordinates of
the reference's truth-table fixtures and typical data. Covers may
over-select upstream; this engine is the *exact refinement* step.
"""

from __future__ import annotations

import numpy as np

from geomesa_spark.geo.model import (
    Geometry,
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPoint,
    MultiPolygon,
    Point,
    Polygon,
    flatten,
)

F = -1  # empty intersection dimension


# ------------------------------------------------------------ primitives

def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_segment(px, py, ax, ay, bx, by) -> bool:
    if _orient(ax, ay, bx, by, px, py) != 0.0:
        return False
    return (min(ax, bx) <= px <= max(ax, bx)) and (min(ay, by) <= py <= max(ay, by))


def _seg_intersection(a1, a2, b1, b2):
    """Intersection of segments [a1,a2] and [b1,b2].

    Returns ('none', None) | ('point', (x, y)) | ('overlap', ((x1,y1),(x2,y2))).
    """
    ax, ay = a1
    bx, by = a2
    cx, cy = b1
    dx, dy = b2
    d1 = _orient(cx, cy, dx, dy, ax, ay)
    d2 = _orient(cx, cy, dx, dy, bx, by)
    d3 = _orient(ax, ay, bx, by, cx, cy)
    d4 = _orient(ax, ay, bx, by, dx, dy)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and d1 != 0 and d2 != 0 \
            and d3 != 0 and d4 != 0:
        # proper crossing
        t = d1 / (d1 - d2)
        return "point", (ax + t * (bx - ax), ay + t * (by - ay))
    if d1 == 0 and d2 == 0 and d3 == 0 and d4 == 0:
        # collinear: order along the dominant axis — the SAME key must
        # drive both the sort and the lo/hi comparisons (sorting by y but
        # comparing tuples x-first picked wrong endpoints for steep
        # negative-slope segments, where x decreases as y increases)
        if abs(bx - ax) >= abs(by - ay):
            key = lambda p: (p[0], p[1])  # noqa: E731
        else:
            key = lambda p: (p[1], p[0])  # noqa: E731
        pts = sorted([(ax, ay), (bx, by)], key=key)
        qts = sorted([(cx, cy), (dx, dy)], key=key)
        lo = max(pts[0], qts[0], key=key)
        hi = min(pts[1], qts[1], key=key)
        if key(lo) > key(hi):
            return "none", None
        if key(lo) == key(hi):
            return "point", lo
        return "overlap", (lo, hi)
    # non-collinear touching cases
    for p, (sa, sb) in (((ax, ay), (b1, b2)), ((bx, by), (b1, b2))):
        if _on_segment(p[0], p[1], sa[0], sa[1], sb[0], sb[1]):
            return "point", p
    for p in (b1, b2):
        if _on_segment(p[0], p[1], ax, ay, bx, by):
            return "point", tuple(p)
    return "none", None


def _segments(coords: np.ndarray):
    for i in range(len(coords) - 1):
        a = (float(coords[i, 0]), float(coords[i, 1]))
        b = (float(coords[i + 1, 0]), float(coords[i + 1, 1]))
        if a != b:
            yield a, b


# ----------------------------------------------------- geometry line-work

def _linework(g: Geometry) -> list[np.ndarray]:
    """All 1D coordinate chains: line coords and polygon rings."""
    out = []
    for p in flatten(g):
        if isinstance(p, LineString) and not p.is_empty():
            out.append(p.coords)
        elif isinstance(p, Polygon) and not p.is_empty():
            out.extend(p.rings())
    return out


def _points_of(g: Geometry) -> list[tuple[float, float]]:
    return [(p.x, p.y) for p in flatten(g)
            if isinstance(p, Point) and not p.is_empty()]


def _line_boundary_points(g: Geometry) -> list[tuple[float, float]]:
    """Mod-2 endpoints of the line parts (OGC boundary of (Multi)LineString).

    Closed rings contribute no boundary."""
    counts: dict[tuple[float, float], int] = {}
    for p in flatten(g):
        if isinstance(p, LineString) and len(p.coords) >= 2:
            for e in (p.coords[0], p.coords[-1]):
                k = (float(e[0]), float(e[1]))
                counts[k] = counts.get(k, 0) + 1
    return [k for k, v in counts.items() if v % 2 == 1]


def _point_vs_ring(px, py, ring: np.ndarray) -> str:
    """'B' on the ring, 'I' strictly inside, 'E' outside (ray cast)."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        ax, ay = float(ring[i, 0]), float(ring[i, 1])
        bx, by = float(ring[i + 1, 0]), float(ring[i + 1, 1])
        if (ax, ay) == (bx, by):
            continue
        if _on_segment(px, py, ax, ay, bx, by):
            return "B"
        if (ay > py) != (by > py):
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
            if xint > px:
                inside = not inside
    return "I" if inside else "E"


def _locate_polygon(px, py, poly: Polygon) -> str:
    loc = _point_vs_ring(px, py, poly.shell)
    if loc != "I":
        return loc
    for h in poly.holes:
        hloc = _point_vs_ring(px, py, h)
        if hloc == "B":
            return "B"
        if hloc == "I":
            return "E"
    return "I"


def locate(g: Geometry, px: float, py: float) -> str:
    """Classify point against g: 'I' interior, 'B' boundary, 'E' exterior."""
    best = "E"
    bpts = None
    for part in flatten(g):
        if part.is_empty():
            continue
        if isinstance(part, Point):
            if (px, py) == (part.x, part.y):
                return "I"
        elif isinstance(part, LineString):
            on = any(_on_segment(px, py, a[0], a[1], b[0], b[1])
                     for a, b in _segments(part.coords))
            if on:
                if bpts is None:
                    bpts = set(_line_boundary_points(g))
                loc = "B" if (px, py) in bpts else "I"
                if loc == "I":
                    return "I"
                best = "B"
        elif isinstance(part, Polygon):
            loc = _locate_polygon(px, py, part)
            if loc == "I":
                return "I"
            if loc == "B":
                best = "B"
    return best


def representative_point(poly: Polygon) -> tuple[float, float]:
    """A point strictly inside the polygon (horizontal-scanline method)."""
    ys = np.unique(np.concatenate([r[:, 1] for r in poly.rings()]))
    for i in range(len(ys) - 1):
        y = (float(ys[i]) + float(ys[i + 1])) / 2.0
        xs: list[float] = []
        for ring in poly.rings():
            for a, b in _segments(ring):
                ay, by = a[1], b[1]
                if (ay > y) != (by > y):
                    xs.append(a[0] + (y - ay) * (b[0] - a[0]) / (by - ay))
        xs.sort()
        for j in range(0, len(xs) - 1, 2):
            if xs[j + 1] > xs[j]:
                x = (xs[j] + xs[j + 1]) / 2.0
                if _locate_polygon(x, y, poly) == "I":
                    return (x, y)
    # degenerate fallback: mean of shell
    c = poly.shell
    return (float(c[:, 0].mean()), float(c[:, 1].mean()))


def _split_samples(lines_a: list[np.ndarray], lines_b: list[np.ndarray]):
    """Split a's line-work at every intersection with b's line-work.

    Returns (midpoints of a's sub-segments, intersection points, whether any
    positive-length collinear overlap exists, whether any proper crossing
    exists).
    """
    segs_b = [s for lb in lines_b for s in _segments(lb)]
    mids: list[tuple[float, float]] = []
    ipts: list[tuple[float, float]] = []
    overlap = False
    for la in lines_a:
        for a1, a2 in _segments(la):
            ts = [0.0, 1.0]
            dx, dy = a2[0] - a1[0], a2[1] - a1[1]
            L2 = dx * dx + dy * dy
            if L2 == 0.0:
                # degenerate segment (identical or subnormal-length
                # endpoints whose squared length underflows): treat as a
                # single sample point, no parameter splitting possible
                mids.append((a1[0], a1[1]))
                continue
            for b1, b2 in segs_b:
                kind, data = _seg_intersection(a1, a2, b1, b2)
                if kind == "point":
                    ipts.append(data)
                    ts.append(((data[0] - a1[0]) * dx + (data[1] - a1[1]) * dy) / L2)
                elif kind == "overlap":
                    overlap = True
                    for p in data:
                        ipts.append(p)
                        ts.append(((p[0] - a1[0]) * dx + (p[1] - a1[1]) * dy) / L2)
            ts = sorted({min(1.0, max(0.0, t)) for t in ts})
            for t0, t1 in zip(ts, ts[1:]):
                if t1 > t0:
                    tm = (t0 + t1) / 2.0
                    mids.append((a1[0] + tm * dx, a1[1] + tm * dy))
    return mids, ipts, overlap


# ------------------------------------------------------------- relate rows

def _dim(g: Geometry) -> int:
    return g.dimension()


def _ib_rows(a: Geometry, b: Geometry) -> tuple[int, int, int, int, int, int]:
    """(II, IB, IE, BI, BB, BE) of relate(a, b)."""
    da = _dim(a)
    lines_a = _linework(a)
    lines_b = _linework(b)
    mids, ipts, overlap = _split_samples(lines_a, lines_b) if lines_a else ([], [], False)

    ii = ib = ie = bi = bb = be = F

    if da == 0:
        for (px, py) in _points_of(a):
            loc = locate(b, px, py)
            if loc == "I":
                ii = max(ii, 0)
            elif loc == "B":
                ib = max(ib, 0)
            else:
                ie = max(ie, 0)
        return ii, ib, ie, bi, bb, be

    if da == 1:
        bnd = set(_line_boundary_points(a))
        # interior of a: sub-segment midpoints (dim-1 pieces) + intersection
        # points interior to a (dim-0 touches)
        for (px, py) in mids:
            la = locate(b, px, py)
            if la == "I":
                ii = max(ii, 1)
            elif la == "B":
                ib = max(ib, 1)
            else:
                ie = max(ie, 1)
        for (px, py) in ipts:
            if (px, py) in bnd:
                continue
            lb = locate(b, px, py)
            if lb == "I":
                ii = max(ii, 0)
            elif lb == "B":
                ib = max(ib, 0)
        # vertices of a that are not boundary: interior dim-0 probes
        for la_coords in lines_a:
            for v in la_coords:
                pv = (float(v[0]), float(v[1]))
                if pv in bnd:
                    continue
                lb = locate(b, pv[0], pv[1])
                if lb == "I":
                    ii = max(ii, 0)
                elif lb == "B":
                    ib = max(ib, 0)
        # boundary endpoints of a
        for (px, py) in _line_boundary_points(a):
            loc = locate(b, px, py)
            if loc == "I":
                bi = max(bi, 0)
            elif loc == "B":
                bb = max(bb, 0)
            else:
                be = max(be, 0)
        return ii, ib, ie, bi, bb, be

    # da == 2: boundary of a = its rings (the line-work); interior = area
    db = _dim(b)
    # boundary row from ring sub-segment samples
    for (px, py) in mids:
        loc = locate(b, px, py)
        if loc == "I":
            bi = max(bi, 1 if db >= 2 or overlap else bi)
            if db == 2:
                bi = max(bi, 1)
            elif db == 1:
                bi = max(bi, 1 if overlap else bi)
        if loc == "B":
            bb = max(bb, 1)
        if loc == "E":
            be = max(be, 1)
    for (px, py) in ipts:
        loc = locate(b, px, py)
        if loc == "I":
            bi = max(bi, 0)
        elif loc == "B":
            bb = max(bb, 0)
    # interior row
    polys_a = [p for p in flatten(a) if isinstance(p, Polygon) and not p.is_empty()]
    # II: representative points both ways + boundary samples of b inside a
    for pa in polys_a:
        rp = representative_point(pa)
        if locate(b, rp[0], rp[1]) == "I":
            ii = 2
    if ii == F and db == 2:
        for pb in (p for p in flatten(b) if isinstance(p, Polygon) and not p.is_empty()):
            rp = representative_point(pb)
            if locate(a, rp[0], rp[1]) == "I":
                ii = 2
    if ii == F:
        mids_b, _, _ = _split_samples(lines_b, lines_a) if lines_b else ([], [], False)
        for (px, py) in mids_b:
            if locate(a, px, py) == "I":
                ii = 2 if db == 2 else ii
                break
    # I(a) ∩ I(b) / B(b) / E(b) for lower-dim b via b's samples inside a
    if db <= 1:
        mids_b, ipts_b, _ = _split_samples(lines_b, lines_a) if lines_b else ([], [], False)
        bnd_b = set(_line_boundary_points(b)) if db == 1 else set()
        for (px, py) in mids_b + _points_of(b):
            if locate(a, px, py) == "I":
                ii = max(ii, db)
        for (px, py) in bnd_b | set(_points_of(b) if db == 0 else []):
            pass  # handled via transpose for EI/EB; IB below
    # IB: boundary of b intersect interior of a
    if db == 2:
        mids_b, _, _ = _split_samples(lines_b, lines_a) if lines_b else ([], [], False)
        for (px, py) in mids_b:
            if locate(a, px, py) == "I":
                ib = max(ib, 1)
    elif db == 1:
        for (px, py) in _line_boundary_points(b):
            if locate(a, px, py) == "I":
                ib = max(ib, 0)
    # IE: a's interior outside b <=> a not covered by b
    if db == 2:
        ie = F if _area_covered_by(a, b, mids) else 2
    else:
        ie = 2 if polys_a else F  # 0/1-dim b can never cover an area
    return ii, ib, ie, bi, bb, be


def _area_covered_by(a: Geometry, b: Geometry, mids_a) -> bool:
    """closure(a) within closure(b) for polygonal a, b (heuristic-exact for
    non-pathological inputs): every boundary sample of a in b's closure, a's
    representative point in b's closure, and no hole of b strictly inside a.
    """
    for (px, py) in mids_a:
        if locate(b, px, py) == "E":
            return False
    for pa in flatten(a):
        if not isinstance(pa, Polygon) or pa.is_empty():
            continue
        rp = representative_point(pa)
        if locate(b, rp[0], rp[1]) == "E":
            return False
        for ring in pa.rings():
            for v in ring:
                if locate(b, float(v[0]), float(v[1])) == "E":
                    return False
    for pb in flatten(b):
        if isinstance(pb, Polygon):
            for hole in pb.holes:
                hp = representative_point(Polygon(hole))
                if locate(a, hp[0], hp[1]) == "I":
                    return False
    return True


def relate_dims(a: Geometry, b: Geometry) -> list[int]:
    """The 9 DE-9IM dims, row-major (II IB IE BI BB BE EI EB EE)."""
    if a.is_empty() or b.is_empty():
        out = [F] * 9
        out[8] = 2
        if not a.is_empty():
            out[2] = _dim(a)  # IE
            out[5] = 0 if _dim(a) == 1 else (1 if _dim(a) == 2 else F)  # BE
        if not b.is_empty():
            out[6] = _dim(b)  # EI
            out[7] = 0 if _dim(b) == 1 else (1 if _dim(b) == 2 else F)  # EB
        return out
    ii, ib, ie, bi, bb, be = _ib_rows(a, b)
    ii2, ib2, ie2, bi2, bb2, be2 = _ib_rows(b, a)
    # reconcile symmetric cells computed from both directions
    ii = max(ii, ii2)
    ib = max(ib, bi2)
    bi = max(bi, ib2)
    bb = max(bb, bb2)
    ei, eb = ie2, be2
    return [ii, ib, ie, bi, bb, be, ei, eb, 2]


def relate(a: Geometry, b: Geometry) -> str:
    """DE-9IM matrix string, e.g. 'T*F**FFF*' style chars from {F,0,1,2}."""
    return "".join("F" if d == F else str(d) for d in relate_dims(a, b))


def relate_bool(a: Geometry, b: Geometry, pattern: str) -> bool:
    return _matches(relate_dims(a, b), pattern)


def _matches(dims: list[int], pattern: str) -> bool:
    for d, p in zip(dims, pattern):
        if p == "*":
            continue
        if p == "T":
            if d == F:
                return False
        elif p == "F":
            if d != F:
                return False
        elif d != int(p):
            return False
    return True


# ------------------------------------------------------- named predicates

def intersects(a: Geometry, b: Geometry) -> bool:
    # a collection intersects iff one of its parts does: the matrix of a
    # mixed-dimension collection misses a lower-dimension part's contact
    if isinstance(a, GeometryCollection):
        return any(intersects(p, b) for p in a.parts)
    if isinstance(b, GeometryCollection):
        return any(intersects(a, p) for p in b.parts)
    d = relate_dims(a, b)
    return d[0] != F or d[1] != F or d[3] != F or d[4] != F


def disjoint(a: Geometry, b: Geometry) -> bool:
    return not intersects(a, b)


def contains(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    return d[0] != F and d[6] == F and d[7] == F


def within(a: Geometry, b: Geometry) -> bool:
    return contains(b, a)


def covers(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    return d[6] == F and d[7] == F and (d[0] != F or d[1] != F or d[3] != F or d[4] != F)


def covered_by(a: Geometry, b: Geometry) -> bool:
    return covers(b, a)


def touches(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    return d[0] == F and (d[1] != F or d[3] != F or d[4] != F)


def crosses(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    da, db = _dim(a), _dim(b)
    if da < db:
        return d[0] != F and d[2] != F
    if da > db:
        return d[0] != F and d[6] != F
    if da == 1 and db == 1:
        return d[0] == 0
    return False


def overlaps(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    da, db = _dim(a), _dim(b)
    if da != db:
        return False
    if da == 1:
        return d[0] == 1 and d[2] != F and d[6] != F
    return d[0] != F and d[2] != F and d[6] != F


def equals(a: Geometry, b: Geometry) -> bool:
    d = relate_dims(a, b)
    return d[0] != F and d[2] == F and d[5] == F and d[6] == F and d[7] == F
