"""General polygon overlay truth tables + invariants (the reference's
SpatialRelationFunctionsTest intersection/difference blocks, extended to
the concave/holed/multi-part cases JTS handles):

- exact areas for hand-checked concave x concave cases,
- hole creation on partial difference,
- Monte-Carlo point-classification oracle: for random non-boundary
  points, p in (A ∩ B) iff p in A and p in B; p in (A − B) iff p in A
  and not in B,
- area conservation: area(A∩B) + area(A−B) = area(A)."""

from __future__ import annotations

import numpy as np
import pytest

from geomesa_spark.geo import io as gio
from geomesa_spark.geo import process as PR
from geomesa_spark.geo.io import to_wkt
from geomesa_spark.geo.measures import area as geo_area
from geomesa_spark.geo.model import (GeometryCollection, LineString, Point,
                                     Polygon)
from geomesa_spark.geo.predicates import locate
from geomesa_spark.geo.process import difference, intersection

L_SHAPE = ("POLYGON((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))")  # area 7
U_SHAPE = ("POLYGON((0 0, 5 0, 5 3, 4 3, 4 1, 1 1, 1 3, 0 3, 0 0))")
CROSS = ("POLYGON((2 0, 3 0, 3 2, 5 2, 5 3, 3 3, 3 5, 2 5, 2 3, 0 3, "
         "0 2, 2 2, 2 0))")  # plus-shaped, area 9
BOX = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
HOLED = ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
         "(3 3, 7 3, 7 7, 3 7, 3 3))")  # area 84


def _mc_check(a_wkt, b_wkt, n=4000, seed=5):
    """Monte-Carlo classification oracle over the combined bbox."""
    a = gio.from_wkt(a_wkt)
    b = gio.from_wkt(b_wkt)
    inter = intersection(a, b)
    diff = difference(a, b)
    ax0, ay0, ax1, ay1 = a.bounds()
    bx0, by0, bx1, by1 = b.bounds()
    x0, y0 = min(ax0, bx0) - 0.5, min(ay0, by0) - 0.5
    x1, y1 = max(ax1, bx1) + 0.5, max(ay1, by1) + 0.5
    rng = np.random.default_rng(seed)
    xs = rng.uniform(x0, x1, n)
    ys = rng.uniform(y0, y1, n)
    for x, y in zip(xs, ys):
        la, lb = locate(a, x, y), locate(b, x, y)
        if la == "B" or lb == "B":
            continue  # boundary: measure-zero, skip
        want_i = la == "I" and lb == "I"
        want_d = la == "I" and lb == "E"
        got_i = locate(inter, x, y) if not inter.is_empty() else "E"
        got_d = locate(diff, x, y) if not diff.is_empty() else "E"
        assert (got_i == "I") == want_i, ("inter", x, y, la, lb, got_i)
        assert (got_d == "I") == want_d, ("diff", x, y, la, lb, got_d)
    # area conservation (within float noise)
    ia = geo_area(inter) if not inter.is_empty() else 0.0
    da = geo_area(diff) if not diff.is_empty() else 0.0
    np.testing.assert_allclose(ia + da, geo_area(a), rtol=1e-9, atol=1e-9)
    return inter, diff


class TestConcaveOverlay:
    def test_l_shapes_crossing(self):
        # L-shape x its 90-degree "mirror" — concave x concave
        b = "POLYGON((0 0, 1 0, 1 3, 4 3, 4 4, 0 4, 0 0))"
        inter, diff = _mc_check(L_SHAPE, b)
        # overlap: 1x1 corner box + 1x3 arm overlap = handchecked 4
        np.testing.assert_allclose(geo_area(inter), 4.0, rtol=1e-12)
        np.testing.assert_allclose(geo_area(diff), 3.0, rtol=1e-12)

    def test_cross_and_l(self):
        _mc_check(CROSS, L_SHAPE)

    def test_cross_and_u(self):
        _mc_check(CROSS, U_SHAPE)

    def test_disjoint_concave(self):
        a = gio.from_wkt(L_SHAPE)
        from geomesa_spark.geo.measures import translate
        b = translate(gio.from_wkt(CROSS), 20.0, 0.0)
        assert intersection(a, b).is_empty()
        d = difference(a, b)
        np.testing.assert_allclose(geo_area(d), geo_area(a))

    def test_contained_concave(self):
        # L-shape fully inside the big box
        inter, diff = _mc_check(L_SHAPE, BOX)
        np.testing.assert_allclose(geo_area(inter), 7.0, rtol=1e-12)
        assert geo_area(diff) < 1e-12 or diff.is_empty()

    def test_partial_difference_creates_hole(self):
        # box minus a smaller box strictly inside -> polygon WITH a hole
        small = "POLYGON((4 4, 6 4, 6 6, 4 6, 4 4))"
        inter, diff = _mc_check(BOX, small)
        np.testing.assert_allclose(geo_area(diff), 96.0, rtol=1e-12)
        from geomesa_spark.geo.model import Polygon
        assert isinstance(diff, Polygon) and len(diff.holes) == 1

    def test_difference_notch(self):
        # box minus a box overlapping one edge -> concave result, no hole
        notch = "POLYGON((4 -1, 6 -1, 6 5, 4 5, 4 -1))"
        inter, diff = _mc_check(BOX, notch)
        np.testing.assert_allclose(geo_area(inter), 10.0, rtol=1e-12)
        np.testing.assert_allclose(geo_area(diff), 90.0, rtol=1e-12)

    def test_difference_splits_into_two_parts(self):
        # vertical slab through the middle splits the box in two
        slab = "POLYGON((4 -1, 6 -1, 6 11, 4 11, 4 -1))"
        inter, diff = _mc_check(BOX, slab)
        from geomesa_spark.geo.model import MultiPolygon
        assert isinstance(diff, MultiPolygon) and len(diff.parts) == 2
        np.testing.assert_allclose(geo_area(diff), 80.0, rtol=1e-12)

    def test_holed_input_intersection(self):
        # clipper overlapping the hole: hole must survive in the result
        clip = "POLYGON((2 2, 8 2, 8 8, 2 8, 2 2))"
        inter, diff = _mc_check(HOLED, clip)
        np.testing.assert_allclose(geo_area(inter), 36.0 - 16.0,
                                   rtol=1e-12)

    def test_holed_minus_holed(self):
        other = ("POLYGON((5 5, 15 5, 15 15, 5 15, 5 5), "
                 "(8 8, 12 8, 12 12, 8 12, 8 8))")
        _mc_check(HOLED, other)

    def test_multipolygon_sides(self):
        a = ("MULTIPOLYGON(((0 0, 4 0, 4 4, 0 4, 0 0)), "
             "((6 0, 10 0, 10 4, 6 4, 6 0)))")
        b = "POLYGON((2 2, 8 2, 8 6, 2 6, 2 2))"
        inter, diff = _mc_check(a, b)
        np.testing.assert_allclose(geo_area(inter), 8.0, rtol=1e-12)

    def test_shared_edge_intersection(self):
        # adjacent boxes sharing an edge: areal intersection is empty
        left = "POLYGON((0 0, 5 0, 5 10, 0 10, 0 0))"
        right = "POLYGON((5 0, 10 0, 10 10, 5 10, 5 0))"
        inter = intersection(gio.from_wkt(left), gio.from_wkt(right))
        assert inter.is_empty() or geo_area(inter) < 1e-12

    def test_identical_polygons(self):
        inter, diff = _mc_check(L_SHAPE, L_SHAPE, n=1500)
        np.testing.assert_allclose(geo_area(inter), 7.0, rtol=1e-12)
        assert diff.is_empty() or geo_area(diff) < 1e-12

    @pytest.mark.parametrize("seed", [11, 12, 13, 14])
    def test_random_orthogonal_polygons(self, seed):
        """Random rectilinear concave polygons (union of staircase
        boxes) vs each other — MC oracle only."""
        rng = np.random.default_rng(seed)

        def stair(ox, oy):
            # build a staircase polygon: w x h, minus steps
            pts = [(ox, oy)]
            x, y = ox, oy
            for _ in range(3):
                dx = float(rng.integers(1, 4))
                dy = float(rng.integers(1, 4))
                x += dx
                pts.append((x, y))
                y += dy
                pts.append((x, y))
            pts.append((ox, y))
            pts.append((ox, oy))
            return "POLYGON((" + ", ".join(
                f"{p[0]} {p[1]}" for p in pts) + "))"
        _mc_check(stair(0, 0), stair(1.5, 0.5), n=2500, seed=seed)


@pytest.mark.parametrize("trial", range(8))
def test_random_star_polygons(trial):
    """Non-rectilinear concave pairs (random star polygons): MC
    classification + area conservation — the regression net for the
    boundary-walk overlay's float-geometry handling."""
    from geomesa_spark.geo.model import Polygon

    def star(rng, cx, cy, n=9, rmin=0.5, rmax=3.0):
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        if np.min(np.diff(ang)) < 1e-3:
            ang = ang + np.linspace(0, 1e-2, n)
        r = rng.uniform(rmin, rmax, n)
        ring = np.column_stack([cx + r * np.cos(ang),
                                cy + r * np.sin(ang)])
        return Polygon(np.vstack([ring, ring[:1]]))

    rng = np.random.default_rng(3000 + trial)
    a = star(rng, 0.0, 0.0)
    b = star(rng, rng.uniform(-1.5, 1.5), rng.uniform(-1.5, 1.5))
    inter = intersection(a, b)
    diff = difference(a, b)
    ia = geo_area(inter) if not inter.is_empty() else 0.0
    da = geo_area(diff) if not diff.is_empty() else 0.0
    np.testing.assert_allclose(ia + da, geo_area(a), rtol=1e-6)
    pts = rng.uniform(-4, 4, size=(600, 2))
    for x, y in pts:
        la, lb = locate(a, x, y), locate(b, x, y)
        if la == "B" or lb == "B":
            continue
        want_i = la == "I" and lb == "I"
        want_d = la == "I" and lb == "E"
        gi = (locate(inter, x, y) == "I") if not inter.is_empty() else False
        gd = (locate(diff, x, y) == "I") if not diff.is_empty() else False
        assert gi == want_i and gd == want_d, (trial, x, y)


def _box(x0, y0, x1, y1):
    return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


class TestAntimeridianHoles:
    def test_holed_polygon_keeps_hole(self):
        """The convex clip fast path dropped holes, silently re-including
        the hole region in the world-clipped output."""
        shell = [[150, -20], [210, -20], [210, 20], [150, 20], [150, -20]]
        hole = [[170, -5], [190, -5], [190, 5], [170, 5], [170, -5]]
        g = Polygon(shell, [hole])
        safe = PR.antimeridian_safe(g)
        # a point inside the hole must stay exterior
        assert locate(safe, 175.0, 0.0) == "E"
        assert locate(safe, 160.0, 10.0) != "E"  # shell region kept
        # the wrapped lobe also lands on the west side, hole excluded there
        assert locate(safe, -175.0, 10.0) != "E"


class TestDim1Intersection:
    def test_geometrycollection_linework_intersected(self):
        gc = GeometryCollection([LineString([[0, 0], [10, 0]]),
                                 Point(50, 50)])
        r = PR.intersection(gc, _box(2, -1, 8, 1))
        assert to_wkt(r) == "LINESTRING (2 0, 8 0)"

    def test_crossing_lines_still_yield_point(self):
        """The point fallback (now computed lazily) must still fire."""
        r = PR.intersection(LineString([[0, 0], [10, 10]]),
                            LineString([[0, 10], [10, 0]]))
        assert to_wkt(r) == "POINT (5 5)"
