"""Spatial-join equivalence oracle: engine output must equal the brute-force
cartesian result — the reference's own oracle pattern
(SparkSQLDataTest.scala:298-352, seeded generators SparkSQLTestUtils.scala:
36-37,93-112)."""

import numpy as np
import pytest

from geomesa_spark.geo import Point, Polygon, to_wkb
from geomesa_spark.geo import io as gio
from geomesa_spark.operators.join import (
    locate_points_in_geometry,
    spatial_join,
    spatial_join_pairs,
)

RNG = np.random.default_rng(0)
N_POINTS = 400
N_BOXES = 120


def make_points():
    lon = RNG.uniform(-180, 180, N_POINTS)
    lat = RNG.uniform(-90, 90, N_POINTS)
    return lon, lat


def make_boxes(n, rng):
    boxes = []
    for j in range(n):
        cx = rng.uniform(-180, 180)
        cy = rng.uniform(-90, 90)
        hw = 1.5 * rng.uniform()
        hh = 0.5 * rng.uniform()
        boxes.append((str(j + 1), cx - hw, cy - hh, cx + hw, cy + hh))
    return boxes


LON, LAT = make_points()
BOXES = make_boxes(N_BOXES, RNG)


def box_poly(x0, y0, x1, y1):
    return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def brute_force_pairs(predicate="st_contains"):
    out = set()
    for (bid, x0, y0, x1, y1) in BOXES:
        if predicate == "st_contains":
            hit = (LON > x0) & (LON < x1) & (LAT > y0) & (LAT < y1)
        else:  # intersects: boundary counts
            hit = (LON >= x0) & (LON <= x1) & (LAT >= y0) & (LAT <= y1)
        for i in np.nonzero(hit)[0]:
            out.add((int(i), bid))
    return out


@pytest.fixture(scope="module")
def frames(spark):
    pts = spark.createDataFrame(
        [(int(i), float(LON[i]), float(LAT[i])) for i in range(N_POINTS)],
        "point_id int, lon double, lat double")
    regs = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(x0, y0, x1, y1))))
         for (bid, x0, y0, x1, y1) in BOXES],
        "region_id string, geom binary")
    return pts, regs


def run_join(frames, predicate, **kw):
    pts, regs = frames
    out = spatial_join(pts, regs, predicate=predicate, **kw)
    return {(r.point_id, r.region_id) for r in out.select("point_id", "region_id").collect()}


def test_contains_matches_brute_force(frames):
    assert run_join(frames, "st_contains") == brute_force_pairs("st_contains")


def test_intersects_matches_brute_force(frames):
    assert run_join(frames, "st_intersects") == brute_force_pairs("st_intersects")


def test_broadcast_and_salted_paths_agree(frames):
    expected = brute_force_pairs("st_contains")
    assert run_join(frames, "st_contains", broadcast_regions=True) == expected
    assert run_join(frames, "st_contains", salt=4) == expected


def test_join_pairs_boxes_vs_boxes(spark):
    rng = np.random.default_rng(7)
    left = make_boxes(40, rng)
    right = make_boxes(40, rng)
    lf = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(*b)))) for (bid, *b) in left],
        "left_id string, geom binary")
    rf = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(*b)))) for (bid, *b) in right],
        "right_id string, geom_r binary")
    got = {(r.left_id, r.right_id)
           for r in spatial_join_pairs(lf, rf, predicate="st_intersects")
           .select("left_id", "right_id").collect()}
    expected = set()
    for (lid, lx0, ly0, lx1, ly1) in left:
        for (rid, rx0, ry0, rx1, ry1) in right:
            if lx0 <= rx1 and rx0 <= lx1 and ly0 <= ry1 and ry0 <= ly1:
                expected.add((lid, rid))
    assert got == expected


def test_join_pairs_non_intersects_predicates(spark):
    rng = np.random.default_rng(11)
    left = make_boxes(30, rng)
    right = make_boxes(30, rng) + left[:5]  # guarantee some equal pairs
    lf = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(*b)))) for (bid, *b) in left],
        "left_id string, geom binary")
    rf = spark.createDataFrame(
        [(f"r{k}", bytearray(to_wkb(box_poly(*b))))
         for k, (bid, *b) in enumerate(right)],
        "right_id string, geom_r binary")
    for pred, check in [
        # DE-9IM contains for non-degenerate boxes: B ⊆ A (boundary
        # contact allowed; contains(A, A) is true)
        ("st_contains", lambda l, r: l[0] <= r[0] and l[1] <= r[1]
         and l[2] >= r[2] and l[3] >= r[3]),
        ("st_equals", lambda l, r: l == r),
    ]:
        got = {(a.left_id, a.right_id)
               for a in spatial_join_pairs(lf, rf, predicate=pred)
               .select("left_id", "right_id").collect()}
        expected = {(lid, f"r{k}")
                    for (lid, *lb) in left
                    for k, (_, *rb) in enumerate(right)
                    if check(tuple(lb), tuple(rb))}
        assert got == expected, pred


def test_dense_cell_candidates_pruned(spark):
    """10k tiny boxes inside ONE partition cell: the JVM envelope
    pre-reject must cut the exact-refine workload to ~matches, not n²/2
    (sweepline-parity bound, GeoMesaJoinRelation.sweeplineJoin:41-55)."""
    from geomesa_spark.operators.join import _pair_candidates

    rng = np.random.default_rng(99)
    n = 10_000
    # all inside one res-4 cell (cell spans 22.5 x 11.25 deg at res 4)
    cx = rng.uniform(1.0, 9.0, n)
    cy = rng.uniform(1.0, 9.0, n)
    hw = rng.uniform(0.001, 0.01, n)
    boxes = [(f"b{i}", float(cx[i] - hw[i]), float(cy[i] - hw[i]),
              float(cx[i] + hw[i]), float(cy[i] + hw[i])) for i in range(n)]
    lf = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(*b)))) for (bid, *b) in boxes],
        "left_id string, geom binary")
    rf = spark.createDataFrame(
        [(bid, bytearray(to_wkb(box_poly(*b)))) for (bid, *b) in boxes],
        "right_id string, geom_r binary")
    cand = _pair_candidates(lf, rf, predicate="st_intersects",
                            left_geom="geom", right_geom="geom_r",
                            res=4).count()
    # brute-force expected matches (numpy, vectorized)
    x0, y0 = cx - hw, cy - hw
    x1, y1 = cx + hw, cy + hw
    matches = 0
    for i in range(n):
        hit = (x0 <= x1[i]) & (x0[i] <= x1) & (y0 <= y1[i]) & (y0[i] <= y1)
        matches += int(hit.sum())
    # every candidate is a true envelope overlap: count equals matches,
    # and both are ≪ n² (the un-pruned equi-join would emit n² pairs)
    assert cand == matches
    assert cand < n * n // 50
    got = spatial_join_pairs(lf, rf, predicate="st_intersects", res=4).count()
    assert got == matches  # boxes: envelope overlap == exact intersects


def test_locate_vectorized_matches_scalar():
    from geomesa_spark.geo import predicates as gp
    poly = Polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                   [[[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]]])
    xs = np.array([5.0, 1.0, 0.0, -1.0, 3.0, 10.0, 5.0])
    ys = np.array([5.0, 1.0, 5.0, 5.0, 5.0, 10.0, 0.0])
    got = locate_points_in_geometry(xs, ys, poly)
    for i in range(len(xs)):
        loc = gp.locate(poly, float(xs[i]), float(ys[i]))
        want = {"I": 1, "B": 0, "E": -1}[loc]
        assert got[i] == want, (xs[i], ys[i], got[i], want)


class TestRefineScreenBlindSpots:
    """Adversarial pairs aimed at the vertex-location screens in
    udf_refine_pairs: cases the screens must leave to exact DE-9IM
    (edge-crossing-only intersections, all-vertices-inside
    non-containment) and cases they may decide (must agree with gp.*)."""

    def _pairs(self, spark, geoms_a, geoms_b, predicate):
        lf = spark.createDataFrame(
            [(f"a{i}", bytearray(to_wkb(g))) for i, g in enumerate(geoms_a)],
            "left_id string, geom binary")
        rf = spark.createDataFrame(
            [(f"b{i}", bytearray(to_wkb(g))) for i, g in enumerate(geoms_b)],
            "right_id string, geom_r binary")
        got = {(r["left_id"], r["right_id"]) for r in spatial_join_pairs(
            lf, rf, predicate=predicate, res=4).collect()}
        from geomesa_spark.geo import predicates as gp
        fn = {"st_intersects": gp.intersects, "st_contains": gp.contains,
              "st_within": gp.within, "st_touches": gp.touches}[predicate]
        want = {(f"a{i}", f"b{j}")
                for i, ga in enumerate(geoms_a)
                for j, gb in enumerate(geoms_b) if fn(ga, gb)}
        assert got == want

    def test_plus_sign_edge_crossing_only(self, spark):
        # two crossing rectangles: every vertex of each is EXTERIOR to
        # the other, intersection is edge-crossing only -> the vertex
        # screen cannot accept; exact must still return True
        horiz = box_poly(0.0, 4.0, 10.0, 6.0)
        vert = box_poly(4.0, 0.0, 6.0, 10.0)
        far = box_poly(20.0, 20.0, 21.0, 21.0)
        self._pairs(spark, [horiz, far], [vert, far], "st_intersects")

    def test_concave_all_vertices_inside_not_contained(self, spark):
        # U-shaped container: the triangle's vertices all sit inside the
        # U's arms, but its base edge spans the notch (outside) -> the
        # exterior-vertex reject cannot fire; exact must return False
        u = Polygon([[0, 0], [10, 0], [10, 10], [7, 10], [7, 3],
                     [3, 3], [3, 10], [0, 10], [0, 0]])
        tri = Polygon([[1, 8], [9, 8], [5, 7], [1, 8]])
        inside = Polygon([[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]])
        self._pairs(spark, [u], [tri, inside], "st_contains")

    def test_hole_vertex_reject(self, spark):
        # geometry in the donut hole: vertices are exterior (hole is not
        # interior) -> the screen may reject contains AND must agree on
        # intersects (no intersection at all)
        donut = Polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                        [[[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]]])
        in_hole = box_poly(4.0, 4.0, 6.0, 6.0)
        in_ring = box_poly(1.0, 1.0, 2.0, 2.0)
        for pred in ("st_contains", "st_intersects"):
            self._pairs(spark, [donut], [in_hole, in_ring], pred)

    def test_touches_boundary_only(self, spark):
        # shared-edge neighbors: vertex screen must not short-circuit
        # touches (it only screens intersects/containment)
        a = box_poly(0.0, 0.0, 5.0, 5.0)
        b = box_poly(5.0, 0.0, 10.0, 5.0)
        c = box_poly(6.0, 0.0, 12.0, 5.0)
        self._pairs(spark, [a], [b, c], "st_touches")

    def test_within_mirror(self, spark):
        outer = box_poly(0.0, 0.0, 10.0, 10.0)
        inner = box_poly(2.0, 2.0, 3.0, 3.0)
        straddle = box_poly(9.0, 9.0, 11.0, 11.0)
        self._pairs(spark, [inner, straddle], [outer], "st_within")


class TestRectFastPath:
    """Broadcast joins refine natively (no Python stage in the plan):
    rectangles are ordinary polygons of the ray-cast refine, with the
    exact boundary semantics, and sets mixing them with other polygons
    agree with the distributed (pandas-refine) plan."""

    def _pts(self, spark):
        rows = [(1, 5.0, 5.0),    # interior
                (2, 0.0, 5.0),    # on edge
                (3, 10.0, 10.0),  # corner
                (4, 11.0, 5.0)]   # outside
        return spark.createDataFrame(rows, "event_id int, lon double, lat double")

    def test_rect_plan_is_pure_jvm(self, spark):
        regs = spark.createDataFrame(
            [("R", bytearray(to_wkb(box_poly(0.0, 0.0, 10.0, 10.0))))],
            "region_id string, geom binary")
        out = spatial_join(self._pts(spark), regs, predicate="st_contains",
                           broadcast_regions=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan  # no Arrow/BatchEvalPython stage
        assert {r.event_id for r in out.collect()} == {1}

    def test_rect_boundary_semantics(self, spark):
        regs = spark.createDataFrame(
            [("R", bytearray(to_wkb(box_poly(0.0, 0.0, 10.0, 10.0))))],
            "region_id string, geom binary")
        expected = {"st_contains": {1}, "st_within": {1},
                    "st_intersects": {1, 2, 3}, "st_covers": {1, 2, 3},
                    "st_coveredBy": {1, 2, 3}}
        for pred, want in expected.items():
            got = {r.event_id for r in
                   spatial_join(self._pts(spark), regs, predicate=pred,
                                broadcast_regions=True).collect()}
            assert got == want, pred

    def test_mixed_set_agrees_with_distributed(self, spark):
        # one rect + one triangle: the broadcast path's native refine
        # must agree with the distributed (non-broadcast) plan
        tri = Polygon([[0, 0], [10, 0], [0, 10], [0, 0]])
        regs = spark.createDataFrame(
            [("R", bytearray(to_wkb(box_poly(0.0, 0.0, 10.0, 10.0)))),
             ("T", bytearray(to_wkb(tri)))],
            "region_id string, geom binary")
        pts = self._pts(spark)
        for pred in ("st_contains", "st_intersects"):
            bc = {(r.event_id, r.region_id) for r in
                  spatial_join(pts, regs, predicate=pred,
                               broadcast_regions=True).collect()}
            dist = {(r.event_id, r.region_id) for r in
                    spatial_join(pts, regs, predicate=pred).collect()}
            assert bc == dist, pred
        # (5,5) lies ON the triangle's hypotenuse: boundary, not interior
        bc = {(r.event_id, r.region_id) for r in
              spatial_join(pts, regs, predicate="st_contains",
                           broadcast_regions=True).collect()}
        assert ("1", "T") not in {(str(a), b) for a, b in bc}

    def test_bowtie_ring_is_not_a_rect(self, spark):
        # a self-intersecting "bowtie" traversal of the envelope's four
        # corners has the same vertex SET as the rectangle but a totally
        # different interior — it must NOT take the rect fast path, and
        # the broadcast plan must agree with the distributed plan
        from geomesa_spark.operators.join import _is_axis_rect
        bow = Polygon([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]])
        assert not _is_axis_rect(bow)
        assert _is_axis_rect(box_poly(0.0, 0.0, 10.0, 10.0))
        regs = spark.createDataFrame(
            [("B", bytearray(to_wkb(bow)))], "region_id string, geom binary")
        pts = self._pts(spark)
        for pred in ("st_contains", "st_intersects"):
            bc = {(r.event_id, r.region_id) for r in
                  spatial_join(pts, regs, predicate=pred,
                               broadcast_regions=True).collect()}
            dist = {(r.event_id, r.region_id) for r in
                    spatial_join(pts, regs, predicate=pred).collect()}
            assert bc == dist, pred
        # NOTE: a self-intersecting ring is an INVALID polygon, so the
        # exact predicate's classification of individual points is
        # engine-defined (as in JTS) — the contract asserted here is
        # that the broadcast plan classifies exactly as the distributed
        # plan does instead of folding to envelope comparisons.


class TestNativeRefineParity:
    """The broadcast join's native ray-cast refine against the
    distributed plan's pandas refine (``locate_points_in_geometry``):
    the same rows for every predicate, on every vertex and edge midpoint
    (the boundary, where operation order decides) and random points
    around holes, a multipolygon, a duplicated vertex, a bowtie and
    random star polygons, one of 240 vertices."""

    @staticmethod
    def _regions():
        from geomesa_spark.geo.model import MultiPolygon
        rng = np.random.default_rng(3)
        polys = [
            Polygon([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
                    holes=[[[3, 3], [6, 3], [6, 6], [3, 6], [3, 3]]]),
            MultiPolygon([Polygon([[20, 0], [25, 0], [25, 5], [20, 0]]),
                          Polygon([[30, 0], [35, 5], [30, 5], [30, 0]])]),
            Polygon([[40, 0], [45, 0], [45, 0], [45, 5], [40, 5],
                     [40, 0]]),                        # duplicated vertex
            Polygon([[50, 0], [60, 10], [60, 0], [50, 10], [50, 0]]),
        ]
        for _ in range(4):  # stars: vertices at sorted angles
            cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
            k = int(rng.integers(6, 13))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(1.0, 6.0, k)
            polys.append(Polygon(np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)])))
        ang = np.sort(rng.uniform(0, 2 * np.pi, 240))  # many edges a cell
        rad = rng.uniform(5.0, 15.0, 240)
        polys.append(Polygon(np.column_stack(
            [100.0 + rad * np.cos(ang), 30.0 + rad * np.sin(ang)])))
        return polys

    @pytest.mark.parametrize("res", [4, 7])
    def test_broadcast_matches_distributed(self, spark, res):
        # at res 7 (2.8 x 1.4 degree cells) every region spans many cells,
        # so each boundary row carries only the edges clipped to its cell
        from geomesa_spark.geo.model import flatten
        polys = self._regions()
        rng = np.random.default_rng(4)
        pts = []
        for g in polys:
            for part in flatten(g):
                for ring in part.rings():
                    pts += [tuple(v) for v in ring[:-1]]
                    pts += [tuple(v) for v in (ring[:-1] + ring[1:]) / 2.0]
            x0, y0, x1, y1 = g.bounds()
            pts += list(zip(rng.uniform(x0 - 1, x1 + 1, 150),
                            rng.uniform(y0 - 1, y1 + 1, 150)))
        pdf = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
            "id long, lon double, lat double")
        rdf = spark.createDataFrame(
            [(i, bytearray(to_wkb(g))) for i, g in enumerate(polys)],
            "region_id long, geom binary")
        for pred in ("st_contains", "st_within", "st_covers",
                     "st_coveredBy", "st_intersects"):
            bc = spatial_join(pdf, rdf, predicate=pred, res=res,
                              broadcast_regions=True)
            assert "EvalPython" not in \
                bc._jdf.queryExecution().executedPlan().toString()
            got = {(r.id, r.region_id) for r in bc.collect()}
            want = {(r.id, r.region_id) for r in spatial_join(
                pdf, rdf, predicate=pred, res=res).collect()}
            assert got == want, pred
            assert got, pred

    def test_non_polygon_part_keeps_pandas_refine(self, spark):
        """A region set with a non-polygon part takes the pandas refine
        on the broadcast path too, and agrees with the distributed one."""
        from geomesa_spark.geo.model import GeometryCollection
        gc = GeometryCollection([
            Polygon([[0, 0], [10, 0], [0, 10], [0, 0]]), Point(20.0, 20.0)])
        rdf = spark.createDataFrame([("G", bytearray(to_wkb(gc)))],
                                    "region_id string, geom binary")
        pdf = spark.createDataFrame(
            [(1, 2.0, 2.0), (2, 5.0, 5.0), (3, 9.0, 9.0)],
            "id long, lon double, lat double")
        for pred in ("st_contains", "st_intersects"):
            bc = spatial_join(pdf, rdf, predicate=pred,
                              broadcast_regions=True)
            assert "ArrowEvalPython" in \
                bc._jdf.queryExecution().executedPlan().toString()
            got = {(r.id, r.region_id) for r in bc.collect()}
            want = {(r.id, r.region_id) for r in
                    spatial_join(pdf, rdf, predicate=pred).collect()}
            assert got == want, pred


class TestWorldSpanningRegions:
    """A region whose cover is the whole grid, or larger than a filter's
    cell budget, joins every valid point inside it: an explode takes the
    whole classified cover, never the filter's "do not filter" answer."""

    WORLD = "POLYGON((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"
    HALF = "POLYGON((-179 -89, 1 -89, 1 89, -179 89, -179 -89))"

    @staticmethod
    def _points():
        rng = np.random.default_rng(11)
        xy = list(zip(rng.uniform(-180, 180, 60), rng.uniform(-90, 90, 60)))
        xy += [(0.0, 0.0), (1.0, 0.0), (-179.0, 5.0), (180.0, 0.0),
               (-180.0, -90.0), (200.0, 0.0), (float("nan"), 0.0)]
        return [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)]

    @pytest.mark.parametrize("res", [4, 8])
    @pytest.mark.parametrize("wkt", [WORLD, HALF])
    def test_every_valid_point_joins(self, spark, wkt, res):
        from geomesa_spark.geo import from_wkt
        geom = from_wkt(wkt)
        x0, y0, x1, y1 = geom.bounds()
        pts = self._points()
        pdf = spark.createDataFrame(pts, "id long, lon double, lat double")
        rdf = spark.createDataFrame([(1, bytearray(to_wkb(geom)))],
                                    "region_id long, geom binary")
        for pred in ("st_contains", "st_intersects"):
            if pred == "st_contains":
                want = {i for i, x, y in pts
                        if x0 < x < x1 and y0 < y < y1}
            else:
                want = {i for i, x, y in pts
                        if x0 <= x <= x1 and y0 <= y <= y1}
            assert len(want) > 20
            for broadcast in (True, False):
                got = {r.id for r in spatial_join(
                    pdf, rdf, predicate=pred, res=res,
                    broadcast_regions=broadcast).collect()}
                assert got == want, (pred, broadcast)

    def test_pairs_and_footprint(self, spark):
        from pyspark.sql import functions as F

        from geomesa_spark.geo import from_wkt
        from geomesa_spark.operators.tiles import assign_tiles_footprint
        world = bytearray(to_wkb(from_wkt(self.WORLD)))
        small = bytearray(to_wkb(box_poly(10.0, 10.0, 12.0, 11.0)))
        left = spark.createDataFrame([(1, world)], "left_id long, geom binary")
        right = spark.createDataFrame([(2, small)],
                                      "right_id long, geom_r binary")
        for pred in ("st_intersects", "st_contains"):
            got = [(r.left_id, r.right_id) for r in
                   spatial_join_pairs(left, right, predicate=pred).collect()]
            assert got == [(1, 2)], pred
        for res in (4, 8):
            tiles = assign_tiles_footprint(left, res=res).agg(
                F.countDistinct("tile").alias("n"),
                F.min("tile").alias("lo")).first()
            assert (tiles.n, tiles.lo) == (4 ** res, 0)


class TestJoinWithEmptyGeometry:
    def test_pair_join_empty_matches_nothing(self, spark):
        from geomesa_spark.operators.join import spatial_join_pairs
        sq = gio.to_wkb(gio.from_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
        empty = gio.to_wkb(gio.from_wkt("POLYGON EMPTY"))
        left = spark.createDataFrame(
            [(1, bytearray(sq)), (2, bytearray(empty))],
            "left_id int, geom binary")
        right = spark.createDataFrame(
            [(10, bytearray(sq))], "right_id int, geom_r binary")
        rows = spatial_join_pairs(left, right).select(
            "left_id", "right_id").collect()
        # no executor crash; the empty geometry intersects nothing
        assert sorted((r.left_id, r.right_id) for r in rows) == [(1, 10)]
