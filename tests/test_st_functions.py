"""SQL-surface tests for the st_* UDFs, ported from the reference's
SpatialRelationFunctionsTest / SparkSQLSpatialRelationshipsTest /
constructor+accessor test files: same fixtures, same expected values,
including null propagation for every function exercised."""

import pytest

from geomesa_spark.geo.model import LineString, MultiLineString

BOX = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"


def q(spark, sql):
    return spark.sql(sql).collect()[0][0]


def test_constructors(spark):
    assert q(spark, "select st_asText(st_geomFromWKT('POINT(1 2)'))") == "POINT (1 2)"
    assert q(spark, "select st_asText(st_makePoint(1, 2))") == "POINT (1 2)"
    assert q(spark, "select st_asText(st_point(1.5, 2.5))") == "POINT (1.5 2.5)"
    assert q(spark, "select st_asText(st_makeBBOX(0, 0, 2, 2))").startswith("POLYGON")
    assert q(spark,
             "select st_asText(st_makeBox2D(st_makePoint(0,0), st_makePoint(2,3)))") \
        == "POLYGON ((0 0, 2 0, 2 3, 0 3, 0 0))"
    assert q(spark,
             "select st_asText(st_makePolygon(st_lineFromText('LINESTRING(0 0, 1 0, 1 1, 0 0)')))") \
        == "POLYGON ((0 0, 1 0, 1 1, 0 0))"
    assert q(spark,
             "select st_asText(st_makeLine(array(st_makePoint(0,0), st_makePoint(1,1))))") \
        == "LINESTRING (0 0, 1 1)"
    gj = '{"type":"Point","coordinates":[1.0,2.0]}'
    assert q(spark, f"select st_asText(st_geomFromGeoJSON('{gj}'))") == "POINT (1 2)"
    # WKB round trip through SQL
    assert q(spark,
             "select st_asText(st_geomFromWKB(st_asBinary(st_makePoint(3, 4))))") \
        == "POINT (3 4)"
    # geohash
    assert q(spark,
             "select st_asText(st_pointFromGeoHash(st_geoHash(st_makePoint(-77, 38.9), 35), 35))") \
        .startswith("POINT")


def test_constructor_casts_and_m(spark):
    assert q(spark, "select st_asText(st_castToPoint(st_makePoint(1,1)))") == "POINT (1 1)"
    assert q(spark, "select st_castToPolygon(st_makePoint(1,1))") is None
    assert q(spark, "select st_byteArray('ab')") == bytearray(b"ab")
    # PointM WKB has the M ordinate
    r = q(spark, "select st_coordDim(st_makePointM(1, 2, 5))")
    assert r == 3
    assert q(spark, "select st_coordDim(st_makePoint(1, 2))") == 2


def test_accessors(spark):
    assert q(spark, f"select st_dimension(st_geomFromWKT('{BOX}'))") == 2
    assert q(spark, "select st_dimension(st_geomFromWKT('LINESTRING(0 0, 1 1)'))") == 1
    assert q(spark, f"select st_asText(st_envelope(st_geomFromWKT('LINESTRING(1 2, 3 4)')))") \
        == "POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))"
    assert q(spark, f"select st_asText(st_exteriorRing(st_geomFromWKT('{BOX}')))") \
        == "LINESTRING (0 0, 0 10, 10 10, 10 0, 0 0)"
    assert q(spark, "select st_geometryType(st_makePoint(0,0))") == "Point"
    assert q(spark,
             "select st_asText(st_geometryN(st_geomFromWKT('MULTIPOINT((1 1),(2 2))'), 2))") \
        == "POINT (2 2)"
    assert q(spark, "select st_isClosed(st_geomFromWKT('LINESTRING(0 0, 1 1)'))") is False
    assert q(spark, "select st_isClosed(st_makePoint(0,0))") is True
    assert q(spark, "select st_isCollection(st_geomFromWKT('GEOMETRYCOLLECTION(POINT(1 1))'))") is True
    assert q(spark, "select st_isEmpty(st_geomFromWKT('POINT EMPTY'))") is True
    assert q(spark, "select st_isValid(st_geomFromWKT('POLYGON((0 0, 0 1, 1 1, 1 0, 0 0))'))") is True
    assert q(spark, "select st_numGeometries(st_geomFromWKT('MULTIPOINT((1 1),(2 2))'))") == 2
    assert q(spark, f"select st_numPoints(st_geomFromWKT('{BOX}'))") == 5
    # negative index wraps (GeometricAccessorFunctions.scala:62-74)
    assert q(spark,
             "select st_asText(st_pointN(st_geomFromWKT('LINESTRING(0 0, 1 1, 2 2)'), -1))") \
        == "POINT (2 2)"
    # st_x/st_y are FLOAT and null for non-points (:75-82)
    x = q(spark, "select st_x(st_makePoint(1.5, 2.5))")
    assert abs(x - 1.5) < 1e-6 and type(x) is float
    assert q(spark, f"select st_x(st_geomFromWKT('{BOX}'))") is None
    # boundary
    assert q(spark, "select st_asText(st_boundary(st_geomFromWKT('LINESTRING(0 0, 1 1)')))") \
        == "MULTIPOINT ((0 0), (1 1))"


def test_outputs(spark):
    assert q(spark, "select st_asGeoJSON(st_makePoint(1, 2))") \
        == '{"type":"Point","coordinates":[1.0,2.0]}'
    assert q(spark, "select st_asLatLonText(st_makePoint(-76.5, 38.5))") \
        == "38°30'0.000\"N 77°30'0.000\"W"
    gh = q(spark, "select st_geoHash(st_makePoint(-77.0091, 38.8899), 35)")
    assert len(gh) == 7


def test_relations(spark):
    assert q(spark, f"select st_contains(st_geomFromWKT('{BOX}'), st_makePoint(5,5))") is True
    assert q(spark, f"select st_contains(st_geomFromWKT('{BOX}'), st_makePoint(0,5))") is False
    assert q(spark, f"select st_covers(st_geomFromWKT('{BOX}'), st_makePoint(0,5))") is True
    assert q(spark, f"select st_intersects(st_geomFromWKT('{BOX}'), st_makePoint(0,0))") is True
    assert q(spark, f"select st_disjoint(st_geomFromWKT('{BOX}'), st_makePoint(-5,0))") is True
    assert q(spark,
             "select st_relate(st_geomFromWKT('LINESTRING(1 2, 3 4)'), st_geomFromWKT('LINESTRING(5 6, 7 8)'))") \
        == "FF1FF0102"
    assert q(spark,
             "select st_relateBool(st_geomFromWKT('LINESTRING(1 2, 3 4)'), st_geomFromWKT('LINESTRING(5 6, 7 8)'), 'FF*FF****')") is True


def test_measures(spark):
    assert q(spark, f"select st_area(st_geomFromWKT('{BOX}'))") == 100.0
    assert q(spark, f"select st_length(st_geomFromWKT('{BOX}'))") == 40.0
    assert q(spark, f"select st_asText(st_centroid(st_geomFromWKT('{BOX}')))") == "POINT (5 5)"
    assert q(spark,
             f"select st_asText(st_closestPoint(st_geomFromWKT('{BOX}'), st_makePoint(15, 5)))") \
        == "POINT (10 5)"
    assert q(spark, "select st_distance(st_makePoint(0,0), st_makePoint(10,0))") == 10.0
    d = q(spark, "select st_distanceSphere(st_makePoint(0,0), st_makePoint(10,0))")
    assert abs(d - 1111950.0) < 1.0
    d2 = q(spark, "select st_distanceSpheroid(st_makePoint(0,0), st_makePoint(10,0))")
    assert abs(d2 - 1113194.9) < 1.0
    d3 = q(spark,
           "select st_aggregateDistanceSphere(array(st_asBinary(st_makePoint(0,0)), st_asBinary(st_makePoint(10,0))))")
    assert abs(d3 - 1111950.0) < 1.0
    assert q(spark, "select st_asText(st_translate(st_geomFromWKT('LINESTRING(0 0, 10 0)'), 1, 2))") \
        == "LINESTRING (1 2, 11 2)"


def test_processing(spark):
    t = q(spark,
          "select st_geometryType(st_antimeridianSafeGeom(st_geomFromWKT('POLYGON((175 -5, 185 -5, 185 5, 175 5, 175 -5))')))")
    assert t == "MultiPolygon"
    t2 = q(spark, "select st_geometryType(st_bufferPoint(st_makePoint(0, 0), 1000.0))")
    assert t2 == "Polygon"
    x = q(spark,
          "select st_x(st_castToPoint(st_transform(st_makePoint(-77.0, 38.9), 'EPSG:4326', 'EPSG:3857')))")
    assert abs(x - -8571600) < 2000


def test_overlays(spark):
    a = q(spark,
          f"select st_area(st_intersection(st_geomFromWKT('{BOX}'), st_geomFromWKT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))')))")
    assert a == 25.0


NULLARY = [
    "st_contains(null, null)", "st_covers(null, null)", "st_crosses(null, null)",
    "st_disjoint(null, null)", "st_equals(null, null)", "st_intersects(null, null)",
    "st_overlaps(null, null)", "st_touches(null, null)", "st_within(null, null)",
    "st_relate(null, null)", "st_relateBool(null, null, null)",
    "st_area(null)", "st_centroid(null)", "st_closestPoint(null, null)",
    "st_distance(null, null)", "st_distanceSphere(null, null)", "st_length(null)",
    "st_geomFromWKT(null)", "st_asText(null)", "st_asBinary(null)",
    "st_asGeoJSON(null)", "st_boundary(null)", "st_dimension(null)",
    "st_envelope(null)", "st_geometryType(null)", "st_isEmpty(null)",
    "st_numPoints(null)", "st_x(null)", "st_y(null)", "st_translate(null, 1, 2)",
    "st_bufferPoint(null, 10.0)", "st_antimeridianSafeGeom(null)",
    "st_intersection(null, null)", "st_difference(null, null)",
    "st_distanceSpheroid(null, null)", "st_lengthSphere(null)",
]


@pytest.mark.parametrize("expr", NULLARY)
def test_null_propagation(spark, expr):
    # nullableUDF semantics (SQLFunctionHelper.scala:22-53)
    assert q(spark, f"select {expr}") is None


def test_dsl_matches_sql(spark):
    """Dual-path equivalence (JTSQueryTest / DataFrameFunctionsTest pattern)."""
    from geomesa_spark.functions.st import get_udfs
    from pyspark.sql import functions as F

    u = get_udfs()
    df = spark.range(1).select(
        u["st_contains"](
            u["st_geomFromWKT"](F.lit(BOX)),
            u["st_makePoint"](F.lit(5.0), F.lit(5.0))).alias("c"),
        u["st_asText"](u["st_centroid"](u["st_geomFromWKT"](F.lit(BOX)))).alias("t"),
    )
    row = df.collect()[0]
    assert row["c"] is True
    assert row["t"] == "POINT (5 5)"


def test_st_convexhull(spark):
    from tests.test_st_functions import q  # self-import safe in pytest
    hull = q(spark, "select st_asText(st_convexHull(st_geomFromWKT("
                    "'MULTIPOINT((0 0), (4 0), (4 4), (2 1))')))")
    assert hull.startswith("POLYGON")
    assert "2 1" not in hull  # interior point eliminated
    # degenerate cases: single point, two points
    p = q(spark, "select st_asText(st_convexHull(st_makePoint(3.0, 4.0)))")
    assert p.startswith("POINT")
    ln = q(spark, "select st_asText(st_convexHull(st_geomFromWKT("
                  "'MULTIPOINT((0 0), (2 2))')))")
    assert ln.startswith("LINESTRING")
    assert q(spark, "select st_convexHull(null)") is None


def test_geohash_expr_matches_kernel(spark):
    """Native Catalyst geohash == the per-row bisection encoder, including
    domain corners and upper-boundary clamping."""
    import numpy as np
    from geomesa_spark.geo.geohash import encode, geohash_expr
    rng = np.random.default_rng(3)
    rows = [(float(x), float(y))
            for x, y in zip(rng.uniform(-180, 180, 300),
                            rng.uniform(-90, 90, 300))]
    rows += [(-180.0, -90.0), (180.0, 90.0), (0.0, 0.0),
             (179.9999, 89.9999), (-77.0091, 38.8899)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    for bits in (10, 25, 35):
        got = [r["gh"] for r in
               df.select(geohash_expr("lon", "lat", bits).alias("gh"))
               .collect()]
        want = [encode(x, y, bits) for (x, y) in rows]
        assert got == want, bits


def test_predicate_literal_fast_path_matches_scalar(spark):
    """A batch-constant geometry argument routes the DE-9IM predicates
    through the vectorized point-location refine; results must equal the
    per-row scalar kernels on interior/boundary/corner/exterior points."""
    from geomesa_spark.functions.st import _fast_predicate
    from geomesa_spark.geo import io as gio, predicates as gp
    import pandas as pd

    poly = gio.from_wkt(
        "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    blob = gio.to_wkb(poly)
    pts = [(5.0, 2.0),    # interior
           (0.0, 5.0),    # edge
           (0.0, 0.0),    # corner
           (5.0, 5.0),    # inside the hole -> exterior
           (4.0, 5.0),    # hole boundary
           (20.0, 20.0),  # exterior
           (10.0, 10.0)]  # far corner
    pt_wkbs = [gio.points_to_wkb([x], [y])[0] for x, y in pts]
    a = pd.Series([blob] * len(pts) + [blob, None])
    b = pd.Series(pt_wkbs + [None, pt_wkbs[0]])
    scalar = {"st_contains": gp.contains, "st_covers": gp.covers,
              "st_intersects": gp.intersects, "st_disjoint": gp.disjoint,
              "st_touches": gp.touches}
    for name, fn in scalar.items():
        fast = _fast_predicate(name, a, b)
        assert fast is not None, name
        for i, (x, y) in enumerate(pts):
            want = fn(poly, gio.from_wkb(bytes(pt_wkbs[i])))
            assert fast[i] == want, (name, pts[i])
        assert fast[len(pts)] is None and fast[len(pts) + 1] is None
    # directional: st_within(point_col, literal)
    fast = _fast_predicate("st_within", b, a)
    for i, (x, y) in enumerate(pts):
        want = gp.within(gio.from_wkb(bytes(pt_wkbs[i])), poly)
        assert fast[i] == want, ("st_within", pts[i])


def test_predicate_fast_path_sql_surface(spark):
    """End-to-end: the SQL form with a literal polygon (the fast-path
    trigger) returns the same rows as the Python scalar oracle."""
    from geomesa_spark.geo import io as gio, predicates as gp
    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate(
                [(2.0, 2.0), (0.0, 0.0), (10.0, 5.0), (11.0, 5.0),
                 (5.0, 0.0), (-1.0, -1.0)])]
    spark.createDataFrame(rows, "id int, x double, y double") \
        .createOrReplaceTempView("fp_pts")
    box = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"
    got = {r["id"] for r in spark.sql(
        f"SELECT id FROM fp_pts "
        f"WHERE st_contains(st_geomFromWKT('{box}'), st_makePoint(x, y))"
    ).collect()}
    poly = gio.from_wkt(box)
    want = {i for i, x, y in rows
            if gp.contains(poly, gio.from_wkt(f"POINT({x} {y})"))}
    assert got == want


class TestMultiLineStringIsClosed:
    def test_closed_parts(self):
        mls = MultiLineString([
            LineString([[0, 0], [1, 0], [1, 1], [0, 0]]),
            LineString([[5, 5], [6, 5], [6, 6], [5, 5]])])
        assert mls.is_closed() is True

    def test_open_part(self):
        mls = MultiLineString([
            LineString([[0, 0], [1, 0], [1, 1], [0, 0]]),
            LineString([[5, 5], [6, 5]])])
        assert mls.is_closed() is False

    def test_empty_is_not_closed(self):
        # JTS MultiLineString.isClosed: empty -> false (not vacuous true)
        assert MultiLineString([]).is_closed() is False


class TestStIsRingIsClosedSurface:
    def test_st_isring_multilinestring(self, spark):
        from geomesa_spark.geo import io as gio
        ring = gio.to_wkb(MultiLineString(
            [LineString([[0, 0], [1, 0], [1, 1], [0, 0]])]))
        open_ = gio.to_wkb(MultiLineString(
            [LineString([[0, 0], [1, 0]])]))
        df = spark.createDataFrame([(bytearray(ring),), (bytearray(open_),)],
                                   "g binary")
        rows = df.selectExpr("st_isRing(g) r", "st_isClosed(g) c").collect()
        assert [(r.r, r.c) for r in rows] == [(True, True), (False, False)]
