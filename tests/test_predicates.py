"""DE-9IM predicate truth tables, ported verbatim from the reference
(/root/reference/geomesa-spark/geomesa-spark-sql/src/test/scala/org/
locationtech/geomesa/spark/SparkSQLSpatialRelationshipsTest.scala:50-352).
Same WKT fixtures, same expected booleans.
"""

import pytest

from geomesa_spark.geo import from_wkt
from geomesa_spark.geo import predicates as P
from geomesa_spark.geo import process as PR
from geomesa_spark.geo.io import to_wkt
from geomesa_spark.geo.model import LineString
from geomesa_spark.geo.predicates import _seg_intersection

BOX_REF = "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))"
LINE_REF = "LINESTRING(0 10, 0 -10)"

POINTS = {
    "int": "POINT(5 5)",
    "edge": "POINT(0 5)",
    "corner": "POINT(0 0)",
    "ext": "POINT(-5 0)",
}
LINES = {
    "touches": "LINESTRING(0 0, 1 0)",
    "crosses": "LINESTRING(-1 0, 1 0)",
    "disjoint": "LINESTRING(1 0, 2 0)",
}
BOXES = {
    "int": "POLYGON((1 1, 1 2, 2 2, 2 1, 1 1))",
    "intEdge": "POLYGON((0 1, 0 2, 1 2, 1 1, 0 1))",
    "overlap": "POLYGON((-1 1, -1 2, 1 2, 1 1, -1 1))",
    "extEdge": "POLYGON((-1 1, -1 2, 0 2, 0 1, -1 1))",
    "ext": "POLYGON((-2 1, -2 2, -1 2, -1 1, -2 1))",
    "corner": "POLYGON((-1 -1, -1 0, 0 0, 0 -1, -1 -1))",
}


def g(wkt):
    return from_wkt(wkt)


def check(fn, fixtures, expected_true, ref=BOX_REF):
    got = {name for name, wkt in fixtures.items() if fn(g(ref), g(wkt))}
    assert got == set(expected_true), f"{fn.__name__}: {got} != {set(expected_true)}"


def test_contains():
    check(P.contains, POINTS, ["int"])
    check(P.contains, BOXES, ["int", "intEdge"])


def test_covers():
    check(P.covers, POINTS, ["int", "edge", "corner"])
    check(P.covers, BOXES, ["int", "intEdge"])


def test_crosses():
    check(P.crosses, LINES, ["crosses"], ref=LINE_REF)


def test_disjoint():
    check(P.disjoint, POINTS, ["ext"])
    check(P.disjoint, BOXES, ["ext"])


def test_equals():
    assert P.equals(g("POINT(0 0)"), g(POINTS["corner"]))
    assert not P.equals(g("POINT(0 0)"), g(POINTS["edge"]))
    assert P.equals(g("LINESTRING(0 0, 1 1)"), g("LINESTRING(1 1, 0 0)"))
    assert P.equals(g(BOX_REF), g("POLYGON((10 0, 10 10, 0 10, 0 0, 10 0))"))


def test_intersects():
    check(P.intersects, POINTS, ["int", "edge", "corner"])
    check(P.intersects, BOXES, ["int", "intEdge", "overlap", "extEdge", "corner"])


def test_overlaps():
    check(P.overlaps, POINTS, [])
    check(P.overlaps, BOXES, ["overlap"])


def test_touches():
    check(P.touches, POINTS, ["edge", "corner"])
    check(P.touches, BOXES, ["extEdge", "corner"])


def test_within():
    got = {n for n, w in POINTS.items() if P.within(g(w), g(BOX_REF))}
    assert got == {"int"}
    got = {n for n, w in BOXES.items() if P.within(g(w), g(BOX_REF))}
    assert got == {"int", "intEdge"}


def test_relate_matrix():
    # SparkSQLSpatialRelationshipsTest.scala:336-345
    a = g("LINESTRING(1 2, 3 4)")
    b = g("LINESTRING(5 6, 7 8)")
    assert P.relate(a, b) == "FF1FF0102"
    assert P.relate_bool(a, b, "FF*FF****")


def test_relate_line_crosses():
    m = P.relate(g(LINE_REF), g(LINES["crosses"]))
    assert m[0] == "0"  # interiors meet at a point


def test_line_box_cases():
    # line touching box boundary from inside the edge
    assert P.touches(g(BOX_REF), g("LINESTRING(-1 5, 0 5)"))
    assert P.crosses(g("LINESTRING(-1 5, 1 5)"), g(BOX_REF))
    assert P.within(g("LINESTRING(1 1, 2 2)"), g(BOX_REF))
    assert not P.contains(g(BOX_REF), g("LINESTRING(0 1, 0 2)"))  # on boundary
    assert P.covers(g(BOX_REF), g("LINESTRING(0 1, 0 2)"))


def test_polygon_with_hole():
    donut = g("POLYGON((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))")
    assert not P.contains(donut, g("POINT(5 5)"))  # in the hole
    assert P.contains(donut, g("POINT(1 1)"))
    assert P.touches(donut, g("POINT(3 5)"))  # on hole ring
    inner = g("POLYGON((4 4, 4 6, 6 6, 6 4, 4 4))")  # inside the hole
    assert P.disjoint(donut, inner)
    assert not P.contains(donut, inner)


def test_multipoint_and_collections():
    mp = g("MULTIPOINT((5 5), (-5 0))")
    assert P.intersects(g(BOX_REF), mp)
    assert not P.contains(g(BOX_REF), mp)  # one point outside
    assert P.contains(g(BOX_REF), g("MULTIPOINT((5 5), (1 1))"))


def test_empty_geometries():
    assert P.disjoint(g("POINT EMPTY"), g(BOX_REF))
    assert not P.intersects(g("POLYGON EMPTY"), g(BOX_REF))


@pytest.mark.parametrize("name,wkt", [*POINTS.items(), *LINES.items(), *BOXES.items()])
def test_self_equals(name, wkt):
    assert P.equals(g(wkt), g(wkt))
    assert P.intersects(g(wkt), g(wkt))
    assert P.covers(g(wkt), g(wkt))
    assert not P.touches(g(wkt), g(wkt))


class TestCollectionIntersects:
    """A collection intersects iff one of its parts does, in either
    argument order: the box meets only the collection's point part."""

    BOX = "POLYGON((90 10, 112.5 10, 112.5 22.5, 90 22.5, 90 10))"
    GC = "GEOMETRYCOLLECTION(POLYGON((0 0, 40 0, 0 40, 0 0)), POINT(100 20))"
    GC_APART = ("GEOMETRYCOLLECTION(POLYGON((0 0, 40 0, 0 40, 0 0)), "
                "POINT(60 20))")

    def test_point_part_inside_box(self):
        assert P.intersects(g(self.BOX), g("POINT(100 20)"))
        assert P.intersects(g(self.BOX), g(self.GC))
        assert P.intersects(g(self.GC), g(self.BOX))

    def test_disjoint_follows(self):
        assert not P.disjoint(g(self.BOX), g(self.GC))
        assert not P.disjoint(g(self.GC), g(self.BOX))
        assert P.disjoint(g(self.BOX), g(self.GC_APART))
        assert P.disjoint(g(self.GC_APART), g(self.BOX))

    def test_sql_surface(self, spark):
        row = spark.sql(f"""
            SELECT st_intersects(st_geomFromWKT('{self.BOX}'),
                                 st_geomFromWKT('{self.GC}')) AS ab,
                   st_intersects(st_geomFromWKT('{self.GC}'),
                                 st_geomFromWKT('{self.BOX}')) AS ba,
                   st_disjoint(st_geomFromWKT('{self.BOX}'),
                               st_geomFromWKT('{self.GC}')) AS dab,
                   st_disjoint(st_geomFromWKT('{self.GC}'),
                               st_geomFromWKT('{self.BOX}')) AS dba
            """).collect()[0]
        assert (row.ab, row.ba, row.dab, row.dba) == (True, True,
                                                      False, False)


class TestCollinearSteepSegments:
    def test_steep_negative_slope_overlap(self):
        """Sorting endpoints by y but comparing tuples x-first picked the
        wrong lo/hi for steep negative-slope collinear segments, returning
        the WHOLE first segment instead of the shared part."""
        kind, seg = _seg_intersection((0, 10), (4, 0), (2, 5), (4, 0))
        assert kind == "overlap"
        pts = sorted(seg)
        assert pts == [(2, 5), (4, 0)]

    def test_steep_negative_slope_disjoint_collinear(self):
        kind, _ = _seg_intersection((0, 10), (2, 5), (3, 2.5), (4, 0))
        assert kind == "none"

    def test_intersection_of_steep_collinear_lines(self):
        a = LineString([[0, 10], [4, 0]])
        b = LineString([[2, 5], [4, 0]])
        assert to_wkt(PR.intersection(a, b)) == "LINESTRING (2 5, 4 0)"
