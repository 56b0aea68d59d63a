"""OSM converter tests (geomesa-convert-osm semantics: nodes -> points
with tags, ways -> LineStrings via member-node resolution)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geomesa_spark.sources.osm import (osm_way_geometries, read_osm_nodes,
                                       read_osm_ways)

OSM_XML = """<?xml version='1.0' encoding='UTF-8'?>
<osm version="0.6" generator="test">
  <node id="1" lat="48.85" lon="2.35">
    <tag k="amenity" v="cafe"/>
    <tag k="name" v="Chez Test"/>
  </node>
  <node id="2" lat="48.86" lon="2.36"/>
  <node id="3" lat="48.87" lon="2.37"/>
  <node id="4" lat="48.88" lon="2.38"/>
  <way id="100">
    <nd ref="1"/><nd ref="2"/><nd ref="3"/>
    <tag k="highway" v="residential"/>
  </way>
  <way id="101">
    <nd ref="3"/><nd ref="99"/>
    <tag k="highway" v="path"/>
  </way>
  <way id="102">
    <nd ref="4"/><nd ref="3"/><nd ref="4"/>
  </way>
  <way id="103">
    <nd ref="98"/><nd ref="99"/>
  </way>
</osm>
"""


@pytest.fixture()
def osm_dir(tmp_path):
    (tmp_path / "a.osm").write_text(OSM_XML)
    return str(tmp_path)


class TestOsmNodes:
    def test_nodes_with_tags(self, spark, osm_dir):
        nodes = read_osm_nodes(spark, osm_dir)
        rows = {r.node_id: r for r in nodes.collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert rows[1].lon == 2.35 and rows[1].lat == 48.85
        assert rows[1].tags == {"amenity": "cafe", "name": "Chez Test"}
        assert rows[2].tags == {}


class TestOsmWays:
    def test_refs_in_document_order(self, spark, osm_dir):
        ways = read_osm_ways(spark, osm_dir)
        rows = {r.way_id: r for r in ways.collect()}
        assert rows[100].refs == [1, 2, 3]
        assert rows[100].tags == {"highway": "residential"}
        assert rows[102].refs == [4, 3, 4]

    def test_way_geometry_resolution(self, spark, osm_dir):
        from geomesa_spark.geo.io import from_wkb
        nodes = read_osm_nodes(spark, osm_dir)
        ways = read_osm_ways(spark, osm_dir)
        out = osm_way_geometries(nodes, ways)
        rows = {r.way_id: r for r in out.collect()}
        # way 101 references missing node 99 -> dropped
        assert set(rows) == {100, 102}
        g = from_wkb(bytes(rows[100].geom))
        assert g.coords.tolist() == [[2.35, 48.85], [2.36, 48.86],
                                     [2.37, 48.87]]
        # duplicate member node resolves at every position
        g2 = from_wkb(bytes(rows[102].geom))
        assert g2.coords.tolist() == [[2.38, 48.88], [2.37, 48.87],
                                      [2.38, 48.88]]
        assert rows[100].tags["highway"] == "residential"

    def test_incomplete_kept_when_asked(self, spark, osm_dir):
        nodes = read_osm_nodes(spark, osm_dir)
        ways = read_osm_ways(spark, osm_dir)
        out = osm_way_geometries(nodes, ways, drop_incomplete=False)
        rows = {r.way_id: r for r in out.collect()}
        r101 = rows[101]
        assert r101.geom is None and r101.n_points == 1
        # a way with NO resolvable members reaches the WKB kernel as a
        # null point list — must yield null geometry, not crash
        r103 = rows[103]
        assert r103.geom is None and r103.n_points == 0


class TestParquetConverter:
    def test_remap_and_validate(self, spark, tmp_path):
        from geomesa_spark.sources.convert import Converter, Field
        src = spark.createDataFrame(
            [(1, "2.5", "bad"), (2, "3.5", "4.5")],
            "id long, a string, b string")
        src.write.parquet(str(tmp_path / "p"))
        conv = Converter(fields=[
            Field("fid", "string", "concat('f-', id)"),
            Field("x", "double", "try_cast(a as double)"),
            Field("y", "double", "try_cast(b as double)")])
        out = conv.from_parquet(spark, str(tmp_path / "p"))
        rows = out.collect()
        # row 1 has unparseable y -> skipped by validation mode
        assert len(rows) == 1 and rows[0].fid == "f-2"
        assert rows[0].x == 3.5 and rows[0].y == 4.5


class TestOsmDuplicateNodes:
    def test_duplicated_node_id_does_not_drop_way(self, spark):
        from geomesa_spark.sources.osm import osm_way_geometries
        nodes = spark.createDataFrame(
            [(1, 0.0, 0.0), (2, 1.0, 0.0), (1, 0.0, 0.0)],
            "node_id long, lon double, lat double")
        ways = spark.createDataFrame(
            [(10, [1, 2], {"highway": "residential"})],
            "way_id long, refs array<long>, tags map<string,string>")
        out = osm_way_geometries(nodes, ways).collect()
        assert len(out) == 1
        assert out[0].n_points == 2
        assert out[0].geom is not None
