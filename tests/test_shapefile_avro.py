"""Pure-Python shapefile + avro converter sources: codec round-trips and
the distributed Spark read path (geomesa-convert shp/avro parity without
GDAL or the spark-avro jar)."""

from __future__ import annotations

import json
import struct

import numpy as np
import pytest

from geomesa_spark.geo import io as gio
from geomesa_spark.geo.measures import area
from geomesa_spark.geo.model import (LineString, MultiPolygon, Point,
                                     Polygon)
from geomesa_spark.sources.shapefile import (read_dbf, read_shp,
                                             read_shapefile, write_dbf,
                                             write_shp)


class TestShpCodec:
    def test_point_roundtrip_with_nulls(self):
        pts = [Point(1.5, 2.5), Point(-77.0, 38.9), None, Point(0.0, 0.0)]
        back = read_shp(write_shp(pts))
        assert [None if g is None else (g.x, g.y) for g in back] == \
               [None if g is None else (g.x, g.y) for g in pts]

    def test_polyline_roundtrip(self):
        lines = [LineString([[0, 0], [1, 1], [2, 0]]),
                 LineString([[5, 5], [6, 6]])]
        back = read_shp(write_shp(lines))
        assert all(np.allclose(a.coords, b.coords)
                   for a, b in zip(back, lines))

    def test_polygon_holes_and_multiparts(self):
        poly = gio.from_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
                            "(3 3, 7 3, 7 7, 3 7, 3 3))")
        mp = MultiPolygon([
            gio.from_wkt("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"),
            gio.from_wkt("POLYGON((5 5, 8 5, 8 8, 5 8, 5 5))")])
        back = read_shp(write_shp([poly, mp]))
        assert isinstance(back[0], Polygon) and len(back[0].holes) == 1
        assert isinstance(back[1], MultiPolygon)
        assert abs(area(back[0]) - 84.0) < 1e-9
        assert abs(area(back[1]) - 13.0) < 1e-9

    def test_dbf_types(self):
        fields = [("name", "C", 12), ("pop", "N", 10), ("ok", "L", 1)]
        recs = [{"name": "alpha", "pop": 123, "ok": True},
                {"name": "beta", "pop": None, "ok": False},
                {"name": None, "pop": 42, "ok": None}]
        f2, r2 = read_dbf(write_dbf(fields, recs))
        assert [n for n, _ in f2] == ["name", "pop", "ok"]
        assert r2 == recs


class TestSparkShapefile:
    def test_distributed_read_joins_shp_and_dbf(self, spark, tmp_path):
        geoms = [Point(float(i), float(i) / 2) for i in range(40)]
        fields = [("rid", "N", 8), ("label", "C", 10)]
        recs = [{"rid": i, "label": f"L{i}"} for i in range(40)]
        for part in (0, 1):  # two shapefile pairs in one directory
            sl = slice(part * 20, (part + 1) * 20)
            (tmp_path / f"p{part}.shp").write_bytes(write_shp(geoms[sl]))
            (tmp_path / f"p{part}.dbf").write_bytes(
                write_dbf(fields, recs[sl]))
        out = read_shapefile(spark, str(tmp_path)).collect()
        assert len(out) == 40
        for r in out:
            g = gio.from_wkb(bytes(r["geom"]))
            attrs = json.loads(r["attrs_json"])
            rid = attrs["rid"]
            # geometry and attributes must stay record-aligned per file
            assert attrs["label"] == f"L{rid}"
            assert g.x == float(rid) and g.y == float(rid) / 2

    def test_converter_integration(self, spark, tmp_path):
        from geomesa_spark.sources.convert import Converter, Field
        geoms = [Point(1.0, 2.0), Point(3.0, 4.0)]
        (tmp_path / "a.shp").write_bytes(write_shp(geoms))
        (tmp_path / "a.dbf").write_bytes(write_dbf(
            [("nm", "C", 8)], [{"nm": "x"}, {"nm": "y"}]))
        conv = Converter(fields=[
            Field("fid", "long", "idx"),
            Field("nm", "string", "get_json_object(attrs_json, '$.nm')"),
            Field("wkb", "binary", "geom")])
        rows = {r["fid"]: r["nm"] for r in
                conv.from_shapefile(spark, str(tmp_path)).collect()}
        assert rows == {0: "x", 1: "y"}


class TestXmlConverter:
    def test_xml_records_via_xpath(self, spark, tmp_path):
        from geomesa_spark.sources.convert import Converter, Field
        doc = """<?xml version="1.0"?>
        <features>
          <feature id="f1"><name>alpha</name>
            <loc><lon>1.5</lon><lat>2.5</lat></loc></feature>
          <feature id="f2"><name>beta</name>
            <loc><lon>-3.25</lon><lat>4.0</lat></loc></feature>
        </features>"""
        doc2 = """<features><feature id="f3"><name>gamma</name>
            <loc><lon>9</lon><lat>-9</lat></loc></feature></features>"""
        (tmp_path / "a.xml").write_text(doc)
        (tmp_path / "b.xml").write_text(doc2)
        conv = Converter(fields=[
            Field("fid", "string", "fid"),
            Field("name", "string", "name"),
            Field("lon", "double", "try_cast(lon as double)"),
            Field("lat", "double", "try_cast(lat as double)")],
            required=["fid", "lon", "lat"])
        out = conv.from_xml(spark, str(tmp_path), record_tag="feature",
                            xpaths={"fid": "@id", "name": "name",
                                    "lon": "loc/lon", "lat": "loc/lat"})
        rows = {r["fid"]: (r["name"], r["lon"], r["lat"])
                for r in out.collect()}
        assert rows == {"f1": ("alpha", 1.5, 2.5),
                        "f2": ("beta", -3.25, 4.0),
                        "f3": ("gamma", 9.0, -9.0)}


class TestAvroSchemaRegistry:
    """Confluent wire format + schema evolution: mixed-version framed
    messages decode against the latest reader schema with defaults."""

    V1 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "kind", "type": "string"}]}
    V2 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "kind", "type": "string"},
        {"name": "score", "type": "double", "default": -1.0}]}
    REGISTRY = {7: V1, 9: V2}

    def _stream(self) -> bytes:
        from geomesa_spark.sources.avro import encode_registry_message
        msgs = [encode_registry_message(7, self.V1,
                                        {"id": 1, "kind": "a"}),
                encode_registry_message(9, self.V2,
                                        {"id": 2, "kind": "b",
                                         "score": 0.5}),
                encode_registry_message(7, self.V1,
                                        {"id": 3, "kind": "c"})]
        return b"".join(msgs)

    def test_frame_roundtrip(self):
        from geomesa_spark.sources.avro import decode_registry_stream
        recs = decode_registry_stream(self._stream(), self.REGISTRY)
        assert [(sid, r["id"]) for sid, r in recs] == \
               [(7, 1), (9, 2), (7, 3)]

    def test_unknown_schema_id_raises(self):
        from geomesa_spark.sources.avro import (decode_registry_stream,
                                                encode_registry_message)
        blob = encode_registry_message(99, self.V1, {"id": 1, "kind": "x"})
        with pytest.raises(KeyError, match="99"):
            decode_registry_stream(blob, self.REGISTRY)

    def test_distributed_evolution_read(self, spark, tmp_path):
        from geomesa_spark.sources.avro import read_avro_registry
        d = tmp_path / "reg"
        d.mkdir()
        (d / "part-0.bin").write_bytes(self._stream())
        df = read_avro_registry(spark, str(d), self.REGISTRY)
        rows = {r["id"]: r for r in df.collect()}
        assert set(df.columns) == {"id", "kind", "score", "_schema_id"}
        # v1 rows take the reader default for the new field
        assert rows[1]["score"] == -1.0 and rows[1]["_schema_id"] == 7
        assert rows[2]["score"] == 0.5 and rows[2]["_schema_id"] == 9
        assert rows[3]["kind"] == "c"

    def test_converter_integration(self, spark, tmp_path):
        from geomesa_spark.sources.convert import Converter, Field
        d = tmp_path / "reg2"
        d.mkdir()
        (d / "a.bin").write_bytes(self._stream())
        conv = Converter(fields=[Field("fid", "long", "id"),
                                 Field("label", "string", "kind")])
        df = conv.from_avro_registry(spark, str(d), self.REGISTRY)
        assert sorted(r["fid"] for r in df.collect()) == [1, 2, 3]


class TestShapefileEmpty:
    def test_write_shp_empty_rows_null_shape(self):
        from geomesa_spark.sources.shapefile import read_shp, write_shp
        geoms = [Point(1, 2),
                 gio.from_wkt("LINESTRING EMPTY"),
                 gio.from_wkt("POLYGON EMPTY")]
        data = write_shp(geoms)
        bbox = struct.unpack("<8d", data[36:100])[:4]
        assert bbox == (1.0, 2.0, 1.0, 2.0)  # empties excluded, no NaN
        back = read_shp(data)
        assert gio.to_wkt(back[0]) == "POINT (1 2)"
        assert back[1] is None and back[2] is None  # spec Null Shape

    def test_write_shp_empty_part_in_multi(self):
        from geomesa_spark.sources.shapefile import read_shp, write_shp
        g = gio.from_wkt("MULTILINESTRING ((0 0, 1 1), EMPTY)")
        back = read_shp(write_shp([g]))
        # the empty part is dropped from the part array (a 0-point part
        # is invalid per spec); the non-empty linework survives
        assert gio.to_wkt(back[0]) == "LINESTRING (0 0, 1 1)"
