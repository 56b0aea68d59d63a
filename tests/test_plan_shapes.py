"""Plan-shape assertions (the reference's pushdown test pattern,
SparkSQLDataTest.scala:161-243): prove the physical plans are the ones a
100 TB deployment needs — broadcasts actually broadcast, cell math stays
in codegen, scans prune partitions and columns, aggregates have map-side
partial phases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as e
    return e


class TestJoinPlans:
    def test_spatial_join_broadcasts_regions(self, spark, entry):
        df = entry.q_spatial_join_contains(spark, SF)
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        # the big point side must NOT be exchanged before the join
        join_part = plan.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in join_part

    def test_broadcast_point_join_is_pure_jvm(self, spark):
        """A broadcast join over star polygons (non-rectangles, which
        need the exact refine) has no Python eval node, and its
        broadcast side is a local relation, not a Python RDD."""
        import numpy as np

        from geomesa_spark.geo.io import to_wkb
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.operators.join import spatial_join

        ang = np.linspace(0.0, 2 * np.pi, 9)[:-1]
        rad = np.where(np.arange(8) % 2 == 0, 6.0, 2.0)
        stars = [Polygon(np.column_stack([cx + rad * np.cos(ang),
                                          cy + rad * np.sin(ang)]))
                 for cx, cy in ((0.0, 0.0), (30.0, 10.0))]
        regions = spark.createDataFrame(
            [(i, bytearray(to_wkb(g))) for i, g in enumerate(stars)],
            "region_id long, geom binary")
        pts = spark.range(400).select(
            F.col("id"), (F.col("id") % 40 - 5.0).alias("lon"),
            (F.col("id") / 40 - 5.0).alias("lat"))
        df = spatial_join(pts, regions, predicate="st_contains",
                          broadcast_regions=True)
        plan = _plan(df)
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
        build = plan.split("BroadcastExchange")[1]
        assert "LocalTableScan" in build
        assert "ExistingRDD" not in build
        assert df.count() > 0

    def test_attribute_join_is_broadcast_or_smj(self, spark, entry):
        plan = _plan(entry.q_join_pushdown(spark, SF))
        assert "Join" in plan

    def test_knn_candidates_use_native_cells(self, spark, entry):
        # q_knn runs its rounds eagerly, so assert on one round's plan:
        # the cell column must be native bit math and the distance native
        # Catalyst (no Python eval node). A partition-pruned round
        # coalesces and never exchanges; a full-scan round broadcasts the
        # ring cells and exchanges only the joined rows, by query
        import re
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.operators.knn import _ring_top_k
        pts = entry._events_points(spark, SF).withColumn(
            "__pc__", cell_expr("lon", "lat"))
        for pruned in (True, False):
            plan = _plan(_ring_top_k(pts, [("q", 0.0, 0.0, 0)], 10,
                                     ["event_id", "lon", "lat"], "__pc__",
                                     pruned, lon="lon", lat="lat",
                                     metric="haversine",
                                     tiebreak=["event_id"]))
            assert "shiftleft" in plan or "shiftright" in plan
            assert "ArrowEvalPython" not in plan
            assert "BatchEvalPython" not in plan
            if pruned:
                assert "Exchange" not in plan
            else:
                assert "BroadcastExchange" in plan
                keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
                assert keys and all(k.startswith("query_id") for k in keys)


class TestCodegen:
    def test_cell_assignment_tiles_no_python(self, spark):
        from geomesa_spark.operators.tiles import tile_counts
        from geomesa_spark.raster.fixtures import images_df
        plan = _plan(tile_counts(images_df(spark, 100)))
        # tile assignment + count: only the fixture synth is Python
        after_synth = plan.split("MapInPandas")[0]
        assert "ArrowEvalPython" not in after_synth
        assert "BatchEvalPython" not in plan

    def test_density_is_pure_jvm(self, spark, entry):
        plan = _plan(entry.q_density_grid(spark, SF))
        assert "EvalPython" not in plan
        # partial/final hash aggregate = the AggregatingScan shape
        assert plan.count("HashAggregate") >= 2

    def test_z3_heatmap_is_pure_jvm(self, spark, entry):
        plan = _plan(entry.q_z3_heatmap(spark, SF))
        assert "EvalPython" not in plan


class TestAggregates:
    def test_partial_final_hash_aggregate(self, spark, entry):
        plan = _plan(entry.q_unique_values(spark, SF))
        # map-side partial agg before the exchange (AggregatingScan shape)
        assert plan.count("HashAggregate") >= 2

    def test_topk_single_shuffle(self, spark, entry):
        plan = _plan(entry.q_topk_per_key(spark, SF))
        assert "Window" in plan


class TestScanPushdown:
    def test_column_pruning_reaches_scan(self, spark):
        ev = spark.read.parquet(f"{SF}/events.parquet")
        plan = _plan(ev.select("event_id"))
        assert "ReadSchema: struct<event_id:bigint>" in plan

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = _plan(li.where(F.col("l_quantity") > 40.0)
                     .select("l_orderkey"))
        assert "PushedFilters: [IsNotNull(l_quantity), " \
               "GreaterThan(l_quantity,40.0)]" in plan

    def test_bytes_column_not_scanned_for_tiles(self, spark, tmp_path):
        """The heavy image payload must not be read for tile counting."""
        from geomesa_spark.operators.tiles import tile_counts
        from geomesa_spark.sources.table import ingest_images, read_images
        path = str(tmp_path / "t")
        ingest_images(spark, path, n=50, chunk_rows=50,
                      partitions_per_chunk=2)
        imgs = read_images(spark, path)
        plan = _plan(tile_counts(imgs.select("lon", "lat", "image_id")))
        read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
        assert "bytes" not in read_schema


class TestClassifiedCover:
    """cell_cover_classified: interior cells are PROVABLY all-'I' (the
    contained-range shortcut), boundary cells carry the geometry edge."""

    def test_interior_cells_are_strictly_inside(self, spark):
        import numpy as np

        from geomesa_spark.cells.z2 import cell_bounds
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.operators.join import locate_points_in_geometry
        from geomesa_spark.plans.planner import cell_cover_classified

        # concave polygon with a diagonal edge crossing many res-6 cells
        poly = Polygon([[-60.0, -30.0], [60.0, -30.0], [60.0, 40.0],
                        [0.0, 5.0], [-60.0, 40.0], [-60.0, -30.0]])
        cells, interior = cell_cover_classified(poly, res=6)
        assert interior.any() and (~interior).any()
        x0, y0, x1, y1 = cell_bounds(cells, 6)
        rng = np.random.default_rng(7)
        for i in np.flatnonzero(interior):
            xs = rng.uniform(x0[i], x1[i], 50)
            ys = rng.uniform(y0[i], y1[i], 50)
            # corners included: closed-rect claim
            xs = np.concatenate([xs, [x0[i], x1[i], x0[i], x1[i]]])
            ys = np.concatenate([ys, [y0[i], y0[i], y1[i], y1[i]]])
            assert (locate_points_in_geometry(xs, ys, poly) == 1).all()

    @staticmethod
    def _inputs():
        import numpy as np

        from geomesa_spark.geo.model import (LineString, MultiPolygon, Point,
                                             Polygon)
        rng = np.random.default_rng(5)
        geoms = []
        for _ in range(5):  # random stars: vertices at sorted angles
            cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
            k = int(rng.integers(5, 40))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(1.0, 25.0, k)
            geoms.append(Polygon(np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)])))
        return geoms + [
            Polygon([[-40, -20], [40, -20], [40, 30], [-40, 30], [-40, -20]],
                    holes=[[[-10, -5], [15, -5], [15, 12], [-10, 12],
                            [-10, -5]]]),
            MultiPolygon([Polygon([[60, 0], [90, 0], [90, 25], [60, 0]]),
                          Polygon([[95, 5], [120, 30], [95, 30], [95, 5]])]),
            Polygon([[-120, 0], [-90, 30], [-90, 0], [-120, 30],
                     [-120, 0]]),                              # bowtie
            # vertices on cell corners at res 4 and 5
            Polygon([[0, 0], [22.5, 0], [33.75, 11.25], [0, 22.5], [0, 0]]),
            # runs off the world's east edge: rows end in interior cells
            Polygon([[-100, 0], [200, 0], [200, 40], [-20, 40], [-100, 0]]),
            LineString([[-100, -50], [-60, 10], [-20, -30]]),
            Point(100.0, 20.0),
        ]

    @pytest.mark.parametrize("res", [4, 5])
    def test_cover_between_de9im_and_bbox(self, res):
        """The edge-test cover holds every cell the DE-9IM predicate says
        the geometry meets, and nothing outside the bbox cover; every
        interior cell is all-'I' at random samples and its corners."""
        import numpy as np

        from geomesa_spark.cells import bbox_cover
        from geomesa_spark.cells.z2 import cell_bounds
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.geo.predicates import intersects
        from geomesa_spark.operators.join import locate_points_in_geometry
        from geomesa_spark.plans.planner import cell_cover_classified

        rng = np.random.default_rng(7)
        for geom in self._inputs():
            cells, interior = cell_cover_classified(geom, res=res)
            box = bbox_cover(*geom.bounds(), res=res)
            x0, y0, x1, y1 = cell_bounds(box, res)
            de9im = {int(c) for c, a, b, cc, d in zip(box, x0, y0, x1, y1)
                     if intersects(Polygon([[a, b], [cc, b], [cc, d],
                                            [a, d], [a, b]]), geom)}
            got = set(cells.tolist())
            assert de9im <= got, (geom, sorted(de9im - got))
            assert got <= set(box.tolist()), geom
            x0, y0, x1, y1 = cell_bounds(cells, res)
            for i in np.flatnonzero(interior):
                xs = np.concatenate([rng.uniform(x0[i], x1[i], 50),
                                     [x0[i], x1[i], x0[i], x1[i]]])
                ys = np.concatenate([rng.uniform(y0[i], y1[i], 50),
                                     [y0[i], y0[i], y1[i], y1[i]]])
                assert (locate_points_in_geometry(xs, ys, geom) == 1).all()

    def test_boundary_point_via_interior_shortcut_join(self, spark):
        from geomesa_spark.geo.io import to_wkb
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.operators.join import spatial_join

        # region aligned to res-4 cell edges: its boundary lies ON cell
        # borders; boundary points must NOT be accepted by st_contains
        poly = Polygon([[-45.0, -22.5], [45.0, -22.5], [45.0, 22.5],
                        [-45.0, 22.5], [-45.0, -22.5]])
        regions = spark.createDataFrame(
            [("r", bytearray(to_wkb(poly)))], "region_id string, geom binary")
        pts = spark.createDataFrame(
            [(1, 0.0, 0.0),        # interior
             (2, -45.0, 0.0),      # on boundary
             (3, 0.0, 22.5),       # on boundary
             (4, 100.0, 0.0)],     # outside
            "id long, lon double, lat double")
        got = spatial_join(pts, regions, predicate="st_contains",
                           broadcast_regions=True)
        assert sorted(r.id for r in got.collect()) == [1]
        cov = spatial_join(pts, regions, predicate="st_covers",
                          broadcast_regions=True)
        assert sorted(r.id for r in cov.collect()) == [1, 2, 3]
