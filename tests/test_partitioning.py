"""Spatial partitioning strategies + planner guard/loose-bbox tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pts(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return ev.select(
        "event_id",
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    ).cache()


class TestStrategies:
    @pytest.mark.parametrize("strategy", ["equal", "earth", "weighted"])
    def test_total_and_reserved(self, spark, pts, strategy):
        from geomesa_spark.plans.partitioning import spatial_repartition
        bad = spark.createDataFrame(
            [(999999, None, None)], "event_id long, lon double, lat double")
        out = spatial_repartition(pts.unionByName(bad), strategy=strategy)
        assert out.count() == pts.count() + 1  # nothing dropped
        reserved = out.where(F.col("partition_id") == -1).collect()
        assert [r["event_id"] for r in reserved] == [999999]

    def test_weighted_balances_skew(self, spark):
        from geomesa_spark.plans.partitioning import spatial_repartition
        # 90% of points piled into one corner
        import numpy as np
        rng = np.random.default_rng(8)
        rows = [(i, float(np.clip(rng.normal(10, 0.5), -180, 180)),
                 float(np.clip(rng.normal(10, 0.5), -90, 90)))
                for i in range(900)]
        rows += [(1000 + i, float(rng.uniform(-180, 180)),
                  float(rng.uniform(-90, 90))) for i in range(100)]
        df = spark.createDataFrame(rows, "id long, lon double, lat double")
        w = spatial_repartition(df, strategy="weighted", parallelism=16)
        counts = [r["n"] for r in w.groupBy("partition_id")
                  .agg(F.count("*").alias("n")).collect()]
        # quantile binning keeps the largest bucket far below 90%
        assert max(counts) < 0.5 * 1000

    def test_same_strategy_joins_on_partition_id(self, spark, pts):
        from geomesa_spark.plans.partitioning import spatial_repartition
        a = spatial_repartition(pts, strategy="earth")
        b = spatial_repartition(pts.withColumnRenamed("event_id", "eid"),
                                strategy="earth")
        j = a.join(b, "partition_id")
        assert j.count() > 0


class TestPlannerGuards:
    def test_query_guard_raises_on_full_scan(self):
        from geomesa_spark.plans.planner import query_guard
        with pytest.raises(ValueError):
            query_guard(None)
        query_guard(None, allow_full_scan=True)  # explicit opt-in ok

    def test_disjoint_short_circuit(self, spark, pts):
        from geomesa_spark.geo import from_wkt
        from geomesa_spark.plans.planner import cell_cover_of_geometry
        empty = from_wkt("POLYGON EMPTY")
        cov = cell_cover_of_geometry(empty)
        assert cov is not None and len(cov) == 0

    def test_whole_world_no_filter(self, spark):
        from geomesa_spark.geo import from_wkt
        from geomesa_spark.plans.planner import cell_cover_of_geometry
        world = from_wkt(
            "POLYGON((-180 -90, 180 -90, 180 90, -180 90, -180 -90))")
        assert cell_cover_of_geometry(world) is None


class TestRtreeStrategy:
    def test_rtree_partitions_balance_and_reserve(self, spark):
        """STR-packed envelopes: skewed data splits into balanced leaves;
        points outside every envelope go to the reserved -1 partition."""
        import numpy as np
        from pyspark.sql import functions as F
        from geomesa_spark.plans.partitioning import spatial_repartition
        rng = np.random.default_rng(17)
        # heavy cluster + sparse tail (the skew case rtree exists for)
        xs = np.concatenate([rng.normal(10, 1, 4000),
                             rng.uniform(-170, 170, 400)])
        ys = np.concatenate([rng.normal(20, 1, 4000),
                             rng.uniform(-80, 80, 400)])
        df = spark.createDataFrame(
            [(int(i), float(x), float(y))
             for i, (x, y) in enumerate(zip(xs, ys))],
            "id long, lon double, lat double")
        out = spatial_repartition(df, strategy="rtree", parallelism=16)
        counts = {r["partition_id"]: r["n"] for r in
                  out.groupBy("partition_id")
                  .agg(F.count("*").alias("n")).collect()}
        assigned = {k: v for k, v in counts.items() if k >= 0}
        assert len(assigned) >= 8  # leaves actually split the cluster
        # balance: no leaf hogs the data (cluster split across leaves)
        assert max(assigned.values()) < 4400 * 0.5
        # every row kept (reserved partition catches sample misses)
        assert sum(counts.values()) == 4400

    def test_rtree_same_strategy_colocates(self, spark):
        import numpy as np
        from geomesa_spark.plans.partitioning import rtree_partition_id
        rng = np.random.default_rng(18)
        df = spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-50, 50, 1000),
                    rng.uniform(-50, 50, 1000)))],
            "id long, lon double, lat double")
        # same strategy + params => identical assignment both times
        a = df.withColumn("p", rtree_partition_id(df, parallelism=9))
        b = df.withColumn("p", rtree_partition_id(df, parallelism=9))
        ja = {r["id"]: r["p"] for r in a.collect()}
        jb = {r["id"]: r["p"] for r in b.collect()}
        assert ja == jb


class TestCoverBudgetHonored:
    def test_huge_reexpansion_returns_no_prune(self):
        """A near-world polygon with a tiny budget: coarsening succeeds
        but re-expanding to partition res would blow the budget by far
        more than the 4x slack -> None (scan + exact refine), never a
        six-figure isin list."""
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.plans.planner import cell_cover_of_geometry
        near_world = Polygon([[-180.0, -90.0], [180.0, -90.0],
                              [180.0, 89.0], [-180.0, 89.0],
                              [-180.0, -90.0]])
        assert cell_cover_of_geometry(near_world, max_cells=4) is None

    def test_small_query_still_prunes(self):
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.plans.planner import cell_cover_of_geometry
        small = Polygon([[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0],
                         [0.0, 0.0]])
        cover = cell_cover_of_geometry(small)
        assert cover is not None and 0 < len(cover) <= 16


class TestSharedPartitionerSpec:
    def test_same_spec_same_mapping_across_frames(self, spark):
        """Data-dependent strategies must expose a fit-once/apply-many
        path: the SAME fitted spec maps the same coordinates to the same
        partition id on two different frames (independent fits would
        derive different bin edges)."""
        from geomesa_spark.plans.partitioning import (
            fit_partitioner, partition_id_from_spec)
        a = spark.createDataFrame(
            [(float(i), float(i % 7)) for i in range(-50, 50)],
            "lon double, lat double")
        # b shares some of a's coordinates but has very different
        # bounds/quantiles (an independent fit would bin differently)
        b = spark.createDataFrame(
            [(float(i), float(i % 7)) for i in range(10)]
            + [(1000.0, 3.0)],
            "lon double, lat double")
        for strategy in ("equal", "weighted", "rtree"):
            spec = fit_partitioner(a, strategy=strategy, parallelism=16)
            pid = partition_id_from_spec(spec)
            ma = {(r.lon, r.lat): r.pid for r in
                  a.withColumn("pid", pid).collect()}
            mb = {(r.lon, r.lat): r.pid for r in
                  b.withColumn("pid", pid).collect()}
            shared = set(ma) & set(mb)
            assert shared, f"{strategy}: fixtures must overlap"
            for k in shared:
                assert ma[k] == mb[k], strategy

    def test_spec_roundtrips_through_json(self, spark):
        import json
        from geomesa_spark.plans.partitioning import (
            fit_partitioner, partition_id_from_spec)
        df = spark.createDataFrame(
            [(float(i), float(i % 5)) for i in range(100)],
            "lon double, lat double")
        spec = fit_partitioner(df, strategy="rtree", parallelism=8)
        spec2 = json.loads(json.dumps(spec))
        got = df.withColumn(
            "pid", partition_id_from_spec(spec2)).collect()
        assert all(r.pid >= -1 for r in got)
