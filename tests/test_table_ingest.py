"""Partitioned-table layout, partition pruning, lineage, and resume tests
(SURVEY.md §2.1 FS partition schemes + §7.2 step 9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geomesa_spark.sources.table import (completed_chunks, ingest_images,
                                         lineage_df, read_images)

N = 60
CHUNK = 25  # -> chunks [0,25) [25,50) [50,60)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgtable") / "images")
    summary = ingest_images(spark, path, n=N, chunk_rows=CHUNK,
                            partitions_per_chunk=4)
    return path, summary


def test_ingest_complete(spark, table):
    path, summary = table
    assert summary["ingested"] == [0, 1, 2]
    df = read_images(spark, path)
    assert df.count() == N
    assert df.select("image_id").distinct().count() == N


def test_hive_partition_layout(spark, table):
    path, _ = table
    parts = [d for d in os.listdir(path) if d.startswith("cell_prefix=")]
    assert len(parts) > 1  # spread across cells
    # partition column round-trips through directory names
    df = read_images(spark, path)
    assert "cell_prefix" in df.columns


def test_partition_pruning_in_plan(spark, table):
    """Plan-shape assertion (the reference's pushdown test pattern,
    SparkSQLDataTest.scala:161-208): the cell filter must appear as a
    PartitionFilter on the FileScan, not a post-scan Filter."""
    path, _ = table
    df = read_images(spark, path)
    some_cell = df.select("cell_prefix").first()[0]
    pruned = df.where(F.col("cell_prefix") == some_cell)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert f"(cell_prefix#" in plan and "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert str(some_cell) in pf
    assert 0 < pruned.count() < N


def test_lineage_metrics(spark, table):
    path, _ = table
    lin = lineage_df(spark, path)
    agg = lin.agg(F.sum("n_rows").alias("rows"),
                  F.sum("bytes").alias("b")).collect()[0]
    assert agg["rows"] == N and agg["b"] > 0
    assert completed_chunks(spark, path) == {0, 1, 2}


def test_resume_skips_committed_chunks(spark, table):
    path, _ = table
    again = ingest_images(spark, path, n=N, chunk_rows=CHUNK,
                          partitions_per_chunk=4)
    assert again["ingested"] == [] and again["skipped"] == [0, 1, 2]
    assert read_images(spark, path).count() == N  # exactly-once


def test_resume_after_partial_ingest(spark, tmp_path):
    path = str(tmp_path / "partial")
    # simulate a killed job: only the first chunk committed
    first = ingest_images(spark, path, n=CHUNK, chunk_rows=CHUNK,
                          partitions_per_chunk=4)
    assert first["ingested"] == [0]
    resumed = ingest_images(spark, path, n=N, chunk_rows=CHUNK,
                            partitions_per_chunk=4)
    assert resumed["ingested"] == [1, 2] and resumed["skipped"] == [0]
    df = read_images(spark, path)
    assert df.count() == N
    assert df.select("image_id").distinct().count() == N


class TestSpatioTemporalLayout:
    @pytest.fixture(scope="class")
    def st_table(self, spark, tmp_path_factory):
        from geomesa_spark.sources.table import write_spatiotemporal
        path = str(tmp_path_factory.mktemp("st") / "events")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        pts = ev.select(
            "event_id", "ts",
            ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
            ((F.col("event_id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"))
        write_spatiotemporal(pts, path)
        return path, pts

    def test_layout_has_both_partition_levels(self, spark, st_table):
        path, _ = st_table
        weeks = [d for d in os.listdir(path) if d.startswith("epoch_week=")]
        assert weeks
        sub = os.path.join(path, weeks[0])
        assert any(d.startswith("cell_prefix=") for d in os.listdir(sub))

    def test_pruned_scan_matches_bruteforce(self, spark, st_table):
        from geomesa_spark.sources.table import spatiotemporal_scan
        path, pts = st_table
        bbox = (-30.0, -20.0, 40.0, 35.0)
        got = spatiotemporal_scan(
            spark, path, bbox=bbox,
            t0="2024-01-01", t1="2024-01-08")
        # refine exactly (scan may over-select by design)
        got = got.where(
            (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
            & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
            & (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-01-09"))
        want = pts.where(
            (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
            & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])
            & (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-01-09"))
        assert {r["event_id"] for r in got.collect()} == \
            {r["event_id"] for r in want.collect()}

    def test_both_partition_filters_in_plan(self, spark, st_table):
        from geomesa_spark.sources.table import spatiotemporal_scan
        path, _ = st_table
        df = spatiotemporal_scan(spark, path, bbox=(-30, -20, 40, 35),
                                 t0="2024-01-01", t1="2024-01-08")
        plan = df._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "epoch_week" in pf and "cell_prefix" in pf


class TestSaltedWrite:
    """write_images(salt=N): hot-cell writer spread (ShardStrategy.scala
    analog) — one hive partition dir, multiple files, identical rows."""

    def test_salt_spreads_hot_cell_files(self, spark, tmp_path):
        import glob

        from geomesa_spark.sources.table import write_images
        imgs = spark.range(0, 4000).select(
            F.col("id").cast("string").alias("image_id"),
            F.lit(-120.0).alias("lon"), F.lit(40.0).alias("lat"))
        prev = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true")
        # tiny fixture: AQE would (correctly) re-merge sub-64MB splits;
        # disable so the test observes the salt key spread itself
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            write_images(imgs, str(tmp_path / "salted"), salt=4)
            write_images(imgs, str(tmp_path / "plain"), salt=None)
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", prev)
        salted = glob.glob(str(tmp_path / "salted/cell_prefix=*/*.parquet"))
        plain = glob.glob(str(tmp_path / "plain/cell_prefix=*/*.parquet"))
        assert len(plain) == 1  # one hot cell -> one writer task
        assert len(salted) == 4  # spread over the salt buckets
        a = spark.read.parquet(str(tmp_path / "salted"))
        b = spark.read.parquet(str(tmp_path / "plain"))
        assert a.count() == b.count() == 4000
        assert a.select("cell_prefix").distinct().collect() == \
            b.select("cell_prefix").distinct().collect()


class TestSnapshotRead:
    """Iceberg-style time travel: commit-stamped files + snapshot reads."""

    def test_time_travel_and_history(self, spark, tmp_path):
        from geomesa_spark.sources.table import (ingest_images,
                                                 read_snapshot,
                                                 table_history)
        p = str(tmp_path / "tt")
        ingest_images(spark, p, n=300, chunk_rows=100)
        # full read = all three commits
        assert read_snapshot(spark, p).count() == 300
        # as of commit 1 = first two chunks only, and the exact rows
        snap = read_snapshot(spark, p, as_of_chunk=1)
        assert snap.count() == 200
        ids = {r["image_id"] for r in snap.select("image_id").collect()}
        assert ids == {f"img-{i:012d}" for i in range(200)}
        hist = table_history(spark, p).collect()
        assert [r["chunk_id"] for r in hist] == [0, 1, 2]
        assert sum(r["n_rows"] for r in hist) == 300

    def test_snapshot_predicate_reaches_scan(self, spark, tmp_path):
        """ingest_chunk is a partition directory level, so the snapshot
        predicate must show up as partition PRUNING (stronger than the
        old footer-stats pushdown: later commits' dirs are never even
        listed into the scan)."""
        from geomesa_spark.sources.table import (ingest_images,
                                                 read_snapshot)
        p = str(tmp_path / "tt2")
        ingest_images(spark, p, n=200, chunk_rows=100)
        plan = read_snapshot(spark, p, as_of_chunk=0) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "ingest_chunk" in plan.split("PartitionFilters: [", 1)[1] \
            .split("]", 1)[0]


class TestProjectedScan:
    """Width-aware scan: splits sized by projected on-disk bytes
    (Iceberg/Trino split planning over parquet footers)."""

    def test_parse_bytes(self):
        from geomesa_spark.sources.table import _parse_bytes
        assert _parse_bytes("32m") == 32 << 20
        assert _parse_bytes("128mb") == 128 << 20
        assert _parse_bytes("1g") == 1 << 30
        assert _parse_bytes("134217728") == 134217728
        assert _parse_bytes("4k") == 4096

    def test_fraction_narrow_vs_wide(self, spark, table):
        from geomesa_spark.sources.table import _projected_fraction
        path, _ = table
        narrow = _projected_fraction(path, ["lon", "lat"])
        wide = _projected_fraction(path, ["bytes"])
        # the image payload dominates the file bytes
        assert narrow < 0.2 < wide
        # missing table -> safe full-width estimate
        assert _projected_fraction(str(path) + "_missing", ["x"]) == 1.0

    def test_same_rows_and_isolated_conf(self, spark, table):
        from geomesa_spark.sources.table import projected_scan
        path, _ = table
        before = spark.conf.get("spark.sql.files.maxPartitionBytes")
        df = projected_scan(spark, path, ["image_id", "lon", "lat"])
        assert df.columns == ["image_id", "lon", "lat"]
        assert df.count() == N
        # identical multiset of rows vs the plain scan
        plain = read_images(spark, path).select("image_id", "lon", "lat")
        assert (sorted(map(tuple, df.collect()))
                == sorted(map(tuple, plain.collect())))
        # the caller's session conf is untouched (isolation contract)
        assert spark.conf.get(
            "spark.sql.files.maxPartitionBytes") == before

    def test_split_size_scales_with_projection(self, spark, table):
        from geomesa_spark.sources.table import (_parse_bytes,
                                                 projected_scan)
        path, _ = table
        df = projected_scan(spark, path, ["lon", "lat"])
        child = df.sparkSession
        base = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes"))
        eff = _parse_bytes(child.conf.get(
            "spark.sql.files.maxPartitionBytes"))
        assert eff > base  # narrow projection -> larger splits
        # full-width projection resizes nothing (same session comes back)
        full = projected_scan(spark, path, read_images(
            spark, path).columns)
        assert full.sparkSession is spark

    def test_cross_session_join(self, spark, table):
        """A projected scan joins cleanly with parent-session frames."""
        from geomesa_spark.sources.table import projected_scan
        path, _ = table
        df = projected_scan(spark, path, ["image_id", "lon", "lat"])
        dim = spark.createDataFrame(
            [(i,) for i in range(0, N, 2)], "id long")
        joined = df.join(F.broadcast(dim),
                         df.image_id == F.concat(F.lit("img-"),
                                                 F.lpad("id", 12, "0")),
                         "inner")
        assert joined.count() > 0


class TestReadBalanced:
    """read_balanced: rebalance single-row-group scans, no-op otherwise."""

    def test_narrow_scan_is_rebalanced(self, spark, tmp_path):
        from geomesa_spark.sources.table import read_balanced
        p = str(tmp_path / "narrow")
        spark.range(1000).coalesce(1).write.parquet(p)
        df = read_balanced(spark, p)
        want = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= want
        assert df.count() == 1000

    def test_wide_scan_is_untouched(self, spark, tmp_path):
        """A scan already at/above the target keeps its plan (no
        exchange inserted, pushdown-compatible)."""
        from geomesa_spark.sources.table import read_balanced
        p = str(tmp_path / "wide")
        spark.range(1000).repartition(64).write.parquet(p)
        df = read_balanced(spark, p, target=4)
        assert "Exchange" not in df._jdf.queryExecution().executedPlan() \
            .toString().split("\n")[0] + \
            df._jdf.queryExecution().toString()
        assert df.count() == 1000


class TestIngestExactlyOnceAfterCrash:
    def test_orphaned_chunk_files_are_scrubbed_on_resume(
            self, spark, tmp_path):
        """Simulate a job killed BETWEEN a chunk's data write and its
        lineage commit marker: the resume must not double-count that
        chunk's rows (the orphaned ingest_chunk=c dirs are deleted
        before the re-write)."""
        from pyspark.sql import functions as F
        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.sources.table import (
            _images_range, ingest_images, read_images, write_partitioned)
        p = str(tmp_path / "crash")
        # commit chunk 0 normally
        ingest_images(spark, p, n=100, chunk_rows=100,
                      partitions_per_chunk=2)
        # write chunk 1's DATA but no lineage marker (the crash window)
        orphan = (_images_range(spark, 100, 200, 2)
                  .withColumn("cell_prefix",
                              cell_expr("lon", "lat", PARTITION_RES))
                  .withColumn("ingest_chunk", F.lit(1).cast("long"))
                  .repartition("cell_prefix"))
        write_partitioned(orphan, p, mode="append",
                          extra_partition_cols=("ingest_chunk",))
        assert read_images(spark, p).count() == 200  # orphans visible
        # resume: chunk 1 absent from lineage -> re-ingested exactly once
        resumed = ingest_images(spark, p, n=200, chunk_rows=100,
                                partitions_per_chunk=2)
        assert resumed["ingested"] == [1] and resumed["skipped"] == [0]
        df = read_images(spark, p)
        assert df.count() == 200
        assert df.select("image_id").distinct().count() == 200
