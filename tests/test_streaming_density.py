"""Streaming windowed density + lambda merged view tests."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

SCHEMA = "key string, ts timestamp, lon double, lat double"


def test_streaming_density_windows(spark, tmp_path):
    from geomesa_spark.streaming.density import streaming_density
    d = str(tmp_path / "in")
    os.makedirs(d)
    rows = [
        # window 00:00-00:10 -> pixel (0,0) x2, pixel (5,5) x1
        {"key": "a", "ts": "2024-01-01T00:01:00", "lon": 0.5, "lat": 0.5},
        {"key": "b", "ts": "2024-01-01T00:02:00", "lon": 0.7, "lat": 0.7},
        {"key": "c", "ts": "2024-01-01T00:03:00", "lon": 5.5, "lat": 5.5},
        # window 00:10-00:20 -> pixel (0,0) x1
        {"key": "d", "ts": "2024-01-01T00:11:00", "lon": 0.2, "lat": 0.9},
        # out of envelope -> dropped
        {"key": "e", "ts": "2024-01-01T00:04:00", "lon": 55.0, "lat": 5.0},
    ]
    with open(os.path.join(d, "b.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    src = spark.readStream.schema(SCHEMA).json(d)
    out = streaming_density(src, envelope=(0.0, 0.0, 10.0, 10.0),
                            width=10, height=10)
    q = (out.writeStream.format("memory").queryName("sd")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r["window_start"])[11:16], r["col"], r["row"]): r["weight"]
           for r in spark.sql("SELECT * FROM sd").collect()}
    assert got == {("00:00", 0, 0): 2, ("00:00", 5, 5): 1,
                   ("00:10", 0, 0): 1}


def test_lambda_view_merges_batch_and_stream(spark):
    from geomesa_spark.streaming.density import lambda_view
    batch = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0, 1.0, "batch-a"),
         ("b", "2024-01-01 00:00:00", 2.0, 2.0, "batch-b"),
         ("c", "2024-01-01 00:00:00", 3.0, 3.0, "batch-c")],
        "key string, ts string, lon double, lat double, payload string") \
        .withColumn("ts", F.to_timestamp("ts"))
    log = spark.createDataFrame(
        [("a", "put", "2024-01-01 01:00:00", 9.0, 9.0, "stream-a", 1),
         ("b", "delete", "2024-01-01 01:00:00", None, None, None, 2),
         ("d", "put", "2024-01-01 01:00:00", 4.0, 4.0, "stream-d", 3)],
        "key string, op string, ts string, lon double, lat double, "
        "payload string, seq long") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {r["key"]: r["payload"] for r in lambda_view(batch, log).collect()}
    # a: stream wins; b: deleted; c: batch survives; d: stream-only
    assert got == {"a": "stream-a", "c": "batch-c", "d": "stream-d"}


def test_streaming_density_checkpoint_resume(spark, tmp_path):
    """jobs/stream_density.py semantics: a second availableNow run over a
    grown input directory resumes from the checkpoint — already-read
    files are not reprocessed, and a window lands in the parquet sink
    exactly once, when later data advances the watermark past its end."""
    from geomesa_spark.streaming.density import streaming_density
    src_dir, out, ckpt = (str(tmp_path / n) for n in ("in", "out", "ckpt"))
    os.makedirs(src_dir)

    def run_once():
        src = spark.readStream.schema(SCHEMA).json(src_dir)
        dens = streaming_density(src, envelope=(0.0, 0.0, 10.0, 10.0),
                                 width=10, height=10)
        q = (dens.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    def sink_rows():
        return sorted(
            (str(r["window_start"])[11:16], r["col"], r["row"], r["weight"])
            for r in spark.read.schema(
                "window_start timestamp, col int, row int, weight long"
            ).parquet(out).collect())

    with open(os.path.join(src_dir, "b1.json"), "w") as f:
        for r in [{"key": "a", "ts": "2024-01-01T00:01:00",
                   "lon": 0.5, "lat": 0.5},
                  {"key": "b", "ts": "2024-01-01T00:02:00",
                   "lon": 0.7, "lat": 0.7}]:
            f.write(json.dumps(r) + "\n")
    run_once()
    assert sink_rows() == []  # watermark has not passed the window end

    # later file: watermark -> 00:15, closing the 00:00-00:10 window
    with open(os.path.join(src_dir, "b2.json"), "w") as f:
        f.write(json.dumps({"key": "c", "ts": "2024-01-01T00:25:00",
                            "lon": 5.5, "lat": 5.5}) + "\n")
    run_once()
    assert sink_rows() == [("00:00", 0, 0, 2)]

    # no new data: resume is a no-op, nothing re-emitted
    run_once()
    assert sink_rows() == [("00:00", 0, 0, 2)]


class TestLambdaViewOptionalSeq:
    def test_log_without_seq_column(self, spark):
        from geomesa_spark.streaming.density import lambda_view
        batch = spark.createDataFrame(
            [("a", 1.0, "batch"), ("b", 1.0, "batch")],
            "key string, ts double, val string")
        log = spark.createDataFrame(
            [("a", "put", 2.0, "stream"), ("c", "put", 2.0, "stream")],
            "key string, op string, ts double, val string")
        rows = {r.key: r.val for r in lambda_view(batch, log).collect()}
        assert rows == {"a": "stream", "b": "batch", "c": "stream"}
