"""Streaming upsert cache tests: last-write-wins, delete tombstones,
checkpointed restart, TTL expiry, and the batch compaction view
(KafkaFeatureCache semantics, SURVEY.md §2.8)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

SCHEMA = ("key string, op string, ts timestamp, lon double, lat double, "
          "payload string, seq long")


def _write_batch(d: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(d, f"{name}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, in_dir: str, ckpt: str, out_dir: str,
                ttl: int | None = None):
    """availableNow run into a parquet sink (supports checkpoint recovery;
    output accumulates across restarts)."""
    from geomesa_spark.streaming.upsert import upsert_stream
    src = (spark.readStream.schema(SCHEMA).json(in_dir))
    out = upsert_stream(src, ttl_seconds=ttl)
    q = (out.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.schema(
        "key string, op string, ts timestamp, lon double, lat double, "
        "payload string").parquet(out_dir)


class TestUpsertStream:
    def test_last_write_wins_and_delete(self, spark, tmp_path):
        d, ck, o = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
        os.makedirs(d)
        _write_batch(d, "b1", [
            {"key": "a", "op": "put", "ts": "2024-01-01T00:00:01",
             "lon": 1.0, "lat": 2.0, "payload": "a1", "seq": 1},
            {"key": "a", "op": "put", "ts": "2024-01-01T00:00:05",
             "lon": 3.0, "lat": 4.0, "payload": "a2", "seq": 2},
            {"key": "b", "op": "put", "ts": "2024-01-01T00:00:02",
             "lon": 5.0, "lat": 6.0, "payload": "b1", "seq": 3},
            {"key": "c", "op": "put", "ts": "2024-01-01T00:00:03",
             "lon": 7.0, "lat": 8.0, "payload": "c1", "seq": 4},
            {"key": "c", "op": "delete", "ts": "2024-01-01T00:00:04",
             "lon": None, "lat": None, "payload": None, "seq": 5},
        ])
        res = _run_stream(spark, d, ck, o)
        rows = {(r["key"], r["op"]): r for r in res.collect()}
        assert rows[("a", "upsert")]["payload"] == "a2"  # last write won
        assert rows[("b", "upsert")]["payload"] == "b1"
        assert ("c", "delete") in rows  # tombstone emitted
        assert ("c", "upsert") not in rows

    def test_checkpoint_restart_carries_state(self, spark, tmp_path):
        d, ck, o = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
        os.makedirs(d)
        _write_batch(d, "b1", [
            {"key": "x", "op": "put", "ts": "2024-01-01T00:00:01",
             "lon": 1.0, "lat": 1.0, "payload": "v1", "seq": 1}])
        r1 = _run_stream(spark, d, ck, o)
        assert r1.count() == 1
        # second run from the same checkpoint: an OLDER update must lose
        # against the checkpointed state; a newer one wins
        _write_batch(d, "b2", [
            {"key": "x", "op": "put", "ts": "2024-01-01T00:00:00",
             "lon": 9.0, "lat": 9.0, "payload": "stale", "seq": 2},
            {"key": "y", "op": "put", "ts": "2024-01-01T00:00:02",
             "lon": 2.0, "lat": 2.0, "payload": "v2", "seq": 3}])
        r2 = _run_stream(spark, d, ck, o)
        got = {(r["key"], r["payload"]) for r in r2.collect()}
        assert ("y", "v2") in got
        assert ("x", "stale") not in got  # stale arrival suppressed

    def test_ttl_expiry(self, spark, tmp_path):
        d, ck, o = str(tmp_path / "in"), str(tmp_path / "ck"), str(tmp_path / "out")
        os.makedirs(d)
        _write_batch(d, "b1", [
            {"key": "old", "op": "put", "ts": "2024-01-01T00:00:00",
             "lon": 1.0, "lat": 1.0, "payload": "old", "seq": 1}])
        _run_stream(spark, d, ck, o, ttl=60)
        # a much-later event advances the watermark past old's ttl
        _write_batch(d, "b2", [
            {"key": "new", "op": "put", "ts": "2024-01-01T01:00:00",
             "lon": 2.0, "lat": 2.0, "payload": "new", "seq": 2}])
        _run_stream(spark, d, ck, o, ttl=60)
        # third batch triggers timeout processing for expired keys
        _write_batch(d, "b3", [
            {"key": "new", "op": "put", "ts": "2024-01-01T01:00:01",
             "lon": 2.0, "lat": 2.0, "payload": "new2", "seq": 3}])
        r3 = _run_stream(spark, d, ck, o, ttl=60)
        ops = {(r["key"], r["op"]) for r in r3.collect()}
        assert ("old", "expire") in ops


class TestBatchCompaction:
    def test_latest_by_key(self, spark):
        from geomesa_spark.streaming.upsert import latest_by_key
        df = spark.createDataFrame([
            ("a", "put", "2024-01-01 00:00:01", 1.0, 1.0, "a1", 1),
            ("a", "put", "2024-01-01 00:00:02", 2.0, 2.0, "a2", 2),
            ("b", "put", "2024-01-01 00:00:01", 3.0, 3.0, "b1", 3),
            ("b", "delete", "2024-01-01 00:00:09", None, None, None, 4),
            ("c", "put", "2024-01-01 00:00:01", 4.0, 4.0, "c-old", 5),
            ("c", "put", "2024-01-01 00:00:01", 5.0, 5.0, "c-new", 6),
        ], SCHEMA.replace("ts timestamp", "ts string")) \
            .withColumn("ts", F.to_timestamp("ts"))
        got = {r["key"]: r["payload"]
               for r in latest_by_key(df, seq="seq").collect()}
        assert got == {"a": "a2", "c": "c-new"}  # b deleted; seq tiebreak


class TestClearOp:
    def test_clear_wipes_older_state(self, spark):
        from geomesa_spark.streaming.upsert import latest_by_key
        df = spark.createDataFrame([
            ("a", "put", "2024-01-01 00:00:01", 1.0, 1.0, "old-a", 1),
            ("b", "put", "2024-01-01 00:00:02", 2.0, 2.0, "old-b", 2),
            (None, "clear", "2024-01-01 00:00:05", None, None, None, 3),
            ("a", "put", "2024-01-01 00:00:06", 3.0, 3.0, "new-a", 4),
        ], SCHEMA.replace("ts timestamp", "ts string")) \
            .withColumn("ts", F.to_timestamp("ts"))
        got = {r["key"]: r["payload"]
               for r in latest_by_key(df, seq="seq").collect()}
        assert got == {"a": "new-a"}  # b wiped by clear; old-a superseded


class TestLiveSnapshot:
    def test_spatial_query_on_live_cache(self, spark):
        """live_snapshot = BucketIndex parity: latest state per key,
        tombstones drop out, bbox queries prune by cell then refine."""
        import datetime as dt
        from geomesa_spark.streaming.upsert import live_snapshot
        t = dt.datetime(2024, 1, 1)

        def row(key, op, secs, lon, lat):
            return (key, op, t + dt.timedelta(seconds=secs), lon, lat,
                    f"p-{key}")
        changelog = spark.createDataFrame(
            [row("a", "upsert", 1, 10.0, 10.0),
             row("a", "upsert", 5, 50.0, 50.0),   # a moved out of bbox
             row("b", "upsert", 2, 11.0, 11.0),
             row("b", "delete", 6, None, None),   # b tombstoned
             row("c", "upsert", 3, 12.0, 12.0),
             row("d", "upsert", 4, -100.0, 0.0),  # outside bbox
             row("e", "upsert", 7, 13.0, 13.0),
             row("e", "expire", 9, 13.0, 13.0)],  # e expired
            "key string, op string, ts timestamp, lon double, "
            "lat double, payload string")
        live = {r["key"]: (r["lon"], r["lat"])
                for r in live_snapshot(changelog).collect()}
        assert live == {"a": (50.0, 50.0), "c": (12.0, 12.0),
                        "d": (-100.0, 0.0)}
        hits = {r["key"] for r in live_snapshot(
            changelog, bbox=(5.0, 5.0, 20.0, 20.0)).collect()}
        assert hits == {"c"}

    def test_replay_from_time_offset(self, spark, tmp_path):
        """replay_stream(start_ts): rebuilding the cache from a later
        offset ignores events before the offset (startingOffsets
        semantics over the file-source stand-in)."""
        import datetime as dt
        from geomesa_spark.streaming.upsert import (live_snapshot,
                                                    replay_stream,
                                                    upsert_stream)
        schema = ("key string, op string, ts timestamp, lon double, "
                  "lat double, payload string")
        t = dt.datetime(2024, 1, 1)
        src = str(tmp_path / "log")
        spark.createDataFrame(
            [("a", "put", t, 1.0, 1.0, "old"),
             ("a", "put", t + dt.timedelta(seconds=10), 2.0, 2.0, "new"),
             ("b", "put", t + dt.timedelta(seconds=1), 3.0, 3.0, "early")],
            schema).write.parquet(src)
        out_dir = str(tmp_path / "out")
        q = (upsert_stream(replay_stream(
                spark, src, schema=schema,
                start_ts="2024-01-01 00:00:05",
                max_files_per_trigger=1))
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        changelog = spark.read.schema(
            "key string, op string, ts timestamp, lon double, "
            "lat double, payload string").parquet(out_dir)
        live = {r["key"]: r["payload"]
                for r in live_snapshot(changelog).collect()}
        assert live == {"a": "new"}  # pre-offset events replay-skipped


class TestUpsertCrossBatchSameTs:
    def test_later_batch_same_ts_wins_without_seq(self, spark, tmp_path):
        """Events without a seq column: the synthetic per-batch index
        must not be compared against a PREVIOUS batch's stored index —
        a same-timestamp update arriving in a later micro-batch is the
        last write and must win."""
        import json
        import os
        from geomesa_spark.streaming.upsert import upsert_stream

        schema = ("key string, op string, ts timestamp, lon double, "
                  "lat double, payload string")
        d = str(tmp_path / "in"); ck = str(tmp_path / "ck")
        o = str(tmp_path / "out")
        os.makedirs(d)

        def run():
            src = spark.readStream.schema(schema).json(d)
            q = (upsert_stream(src).writeStream.format("parquet")
                 .option("path", o).option("checkpointLocation", ck)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(120)
            return spark.read.schema(schema).parquet(o)

        ts = "2024-01-01T00:00:05"
        with open(os.path.join(d, "b1.json"), "w") as f:
            f.write(json.dumps({"key": "k", "op": "put", "ts": ts,
                                "lon": 1.0, "lat": 1.0,
                                "payload": "first"}) + "\n")
            f.write(json.dumps({"key": "k", "op": "put", "ts": ts,
                                "lon": 1.0, "lat": 1.0,
                                "payload": "second"}) + "\n")
        run()
        with open(os.path.join(d, "b2.json"), "w") as f:
            f.write(json.dumps({"key": "k", "op": "put", "ts": ts,
                                "lon": 2.0, "lat": 2.0,
                                "payload": "third"}) + "\n")
        out = run()
        payloads = [r.payload for r in
                    out.where(F.col("op") == "upsert")
                       .orderBy("payload").collect()]
        # batch 1 emitted 'second' (intra-batch LWW); batch 2's same-ts
        # arrival is later and must emit 'third', not be dropped as stale
        assert payloads == ["second", "third"]
