"""Z3 curve property tests (pattern of geomesa-z3 Z3Test) + proximity /
tube-select vs brute-force oracles."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.cells.z3 import (WEEK_SECONDS, Z3_RES, binned_time,
                                    epoch_week_expr, z3_cell, z3_decode,
                                    z3_expr)

EARTH_R = 6371008.7714


def _hav(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dphi = p2 - p1
    dlmb = math.radians(lon2 - lon1)
    a = (math.sin(dphi / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(dlmb / 2) ** 2)
    return 2 * EARTH_R * math.asin(min(1.0, math.sqrt(a)))


class TestZ3Kernel:
    def test_roundtrip_bins(self):
        rng = np.random.default_rng(5)
        lon = rng.uniform(-180, 180, 5000)
        lat = rng.uniform(-90, 90, 5000)
        ts = rng.integers(0, 2_000_000_000, 5000) * 1_000_000
        epoch, z = z3_cell(lon, lat, ts)
        xb, yb, tb = z3_decode(z)
        n = 1 << Z3_RES
        assert (z >= 0).all()
        # decoded bins match direct binning
        want_x = np.clip(np.floor((lon + 180) / 360 * n), 0, n - 1)
        want_y = np.clip(np.floor((lat + 90) / 180 * n), 0, n - 1)
        assert np.array_equal(xb, want_x.astype(np.int64))
        assert np.array_equal(yb, want_y.astype(np.int64))
        _, offset = binned_time(ts)
        want_t = np.clip(np.floor(offset / WEEK_SECONDS * n), 0, n - 1)
        assert np.array_equal(tb, want_t.astype(np.int64))

    def test_time_binning(self):
        # 1970-01-01 is a Thursday; epoch week 0 covers the first 7 days
        epoch, off = binned_time(np.array([0, (WEEK_SECONDS - 1) * 10**6,
                                           WEEK_SECONDS * 10**6]))
        assert list(epoch) == [0, 0, 1]
        assert list(off) == [0, WEEK_SECONDS - 1, 0]

    def test_native_expr_matches_numpy(self, spark):
        rng = np.random.default_rng(6)
        rows = [(float(a), float(b), int(t))
                for a, b, t in zip(rng.uniform(-180, 180, 500),
                                   rng.uniform(-90, 90, 500),
                                   rng.integers(0, 2_000_000_000, 500))]
        df = spark.createDataFrame(rows, "lon double, lat double, sec long") \
            .withColumn("ts", F.timestamp_seconds("sec"))
        got = df.select(z3_expr("lon", "lat", "ts").alias("k")).collect()
        lon = np.array([r[0] for r in rows])
        lat = np.array([r[1] for r in rows])
        ts_us = np.array([r[2] for r in rows], dtype=np.int64) * 1_000_000
        epoch, z = z3_cell(lon, lat, ts_us)
        for g, e, zz in zip(got, epoch, z):
            assert g["k"]["epoch"] == e and g["k"]["z3"] == zz

    def test_epoch_week_expr(self, spark):
        df = spark.createDataFrame([(0,), (WEEK_SECONDS,), (WEEK_SECONDS * 52,)],
                                   "sec long") \
            .withColumn("ts", F.timestamp_seconds("sec"))
        got = [r[0] for r in df.select(epoch_week_expr("ts")).collect()]
        assert got == [0, 1, 52]


@pytest.fixture(scope="module")
def events_pts(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    return ev.select(
        "event_id", "ts",
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    ).cache()


class TestProximity:
    QUERIES = [("q0", 12.3, 45.6), ("q1", -122.4, 37.8), ("q2", 179.9, 0.0)]
    RADIUS = 800_000.0

    def test_matches_bruteforce(self, spark, events_pts):
        from geomesa_spark.operators.proximity import proximity_join
        got = {(r["query_id"], r["event_id"])
               for r in proximity_join(events_pts, self.QUERIES,
                                       self.RADIUS).collect()}
        rows = events_pts.collect()
        want = {(qid, r["event_id"]) for (qid, qlon, qlat) in self.QUERIES
                for r in rows
                if _hav(r["lon"], r["lat"], qlon, qlat) <= self.RADIUS}
        assert got == want and len(want) > 0

    def test_distances_exact(self, spark, events_pts):
        from geomesa_spark.operators.proximity import proximity_join
        out = proximity_join(events_pts, self.QUERIES, self.RADIUS)
        for r in out.limit(20).collect():
            qlon, qlat = next((a, b) for (q, a, b) in self.QUERIES
                              if q == r["query_id"])
            assert r["dist_m"] == pytest.approx(
                _hav(r["lon"], r["lat"], qlon, qlat), rel=1e-9)


class TestTubeSelect:
    def test_matches_bruteforce(self, spark, events_pts):
        from geomesa_spark.operators.proximity import tube_select
        rows = events_pts.collect()
        # track through three event positions at their own times ->
        # guaranteed matches
        picks = [rows[3], rows[100], rows[500]]
        track = [(str(r["ts"]), r["lon"] + 0.5, r["lat"] - 0.3)
                 for r in picks]
        radius, dt = 500_000.0, 3600.0
        got = {r["event_id"] for r in
               tube_select(events_pts, track, radius_m=radius,
                           dt_seconds=dt).collect()}
        want = set()
        for r in rows:
            for (t, qlon, qlat) in track:
                import datetime as _dt
                qts = _dt.datetime.fromisoformat(t)
                delta = abs((r["ts"] - qts).total_seconds())
                if delta <= dt and _hav(r["lon"], r["lat"], qlon,
                                        qlat) <= radius:
                    want.add(r["event_id"])
        assert got == want and len(want) > 0


class TestZ3BadRowSentinel:
    TS = np.int64(1_700_000_000_000_000)

    def test_numpy_kernel_sentinels_bad_rows(self):
        lon = [float("nan"), 200.0, 10.0]
        lat = [10.0, 10.0, float("nan")]
        epoch, z = z3_cell(lon, lat, [self.TS] * 3)
        assert z.tolist()[:2] == [-1, -1] and z[2] == -1
        lon = [float("nan"), 200.0, 10.0]
        lat = [10.0, 10.0, 10.0]
        epoch, z = z3_cell(lon, lat, [self.TS] * 3)
        assert z.tolist()[0] == -1 and z.tolist()[1] == -1
        assert epoch.tolist()[0] == -1 and epoch.tolist()[1] == -1
        assert z[2] >= 0 and epoch[2] >= 0

    def test_native_expr_matches_kernel(self, spark):
        import pyspark.sql.functions as F
        rows = [(float("nan"), 10.0), (200.0, 10.0), (None, 10.0),
                (10.0, 95.0), (10.0, 10.0)]
        df = spark.createDataFrame(rows, "lon double, lat double") \
            .withColumn("ts", F.timestamp_micros(F.lit(int(self.TS))))
        out = df.select(z3_expr("lon", "lat", "ts").alias("s")) \
                .select("s.epoch", "s.z3").collect()
        got = [(r.epoch, r.z3) for r in out]
        assert got[:4] == [(-1, -1)] * 4
        ke, kz = z3_cell([10.0], [10.0], [self.TS])
        assert got[4] == (int(ke[0]), int(kz[0]))
