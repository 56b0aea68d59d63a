"""kNN + density oracles: brute-force comparison on seeded synthetic points
(the reference's process-level golden-test pattern,
KNearestNeighborSearchProcessTest / DensityProcessTest)."""

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.geo.measures import haversine_m
from geomesa_spark.operators.density import density
from geomesa_spark.operators.knn import knn_join

RNG = np.random.default_rng(42)
N = 2000
LON = RNG.uniform(-180, 180, N)
LAT = RNG.uniform(-90, 90, N)

# hand-placed queries incl. edge cases (FIXTURES.md §3)
QUERIES = [
    ("q-uniform", 12.3, 45.6),
    ("q-origin", 0.0, 0.0),
    ("q-antimeridian-e", 179.9, 10.0),
    ("q-antimeridian-w", -179.9, 10.0),
    ("q-near-pole", 20.0, 89.5),
    ("q-south", -60.0, -80.0),
]
K = 10


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(
        [(int(i), float(LON[i]), float(LAT[i])) for i in range(N)],
        "point_id int, lon double, lat double")


def brute_knn(qlon, qlat, k):
    d = haversine_m(LON, LAT, np.full(N, qlon), np.full(N, qlat))
    idx = np.argsort(d, kind="stable")[:k]
    return [(int(i), float(d[i])) for i in idx]


def test_knn_matches_brute_force(points):
    out = knn_join(points, QUERIES, K)
    rows = out.select("query_id", "rank", "point_id", "dist_m").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.point_id, r.dist_m))
    assert set(by_q) == {q[0] for q in QUERIES}
    for qid, qlon, qlat in QUERIES:
        got = sorted(by_q[qid])
        expected = brute_knn(qlon, qlat, K)
        assert len(got) == K, qid
        got_ids = [pid for _, pid, _ in got]
        exp_ids = [pid for pid, _ in expected]
        # identical distance ordering (ids may differ only on exact ties)
        got_d = np.array([d for _, _, d in got])
        exp_d = np.array([d for _, d in expected])
        np.testing.assert_allclose(got_d, exp_d, rtol=1e-9)
        assert got_ids == exp_ids, qid


def test_knn_spheroid_matches_brute_force_vincenty(points):
    """metric="spheroid": exact under WGS84 Vincenty meters (the
    reference's ellipsoidal GeodeticCalculator,
    KNearestNeighborSearchProcess.scala:312-393); the inflated window
    keeps the candidate cover conservative."""
    from geomesa_spark.geo.measures import vincenty_m
    out = knn_join(points, QUERIES, K, metric="spheroid")
    rows = out.select("query_id", "rank", "point_id", "dist_m").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.point_id, r.dist_m))
    assert set(by_q) == {q[0] for q in QUERIES}
    for qid, qlon, qlat in QUERIES:
        d = vincenty_m(LON, LAT, np.full(N, qlon), np.full(N, qlat))
        idx = np.argsort(d, kind="stable")[:K]
        got = sorted(by_q[qid])
        np.testing.assert_allclose(
            np.array([x for _, _, x in got]), d[idx], rtol=1e-9)
        assert [pid for _, pid, _ in got] == [int(i) for i in idx], qid


def test_proximity_spheroid_matches_brute_force(points):
    from geomesa_spark.geo.measures import vincenty_m
    from geomesa_spark.operators.proximity import proximity_join
    radius = 900_000.0
    out = proximity_join(points, QUERIES, radius, metric="spheroid")
    got = {(r.query_id, r.point_id) for r in
           out.select("query_id", "point_id").collect()}
    want = set()
    for qid, qlon, qlat in QUERIES:
        d = vincenty_m(LON, LAT, np.full(N, qlon), np.full(N, qlat))
        want |= {(qid, int(i)) for i in np.nonzero(d <= radius)[0]}
    assert got == want and want


def test_knn_k_larger_than_matches(spark):
    # a duplicated point makes an exact tie, ordered by the tiebreak
    lon = np.array([10.0, 10.1, 10.1, 10.2, -50.0, 120.0])
    lat = np.array([10.0, 10.1, 10.1, 10.2, 40.0, -60.0])
    few = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "point_id int, lon double, lat double")
    got, _ = _knn_jobs(spark, few, [("q", 10.0, 10.05)], 10, max_rounds=40)
    assert len(got["q"]) == len(lon)  # emits all available when < k exist
    _assert_twin(got["q"], lon, lat, 10.0, 10.05, 10)


def test_density_grid(points):
    env = (-180.0, -90.0, 180.0, 90.0)
    out = density(points, envelope=env, width=36, height=18).collect()
    total = sum(r.weight for r in out)
    assert total == N  # every point lands in exactly one pixel
    # oracle: numpy 2d histogram with matching binning
    cols = np.minimum(np.floor((LON + 180) / 10).astype(int), 35)
    rows = np.minimum(np.floor((LAT + 90) / 10).astype(int), 17)
    from collections import Counter
    exp = Counter(zip(cols.tolist(), rows.tolist()))
    got = {(r.col, r.row): r.weight for r in out}
    assert got == dict(exp)
    # pixel centers
    r0 = [r for r in out if (r.col, r.row) == (0, 0)][0]
    assert (r0.x, r0.y) == (-175.0, -85.0)


def test_density_weighted(points):
    env = (-180.0, -90.0, 180.0, 90.0)
    out = density(points.withColumn("wt", F.col("point_id") % 3),
                  envelope=env, width=4, height=2, weight="wt").collect()
    total = sum(r.weight for r in out)
    assert total == sum(i % 3 for i in range(N))


# --- twin checks with a tiebreak: duplicated coordinates make exact ties,
# so the (dist_m, point_id) order is fully determined

CLUSTER = 1.0  # every point of the dense set lies within 1 deg of (0, 0)


def _twin(lon, lat, qlon, qlat, k):
    d = haversine_m(lon, lat, np.full(len(lon), qlon), np.full(len(lat), qlat))
    idx = np.lexsort((np.arange(len(lon)), d))[:k]
    return [int(i) for i in idx], d[idx]


def _parquet_points(spark, path, lon, lat):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"point_id": np.arange(len(lon), dtype=np.int64),
                             "lon": lon, "lat": lat}), str(path))
    return spark.read.parquet(str(path))


def _knn_jobs(spark, points, queries, k, **kw):
    """knn_join's result rows by query and the Spark jobs its build ran."""
    sc = spark.sparkContext
    group = f"knn-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "knn build")
    try:
        out = knn_join(points, queries, k, tiebreak=["point_id"], **kw)
    finally:
        sc.setJobGroup("idle", "")
    # the status tracker is filled from the async listener bus: drain it
    # so every job-start event of the build has been delivered
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, []).append(r)
    return {q: sorted(rs, key=lambda r: r.rank) for q, rs in by_q.items()}, jobs


def _assert_twin(rows, lon, lat, qlon, qlat, k):
    ids, d = _twin(lon, lat, qlon, qlat, k)
    assert [r.rank for r in rows] == list(range(1, len(ids) + 1))
    assert [r.point_id for r in rows] == ids
    np.testing.assert_allclose([r.dist_m for r in rows], d, rtol=1e-9)


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """A dense cluster at (0, 0) plus a sparse world-wide scatter, every
    point stored twice: the global density estimate is far too high for
    queries away from the cluster. Returned as a flat parquet file and as
    a table partitioned by cell_prefix (the layout a round prunes)."""
    from geomesa_spark.cells.native import cell_expr
    rng = np.random.default_rng(7)
    lon = np.concatenate([rng.uniform(-CLUSTER, CLUSTER, 4500),
                          rng.uniform(-180, 180, 250)])
    lat = np.concatenate([rng.uniform(-CLUSTER, CLUSTER, 4500),
                          rng.uniform(-80, 80, 250)])
    lon, lat = np.repeat(lon, 2), np.repeat(lat, 2)
    path = tmp_path_factory.mktemp("knn")
    flat = _parquet_points(spark, path / "clustered.parquet", lon, lat)
    flat.withColumn("cell_prefix", cell_expr("lon", "lat")) \
        .write.partitionBy("cell_prefix").parquet(str(path / "cells"))
    return lon, lat, flat, spark.read.parquet(str(path / "cells"))


def test_knn_sparse_query_grows_over_rounds(spark, clustered):
    lon, lat, flat, cells = clustered
    q = ("sparse", 100.0, -30.0)
    got, jobs = _knn_jobs(spark, cells, [q], K)
    assert jobs >= 2  # one job per round: the first window came back short
    _assert_twin(got["sparse"], lon, lat, q[1], q[2], K)
    got, _ = _knn_jobs(spark, flat, [q], K)  # parallel broadcast rounds
    _assert_twin(got["sparse"], lon, lat, q[1], q[2], K)


def test_knn_single_round_build_is_one_job(spark, clustered):
    lon, lat, _, cells = clustered
    q = ("dense", 0.1, -0.2)
    got, jobs = _knn_jobs(spark, cells, [q], K)
    assert jobs == 1
    _assert_twin(got["dense"], lon, lat, q[1], q[2], K)


class TestKnnExhaustionEmits:
    def test_fewer_points_than_k_still_answered(self, spark):
        """3 points total, k=5: the query must come back with all 3
        confirmed neighbors instead of vanishing from the output."""
        from geomesa_spark.operators.knn import knn_join
        pts = spark.createDataFrame(
            [(1, 0.1, 0.1), (2, -0.2, 0.3), (3, 0.4, -0.1)],
            "id long, lon double, lat double")
        out = knn_join(pts, [("q", 0.0, 0.0)], k=5,
                       estimated_count=3, max_rounds=4).collect()
        assert sorted(r.id for r in out) == [1, 2, 3]
        assert sorted(r.rank for r in out) == [1, 2, 3]

    def test_tight_max_rounds_flush(self, spark):
        """max_rounds=1 can't reach max_radius; the loop-exit flush must
        still emit the confirmed neighbors found in the only round."""
        from geomesa_spark.operators.knn import knn_join
        pts = spark.createDataFrame(
            [(1, 0.01, 0.01), (2, 0.02, 0.0)],
            "id long, lon double, lat double")
        out = knn_join(pts, [("q", 0.0, 0.0)], k=5, estimated_count=2,
                       initial_radius_m=50000.0, max_rounds=1).collect()
        assert sorted(r.id for r in out) == [1, 2]
