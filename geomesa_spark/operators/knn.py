"""k-nearest-neighbors via expanding cell-window search.

Re-expresses the reference's kNN process (/root/reference/geomesa-process/
geomesa-process-vector/src/main/scala/org/locationtech/geomesa/process/query/
KNearestNeighborSearchProcess.scala): per query point an expanding search
window — initial radius from the Liu/Lim/Ng density estimate
``sqrt(k / (pi * density))`` (:278-300), grown while a round comes back
short — with exact geodesic meters and a per-query top-k.

Spark shape: each round is ONE native Spark query that ranks each
query's new ring cells (``_ring_top_k``) — one job on a table partitioned
by ``cell_prefix``, a parallel broadcast scan on any other; the caller's
Python process merges each query's top k across rounds — the top k of a
union is the top k of its parts' top k — and a query finishes when >= k
of them lie within its window w. Every point within w of the query lies
in its scanned cells (conservative deg-per-meter bounds), so the answer
is exact. The merged state is O(|queries| * k): the reference's
client-side KnnWindow.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from geomesa_spark.cells import PARTITION_RES, bbox_cover
from geomesa_spark.cells.native import cell_expr
from geomesa_spark.geo.measures import EARTH_MEAN_RADIUS_M, haversine_expr
from geomesa_spark.plans.planner import int_predicate, local_frame

_log = logging.getLogger(__name__)

_M_PER_DEG = math.pi / 180.0 * EARTH_MEAN_RADIUS_M  # ~111194.93


@F.pandas_udf(DoubleType())
def udf_spheroid(lon1: pd.Series, lat1: pd.Series,
                 lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    from geomesa_spark.geo.measures import vincenty_m
    return pd.Series(vincenty_m(lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
                                lon2.to_numpy(np.float64), lat2.to_numpy(np.float64)))


# Distance per metric, a function of the (lon1, lat1, lon2, lat2) column
# names: the sphere is native Catalyst; Vincenty is iterative, so it stays
# a pandas UDF. WGS84 exact-geodesic option (GeodeticCalculator semantics —
# the reference kNN measures ellipsoidal meters,
# KNearestNeighborSearchProcess.scala:312-393). Window bounds stay
# conservative under the spheroid: a path of w spheroid-meters spans at
# most w / (min meridional curvature radius b^2/a = 6335.4 km) degrees of
# latitude — up to R_mean/(b^2/a) ~= 1.0056x the sphere estimate — so
# spheroid windows inflate by this slack before the cell cover (the
# longitude bound already over-covers: it divides by R_mean < min nu).
_METRIC_DIST = {"haversine": haversine_expr, "spheroid": udf_spheroid}
_METRIC_WINDOW_SLACK = {"haversine": 1.0, "spheroid": 1.006}

QUERY_CELLS = StructType([StructField("query_id", StringType()),
                          StructField("qlon", DoubleType()),
                          StructField("qlat", DoubleType()),
                          StructField("__cell__", LongType())])


def _window_cells(qlon: float, qlat: float, w_m: float, res: int) -> list[int]:
    dlat = w_m / _M_PER_DEG
    phi_m = min(89.999, abs(qlat) + dlat)
    dlon = min(180.0, w_m / (_M_PER_DEG * math.cos(math.radians(phi_m))))
    y0 = max(-90.0, qlat - dlat)
    y1 = min(90.0, qlat + dlat)
    x0 = qlon - dlon
    x1 = qlon + dlon
    if x1 - x0 >= 360.0:
        x0, x1 = -180.0, 180.0
    else:  # wrap across the antimeridian (bbox_cover splits on x0 > x1)
        if x0 < -180.0:
            x0 += 360.0
        if x1 > 180.0:
            x1 -= 360.0
    return [int(c) for c in bbox_cover(x0, y0, x1, y1, res=res, max_cells=1 << 22)]


def _estimate_rows(df: DataFrame, files: list[str]) -> int:
    """Cheap row-count estimate: sum the parquet footer counts of ``files``
    (``df.inputFiles()``; driver-side metadata reads, sampled at 64 files).
    Frames without local parquet files, or with unreadable footers, fall
    back to a logged ``df.count()``."""
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse
    paths = [unquote(u.path) for u in map(urlparse, files)
             if u.path.endswith(".parquet") and u.scheme in ("", "file")]
    reason = "no local parquet files"
    try:
        if paths:
            n = sum(pq.ParquetFile(p).metadata.num_rows for p in paths[:64])
            return max(1, int(n * len(paths) / len(paths[:64])))
    except (OSError, pa.ArrowException) as e:
        reason = f"parquet footer read failed ({e})"
    _log.warning("kNN density estimate: %s; counting rows with a full scan",
                 reason)
    return df.count()


def knn_join(points: DataFrame, queries: list[tuple[str, float, float]],
             k: int, *,
             lon: str = "lon", lat: str = "lat",
             res: int = PARTITION_RES,
             estimated_count: int | None = None,
             tiebreak: list[str] | None = None,
             initial_radius_m: float | None = None,
             max_radius_m: float = 2.1e7,
             max_rounds: int = 12,
             metric: str = "haversine") -> DataFrame:
    """Exact k nearest points for each (query_id, lon, lat) query.

    Returns a DataFrame (query_id, rank, dist_m, <point columns>). The
    result is exact under the chosen ``metric`` — ``"haversine"``
    (sphere, default) or ``"spheroid"`` (WGS84 Vincenty, the reference's
    ellipsoidal GeodeticCalculator meters) — ties broken by ``tiebreak``.

    Each round scans ONLY the cover cells not yet scanned for a query
    (the reference's "hole" exclusion on window expansion,
    KNearestNeighborSearchProcess.scala:222-301), as one native Spark
    query that returns each query's top k among them; Python keeps each
    query's top k so far, sorted by ``(dist_m, *tiebreak)``. A query whose window
    reaches ``max_radius_m`` with fewer than k points in range is
    answered with what exists; queries still open after ``max_rounds``
    are answered with the neighbors confirmed within their last window.
    The result is a local frame built from Arrow (<= |queries| * k rows).
    """
    if metric not in _METRIC_DIST:
        raise ValueError(f"unknown metric {metric!r}; "
                         f"use one of {sorted(_METRIC_DIST)}")
    slack = _METRIC_WINDOW_SLACK[metric]
    spark = points.sparkSession
    files = points.inputFiles()
    if initial_radius_m is None:
        n = estimated_count if estimated_count is not None \
            else _estimate_rows(points, files)
        world_area_deg2 = 360.0 * 180.0
        density = max(n, 1) / world_area_deg2  # points per deg^2
        r_deg = math.sqrt(k / (math.pi * density))  # Liu/Lim/Ng estimate
        # 2x overshoot: expected candidates/query grow 4x (still ~4k rows,
        # trivial) while queries in locally sparse areas finish in one
        # round instead of paying a whole extra scan round
        initial_radius_m = max(1000.0, 2.0 * r_deg * _M_PER_DEG)

    fields = points.schema.fields
    names = [f.name for f in fields]
    cell_col = "cell_prefix" if "cell_prefix" in names else "__pc__"
    pts = points if cell_col in names \
        else points.withColumn(cell_col, cell_expr(lon, lat, res))
    pruned = any(f"/{cell_col}=" in f for f in files)
    # rows are (query_id, rank, dist_m, *point columns), the result's
    # shape; this key sorts them like the ranking window, nulls first
    key_at = [2] + [3 + names.index(c) for c in (tiebreak or [])]

    def key(row):
        return tuple((row[i] is not None, row[i]) for i in key_at)

    live = {qid: initial_radius_m for (qid, _, _) in queries}
    qpos = {qid: (qlon, qlat) for (qid, qlon, qlat) in queries}
    scanned: dict[str, set[int]] = {qid: set() for qid in live}
    best: dict[str, list] = {qid: [] for qid in live}  # top k, no w cut
    out: list[tuple] = []

    def answer(qid: str, w: float) -> None:
        out.extend((qid, i + 1, *r[2:]) for i, r in
                   enumerate(r for r in best[qid] if r[2] <= w))

    counts: dict[str, int] = {}
    for round_i in range(max_rounds):
        if not live:
            break
        for qid in live if round_i else ():  # grow before rounds 2..n
            # reference growth policy (KnnWindow): jump on an empty window,
            # otherwise re-estimate from the OBSERVED local density —
            # w*sqrt(k/m) reaches k at uniform density; the 1.4 safety
            # factor keeps expected rounds ~1 after the first. Growth must
            # also reach max_radius_m with one scan round to spare, or the
            # exhausted check below could never fire and a query that
            # keeps finding k-1 neighbors would go UNANSWERED.
            m, w = counts[qid], live[qid]
            grow = 4.0 if m == 0 else max(1.6, math.sqrt(k / m) * 1.4)
            steps_left = max(1, max_rounds - round_i)
            grow = max(grow, (max_radius_m / w) ** (1.0 / steps_left))
            live[qid] = min(max_radius_m, w * grow)
        ring = []
        for qid, w in live.items():
            qlon, qlat = qpos[qid]
            cells = [c for c in _window_cells(qlon, qlat, w * slack, res)
                     if c not in scanned[qid]]
            scanned[qid].update(cells)
            ring += [(qid, qlon, qlat, c) for c in cells]
        if ring:  # a window that covers no new cell reuses its top k
            top = _ring_top_k(pts, ring, k, names, cell_col, pruned,
                              lon=lon, lat=lat, metric=metric,
                              tiebreak=tiebreak).collect()
            for r in top:
                best[r[0]].append(tuple(r))
            for qid in {r[0] for r in top}:
                best[qid] = sorted(best[qid], key=key)[:k]
        counts = {qid: sum(r[2] <= w for r in best[qid])
                  for qid, w in live.items()}
        # finished: k confirmed neighbors; exhausted: the window reached
        # max radius with < k in range, so fewer than k points exist
        for qid in [q for q, w in live.items()
                    if counts[q] >= k or w >= max_radius_m]:
            answer(qid, live.pop(qid))
    # max_rounds too small for the forced growth: every candidate within
    # a query's last window is a true nearest neighbor, so emit those
    # rather than silently omitting the query
    for qid, w in live.items():
        answer(qid, w)

    return local_frame(spark, out, StructType([
        StructField("query_id", StringType()),
        StructField("rank", IntegerType()),
        StructField("dist_m", DoubleType()), *fields]))


def _ring_top_k(pts: DataFrame, ring: list[tuple], k: int,
                names: list[str], cell_col: str, pruned: bool, *, lon: str,
                lat: str, metric: str,
                tiebreak: list[str] | None) -> DataFrame:
    """One round: (query_id, rank, dist_m, *names) for each query's k
    nearest points among its ring cells, ``ring`` being (query_id, qlon,
    qlat, cell) rows. ``pruned`` (``cell_col`` is a partition column): an
    IN list prunes the scan to a few files and one task joins and ranks,
    one job with no exchange. Otherwise every round scans the whole table,
    in parallel against the broadcast ring cells (an IN list on a computed
    cell adds nothing to the join and measured ~10x slower at 1M rows)."""
    qdf = local_frame(pts.sparkSession, ring, QUERY_CELLS)
    if pruned:
        side = pts.where(int_predicate(
            cell_col, sorted({r[3] for r in ring}))).coalesce(1)
        qdf = qdf.coalesce(1).hint("shuffle_hash")
    else:
        side, qdf = pts, F.broadcast(qdf)
    dist = _METRIC_DIST[metric](lon, lat, "qlon", "qlat")
    rank = F.row_number().over(Window.partitionBy("query_id").orderBy(
        dist, *[F.col(c) for c in (tiebreak or [])]))
    return (side.join(qdf, side[cell_col] == qdf["__cell__"])
            .select("query_id", rank.alias("rank"), dist.alias("dist_m"),
                    *names)
            .where(F.col("rank") <= k))
