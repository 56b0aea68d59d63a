"""Proximity search (within-distance join) and tube select
(spatio-temporal corridor search).

Reference semantics:
- ProximitySearchProcess: features within a buffer distance (meters) of
  any input feature (/root/reference/geomesa-process/geomesa-process-
  vector/src/main/scala/org/locationtech/geomesa/process/query/
  ProximitySearchProcess.scala:29).
- TubeSelectProcess: features inside a distance tube around a track,
  correlated in BOTH space and time (/root/reference/geomesa-process/
  geomesa-process-vector/src/main/scala/org/locationtech/geomesa/process/
  tube/TubeSelectProcess.scala:37-133, TubeBuilder.scala).

Spark shape: query geometries expand to cell windows (cover may
over-select, never under-select), candidates come from an equi-join on
the cell id (broadcast for small query sets), and the exact geodesic
distance (+ time delta for tubes) refines — the same cover -> prune ->
refine contract as the rest of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from geomesa_spark.cells import PARTITION_RES
from geomesa_spark.cells.native import cell_expr
from geomesa_spark.geo.measures import haversine_expr
# _window_cells is the ONE radius-window cover implementation
# (poleward-cos over-cover, antimeridian wrap via bbox_cover's split —
# Envelope.toWorld semantics, KNearestNeighborSearchProcess.scala:524-544);
# a second local copy here once diverged from it, so share it instead
from geomesa_spark.operators.knn import (QUERY_CELLS, _METRIC_DIST,
                                         _METRIC_WINDOW_SLACK, _window_cells)
from geomesa_spark.plans.planner import local_frame


def proximity_join(points: DataFrame,
                   queries: list[tuple[str, float, float]],
                   radius_m: float, *, lon: str = "lon", lat: str = "lat",
                   res: int = PARTITION_RES,
                   metric: str = "haversine") -> DataFrame:
    """Rows of ``points`` within ``radius_m`` meters of each query point
    under ``metric`` ("haversine" sphere, default, or "spheroid" WGS84
    Vincenty — the reference's ellipsoidal GeodeticCalculator meters).
    Output: (query_id, <point columns>, dist_m), deduped per (query,
    point). Spheroid windows inflate by the documented slack before the
    cell cover so the candidate set still provably over-selects."""
    if metric not in _METRIC_DIST:
        raise ValueError(f"unknown metric {metric!r}; "
                         f"use one of {sorted(_METRIC_DIST)}")
    w = radius_m * _METRIC_WINDOW_SLACK[metric]
    cand = local_frame(points.sparkSession, [
        (qid, qlon, qlat, c) for (qid, qlon, qlat) in queries
        for c in _window_cells(qlon, qlat, w, res)], QUERY_CELLS)
    pts = points.withColumn("__cell__", cell_expr(lon, lat, res))
    joined = pts.join(F.broadcast(cand), "__cell__").drop("__cell__")
    dist = _METRIC_DIST[metric](lon, lat, "qlon", "qlat")
    return (joined.withColumn("dist_m", dist)
            .where(F.col("dist_m") <= radius_m)
            .drop("qlon", "qlat"))


def tube_select(events: DataFrame,
                track: list[tuple[str, float, float]],
                *, radius_m: float, dt_seconds: float,
                lon: str = "lon", lat: str = "lat", ts: str = "ts",
                res: int = PARTITION_RES) -> DataFrame:
    """Events within ``radius_m`` meters AND ``dt_seconds`` of any track
    vertex (ts ISO string, lon, lat) — the tube as a sequence of
    space-time balls (TubeBuilder's buffered track points). Output: one
    row per matching event (deduped across overlapping vertices) with the
    nearest-vertex distance.
    """
    cand_rows = [(i, t, qlon, qlat, c)
                 for i, (t, qlon, qlat) in enumerate(track)
                 for c in _window_cells(qlon, qlat, radius_m, res)]
    cand = local_frame(events.sparkSession, cand_rows, StructType([
        StructField("vertex", IntegerType()), StructField("qts", StringType()),
        *QUERY_CELLS.fields[1:]])).withColumn("qts", F.to_timestamp("qts"))
    ev = events.withColumn("__cell__", cell_expr(lon, lat, res))
    joined = ev.join(F.broadcast(cand), "__cell__").drop("__cell__")
    dist = haversine_expr(lon, lat, "qlon", "qlat")
    # NTZ timestamps cannot cast straight to double; route via timestamp
    dt = F.abs(F.col(ts).cast("timestamp").cast("double")
               - F.col("qts").cast("timestamp").cast("double"))
    hits = (joined.withColumn("dist_m", dist)
            .where((F.col("dist_m") <= radius_m) & (dt <= dt_seconds)))
    keys = [c for c in events.columns]
    return (hits.groupBy(*keys)
            .agg(F.min("dist_m").alias("dist_m")))
