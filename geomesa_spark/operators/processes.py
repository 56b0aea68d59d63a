"""Small analytic/transform processes, as DataFrame programs.

Reference semantics re-derived (cited, not copied):
- Point2Point: group points into per-track consecutive segments sorted
  by a date field, optional day-boundary breaking, minimum group size,
  zero-length filtering (/root/reference/geomesa-process/
  geomesa-process-vector/src/main/scala/org/locationtech/geomesa/
  process/analytic/Point2PointProcess.scala:73-108).
- TrackLabel: one representative feature per track — the latest by the
  date field (TrackLabelProcess.scala:54-61; the reference's maxBy is
  tie-unstable, here ties break deterministically by ``tiebreak``).
- DateOffset: shift a date attribute by an ISO-8601 duration
  (DateOffsetProcess.scala:40-52).
- HashAttribute: deterministic hash bucket of an attribute modulo N
  (HashAttributeProcess.scala:48-58). The reference hashes with scala
  MurmurHash3 over UTF-16LE bytes; the hash function is engine-pinned
  (not part of the portable contract), so this build uses the same
  char-fold polynomial hash as the text fingerprints — bit-exactly
  replicable in the SQL oracle, same bucketing contract.
- RouteSearch: features within a buffer of a route AND heading along it
  (/root/reference/geomesa-process/geomesa-process-vector/src/main/
  scala/org/locationtech/geomesa/process/query/RouteSearchProcess.scala:
  244-258 — dwithin prefilter, closest route segment via DistanceOp,
  segment azimuth vs feature heading with compass correction and the
  optional bidirectional +-180 match). The reference's GeodeticCalculator
  azimuth is replaced by the spherical initial bearing (pure trig —
  replicable in the SQL oracle); closest segment uses the same planar
  coordinate distance as JTS DistanceOp.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                               StructType)

from geomesa_spark.geo.measures import haversine_expr
from geomesa_spark.plans.planner import local_frame

ROUTE_SEGMENTS = StructType(
    [StructField(c, IntegerType()) for c in ("route_id", "seg")]
    + [StructField(c, DoubleType()) for c in (
        "x1", "y1", "x2", "y2", "bminx", "bmaxx", "bminy", "bmaxy")])


def point2point(df: DataFrame, *, group: str, sort: str,
                lon: str = "lon", lat: str = "lat",
                min_points: int = 2, break_on_day: bool = False,
                filter_singular: bool = True,
                tiebreak: list[str] | None = None) -> DataFrame:
    """Aggregate points into per-track consecutive line segments.

    Output: one row per consecutive point pair within a group (ordered
    by ``sort`` then ``tiebreak``): the group value, a per-group segment
    index, segment endpoints (x1, y1, x2, y2), the sort values at both
    ends (``<sort>_start`` / ``<sort>_end``) and the orthodromic length
    ``dist_m``. Groups need MORE than ``min_points`` rows (the
    reference's strict comparison); with ``break_on_day`` segments never
    cross a UTC day boundary and day-groups need >= 2 points; with
    ``filter_singular`` zero-length segments are dropped.

    Everything is windows + built-ins over one shuffle on the group key
    — no collect, scales with the number of tracks."""
    tb = [F.col(c) for c in (tiebreak or [])]
    part = [group, F.dayofyear(F.col(sort)), F.year(F.col(sort))] \
        if break_on_day else [group]
    w = Window.partitionBy(*part).orderBy(F.col(sort), *tb)
    wg = Window.partitionBy(group)
    wp = Window.partitionBy(*part)
    d = (df.withColumn("__n_grp__", F.count("*").over(wg))
           .withColumn("__n_day__", F.count("*").over(wp))
           .where(F.col("__n_grp__") > min_points))
    if break_on_day:
        d = d.where(F.col("__n_day__") >= 2)
    d = (d.withColumn("__x2__", F.lead(lon).over(w))
          .withColumn("__y2__", F.lead(lat).over(w))
          .withColumn("__s2__", F.lead(sort).over(w))
          .where(F.col("__x2__").isNotNull()))
    wseg = Window.partitionBy(group).orderBy(F.col(sort), *tb)
    out = d.select(
        F.col(group),
        (F.row_number().over(wseg) - 1).alias("seg"),
        F.col(lon).alias("x1"), F.col(lat).alias("y1"),
        F.col("__x2__").alias("x2"), F.col("__y2__").alias("y2"),
        F.col(sort).alias(f"{sort}_start"),
        F.col("__s2__").alias(f"{sort}_end"),
        haversine_expr(lon, lat, "__x2__", "__y2__").alias("dist_m"))
    if filter_singular:
        out = out.where(F.col("dist_m") > 0.0)
    return out


def track_label(df: DataFrame, *, track: str, dtg: str | None = None,
                tiebreak: list[str] | None = None) -> DataFrame:
    """One label row per track: the latest by ``dtg`` (ties broken by
    ``tiebreak`` descending — the reference's maxBy keeps an arbitrary
    max; this contract is deterministic), or an arbitrary-but-
    deterministic first row when no date column is given."""
    order = ([F.col(dtg).desc()] if dtg else []) \
        + [F.col(c).desc() for c in (tiebreak or [])]
    if not order:
        raise ValueError("track_label needs dtg and/or tiebreak columns")
    w = Window.partitionBy(track).orderBy(*order)
    return (df.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1).drop("__rn__"))


_DURATION_RE = re.compile(
    r"^(?P<sign>-)?P(?:(?P<d>\d+)D)?"
    r"(?:T(?:(?P<h>\d+)H)?(?:(?P<m>\d+)M)?(?:(?P<s>\d+)S)?)?$")


def parse_duration_seconds(offset: str) -> int:
    """ISO-8601 day/time duration (P1D, PT2H30M, -PT15S) -> seconds."""
    m = _DURATION_RE.match(offset.strip())
    if not m or offset.strip() in ("P", "PT", "-P", "-PT"):
        raise ValueError(f"invalid ISO-8601 duration: {offset!r}")
    g = m.groupdict()
    secs = (int(g["d"] or 0) * 86400 + int(g["h"] or 0) * 3600
            + int(g["m"] or 0) * 60 + int(g["s"] or 0))
    return -secs if g["sign"] else secs


def date_offset(df: DataFrame, *, date_col: str,
                offset: str) -> DataFrame:
    """Shift ``date_col`` by an ISO-8601 duration (DateOffsetProcess).
    Pure column arithmetic — no shuffle, no Python."""
    secs = parse_duration_seconds(offset)
    shifted = F.timestamp_add("SECOND", F.lit(secs), F.col(date_col))
    return df.withColumn(date_col, shifted)


def hash_attribute(df: DataFrame, *, attribute: str, modulo: int,
                   out: str = "hash") -> DataFrame:
    """Deterministic hash bucket of ``attribute`` in [0, modulo) — the
    HashAttribute process contract. Null attributes hash as the empty
    string (the reference's Option(...).getOrElse(""))."""
    from geomesa_spark.text.analysis import char_hash_expr
    s = F.coalesce(F.col(attribute).cast("string"), F.lit(""))
    return df.withColumn(out, (char_hash_expr(s) % modulo).cast("int"))


def _bearing_expr(x1, y1, x2, y2) -> Column:
    """Spherical initial bearing (x1,y1)->(x2,y2) in [0, 360)."""
    p1, p2 = F.radians(y1), F.radians(y2)
    dl = F.radians(x2) - F.radians(x1)
    th = F.degrees(F.atan2(
        F.sin(dl) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dl)))
    return (th + 360.0) % 360.0


def route_segments(routes: list[list[tuple[float, float]]],
                   buffer_m: float) -> list[dict]:
    """Per-segment rows for a tiny route set: endpoints plus a bbox
    expanded CONSERVATIVELY by ``buffer_m`` (margins over-cover — the
    exact distance filter runs after the bbox join, so over-selection
    costs candidates, never correctness)."""
    import math
    segs = []
    for rid, coords in enumerate(routes):
        if len(coords) < 2:
            raise ValueError(f"route {rid} needs >= 2 points")
        for si in range(len(coords) - 1):
            (x1, y1), (x2, y2) = coords[si], coords[si + 1]
            mlat = buffer_m / 109_000.0  # meridian degree >= 110.57 km
            phi = min(89.0, max(abs(y1), abs(y2)) + mlat)
            mlon = buffer_m / (105_000.0 * math.cos(math.radians(phi)))
            segs.append({
                "route_id": rid, "seg": si,
                "x1": float(x1), "y1": float(y1),
                "x2": float(x2), "y2": float(y2),
                "bminx": min(x1, x2) - mlon, "bmaxx": max(x1, x2) + mlon,
                "bminy": min(y1, y2) - mlat, "bmaxy": max(y1, y2) + mlat})
    return segs


def route_search(features: DataFrame,
                 routes: list[list[tuple[float, float]]], *,
                 buffer_m: float, heading_threshold: float,
                 id_col: str, lon: str = "lon", lat: str = "lat",
                 heading: str = "heading",
                 bidirectional: bool = False) -> DataFrame:
    """RouteSearchProcess: features within ``buffer_m`` of a route whose
    heading matches the CLOSEST route segment's bearing within
    ``heading_threshold`` degrees (compass-corrected; ``bidirectional``
    also accepts the reciprocal bearing).

    Scale shape: routes are the tiny side by contract (like kNN query
    sets). Segments with buffer-expanded bboxes broadcast; the feature
    side joins on bbox containment (BroadcastNestedLoopJoin — no feature
    shuffle, candidates only near routes), per-pair distance/bearing run
    in pure Catalyst codegen, and the closest-segment argmin is a
    map-side-partial ``min(struct(...))`` groupBy on the feature id — the
    one shuffle is O(|features near routes|) rows.

    Distance semantics: closest point on the segment in planar coordinate
    space (JTS DistanceOp's metric), measured in meters via haversine to
    that point. Output: (id, lon, lat, heading, route_id, seg, dist_m,
    route_heading) for matching features."""
    seg_df = local_frame(features.sparkSession,
                         route_segments(routes, buffer_m), ROUTE_SEGMENTS)
    px, py = F.col(lon), F.col(lat)
    cand = features.select(id_col, lon, lat, heading).join(
        F.broadcast(seg_df),
        (px >= F.col("bminx")) & (px <= F.col("bmaxx"))
        & (py >= F.col("bminy")) & (py <= F.col("bmaxy")))
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    len2 = dx * dx + dy * dy
    t = F.when(len2 > 0, F.least(
        F.lit(1.0), F.greatest(
            F.lit(0.0),
            ((px - F.col("x1")) * dx + (py - F.col("y1")) * dy) / len2))
    ).otherwise(F.lit(0.0))
    cx, cy = F.col("x1") + t * dx, F.col("y1") + t * dy
    scored = (cand.withColumns({"__cx__": cx, "__cy__": cy})
              .withColumn("dist_m",
                          haversine_expr(lon, lat, "__cx__", "__cy__"))
              .where(F.col("dist_m") <= buffer_m)
              .withColumn("raz", F.round(_bearing_expr(
                  F.col("x1"), F.col("y1"), F.col("x2"),
                  F.col("y2")), 3)))  # 3 dp: quantum ~1e8 x atan2 noise
    # closest segment per feature: min(struct) -> map-side partial agg;
    # dist rounded to WHOLE meters so cross-engine trig noise (~1e-9 m,
    # different libm sin/cos) cannot straddle the output quantum — at
    # 6 dp a value landing ON a micro-meter boundary flipped between
    # engines at sf0.1; ties then break deterministically by
    # (route_id, seg) identically in both engines
    best = (scored.groupBy(id_col, lon, lat, heading)
            .agg(F.min(F.struct(
                F.round("dist_m", 0).alias("d"), "route_id", "seg",
                "raz")).alias("m"))
            .select(id_col, lon, lat, heading,
                    F.col("m.route_id").alias("route_id"),
                    F.col("m.seg").alias("seg"),
                    F.col("m.d").alias("dist_m"),
                    F.col("m.raz").alias("route_heading")))
    diff = F.abs(F.col("route_heading") - F.col(heading))
    diff = F.least(diff, 360.0 - diff)
    match = diff <= heading_threshold
    if bidirectional:
        match = match | (F.abs(diff - 180.0) <= heading_threshold)
    return best.where(match)


_COLORS = ("#6495ED", "#B0C4DE", "#00FFFF", "#9ACD32", "#00FA9A",
           "#FFF8DC", "#F5DEB3")


def hash_attribute_color(df: DataFrame, *, attribute: str, modulo: int,
                         out: str = "hash") -> DataFrame:
    """HashAttributeColorProcess: the hash bucket mapped onto the
    reference's 7-color viz palette."""
    d = hash_attribute(df, attribute=attribute, modulo=modulo, out=out)
    return d.withColumn(
        out, F.element_at(F.array(*[F.lit(c) for c in _COLORS]),
                          (F.col(out) % len(_COLORS)) + 1))
