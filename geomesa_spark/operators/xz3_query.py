"""XZ3-indexed storage and spatio-temporal range queries for extended
geometries.

The reference stores non-point geometries with time under XZ3 sequence
codes keyed by [epoch][xz3] and turns a query bbox + interval into
per-epoch code ranges (/root/reference/geomesa-index-api/src/main/scala/
org/locationtech/geomesa/index/index/z3/XZ3Index.scala; curve
/root/reference/geomesa-z3/.../curve/XZ3SFC.scala). Intervals spanning
week bins are indexed once PER spanned bin — BinnedTime.
boundsToIndexableDates splits an interval into per-bin sub-intervals —
so a query confined to one week still finds long-lived elements.

Spark mapping: write time explodes each row into one stored row per
spanned epoch week (native sequence+explode, no Python) and computes the
``xz3`` code per epoch with one Arrow pandas UDF; rows spanning more than
``MAX_EPOCH_SPAN`` weeks go to the reserved epoch -1 that every query
also scans (the reserved-partition pattern of IndexPartitioner:18-29 —
sound, bounded write amplification). A query becomes a disjunction of
(epoch = e AND xz3 BETWEEN ...) predicates — sargable for Parquet
row-group skipping and partition pruning on ``epoch`` — followed by the
exact bbox-intersect + interval-overlap refine and a duplicate drop
(cover may over-select and duplicate, never under-select)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from geomesa_spark.cells.xz3 import XZ3_MAX_RES, xz3_code, xz3_covers
from geomesa_spark.cells.z3 import WEEK_SECONDS
from geomesa_spark.operators.xz2_query import coalesce_ranges
from geomesa_spark.plans.planner import int_predicate

MAX_EPOCH_SPAN = 32  # intervals spanning more weeks use the reserved -1


def udf_xz3_code(res: int = XZ3_MAX_RES):
    """(xmin, ymin, xmax, ymax, off0_s, off1_s) -> XZ3 sequence code
    (offsets are seconds within the row's epoch week)."""
    @F.pandas_udf(LongType())
    def code(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
             ymax: pd.Series, off0: pd.Series,
             off1: pd.Series) -> pd.Series:
        return pd.Series(xz3_code(
            xmin.to_numpy(np.float64), ymin.to_numpy(np.float64),
            xmax.to_numpy(np.float64), ymax.to_numpy(np.float64),
            off0.to_numpy(np.float64), off1.to_numpy(np.float64), res))
    return code


def with_xz3(df: DataFrame, *, xmin: str = "xmin", ymin: str = "ymin",
             xmax: str = "xmax", ymax: str = "ymax",
             t0: str = "t0", t1: str = "t1",
             res: int = XZ3_MAX_RES) -> DataFrame:
    """Attach write-time ``epoch`` + ``xz3`` columns, one output row per
    spanned epoch week (toIndexKey + boundsToIndexableDates analog)."""
    sec0 = F.col(t0).cast("timestamp").cast("double")
    sec1 = F.col(t1).cast("timestamp").cast("double")
    e0 = F.floor(sec0 / WEEK_SECONDS).cast("long")
    e1 = F.floor(sec1 / WEEK_SECONDS).cast("long")
    epochs = F.when(e1 - e0 < MAX_EPOCH_SPAN,
                    F.sequence(e0, e1)) \
        .otherwise(F.array(F.lit(-1).cast("long")))
    d = df.withColumn("epoch", F.explode(epochs))
    off0 = F.greatest(F.lit(0.0), sec0 - F.col("epoch") * WEEK_SECONDS)
    off1 = F.least(F.lit(float(WEEK_SECONDS)),
                   sec1 - F.col("epoch") * WEEK_SECONDS)
    code = udf_xz3_code(res)(
        F.col(xmin), F.col(ymin), F.col(xmax), F.col(ymax), off0, off1)
    return d.withColumn(
        "xz3", F.when(F.col("epoch") < 0, F.lit(-1).cast("long"))
        .otherwise(code))


def xz3_range_predicate(bbox: tuple[float, float, float, float],
                        t0_s: float, t1_s: float, *,
                        res: int = XZ3_MAX_RES,
                        epoch_col: str = "epoch", col: str = "xz3",
                        max_terms_per_epoch: int = 48) -> Column:
    """Disjunction over epoch weeks of (epoch = e AND xz3 range terms)
    covering every element that may intersect the query bbox AND interval,
    plus the reserved epoch -1 (long-lived elements, refine-only).
    ``t0_s``/``t1_s``: query interval in epoch seconds."""
    qx0, qy0, qx1, qy1 = (float(v) for v in bbox)
    e0 = int(t0_s // WEEK_SECONDS)
    e1 = int(t1_s // WEEK_SECONDS)
    all_ranges: list[tuple[int, int]] = []

    def range_term(lo: float, hi: float) -> Column:
        ranges = coalesce_ranges(
            xz3_covers(qx0, qy0, qx1, qy1, lo, hi, res=res),
            max_terms_per_epoch)
        all_ranges.extend(ranges)
        return int_predicate(col, ranges)

    # Epochs fully inside the interval share ONE cover (the bbox over the
    # whole week): emit it once under an epoch BETWEEN instead of per week,
    # so a year-long query costs 2 boundary epochs + 1 shared term, not
    # 52x max_terms Catalyst nodes (same rows selected — the per-epoch
    # ranges are identical by construction).
    interior = [e for e in range(e0, e1 + 1)
                if t0_s <= e * WEEK_SECONDS
                and t1_s >= (e + 1) * WEEK_SECONDS]
    pred = F.col(epoch_col) == -1
    if interior:
        pred = pred | ((F.col(epoch_col) >= interior[0])
                       & (F.col(epoch_col) <= interior[-1])
                       & range_term(0.0, float(WEEK_SECONDS)))
    for e in range(e0, e1 + 1):
        if interior and interior[0] <= e <= interior[-1]:
            continue
        lo = max(0.0, t0_s - e * WEEK_SECONDS)
        hi = min(float(WEEK_SECONDS), t1_s - e * WEEK_SECONDS)
        pred = pred | ((F.col(epoch_col) == e) & range_term(lo, hi))

    # Redundant xz3-ONLY conjunct for parquet row-group skipping: the
    # disjunction above mixes the PARTITION column (epoch) with the data
    # column (xz3), which Spark cannot push to the data source — so the
    # sorted-by-xz3 row groups inside each pruned epoch partition would
    # all be read. The conjunct below is implied by the predicate (a
    # selected row has xz3 inside ITS epoch's ranges ⊆ the union, or is
    # a reserved epoch=-1 row, which with_xz3 stores with xz3 = -1) and
    # references only xz3, so it lands in PushedFilters.
    if all_ranges:
        union = coalesce_ranges(sorted(set(all_ranges)),
                                max_terms_per_epoch)
        pred = pred & int_predicate(col, [(-1, -1)] + union)
    return pred


def xz3_query(df: DataFrame, bbox: tuple[float, float, float, float],
              t0_s: float, t1_s: float, *,
              xmin: str = "xmin", ymin: str = "ymin",
              xmax: str = "xmax", ymax: str = "ymax",
              t0: str = "t0", t1: str = "t1",
              res: int = XZ3_MAX_RES,
              id_col: str | None = None) -> DataFrame:
    """Rows whose bbox intersects ``bbox`` and whose [t0, t1] interval
    overlaps [t0_s, t1_s] (epoch seconds): XZ3 range prune, exact refine,
    then duplicate drop (write-side epoch duplication — the engine's
    standard cover-duplicate-dedupe contract). ``df`` must carry
    ``epoch``/``xz3`` (use ``with_xz3``).

    ``id_col``: the feature-id column to dedupe on (the reference dedupes
    by feature id). When None, dedupes on ALL logical columns — which
    collapses genuinely distinct rows with identical values; pass the id
    whenever one exists."""
    qx0, qy0, qx1, qy1 = (float(v) for v in bbox)
    pruned = df.where(xz3_range_predicate(bbox, t0_s, t1_s, res=res))
    tsec0 = F.col(t0).cast("timestamp").cast("double")
    tsec1 = F.col(t1).cast("timestamp").cast("double")
    refined = pruned.where(
        (F.col(xmin) <= qx1) & (F.col(xmax) >= qx0)
        & (F.col(ymin) <= qy1) & (F.col(ymax) >= qy0)
        & (tsec0 <= t1_s) & (tsec1 >= t0_s))
    dedupe_cols = [id_col] if id_col else \
        [c for c in df.columns if c not in ("epoch", "xz3")]
    return refined.dropDuplicates(dedupe_cols).drop("epoch", "xz3")
