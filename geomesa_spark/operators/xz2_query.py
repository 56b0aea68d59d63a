"""XZ2-indexed storage and range queries for extended geometries.

The reference stores non-point geometries under XZ2 sequence codes and
turns a query bbox into code ranges scanned against the key order
(/root/reference/geomesa-index-api/src/main/scala/org/locationtech/
geomesa/index/index/z2/XZ2Index.scala; curve /root/reference/geomesa-z3/
.../curve/XZ2SFC.scala:130-252).

Spark mapping: an ``xz2`` long column computed at write time (Arrow
pandas UDF over the geometry bboxes); a query bbox becomes ONE expression
of range terms on that column — sargable, so Parquet row-group min/max
skipping and Iceberg range pruning apply — followed by the exact
bbox/geometry refine (cover may over-select, never under-select)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import LongType

from geomesa_spark.cells.xz2 import XZ2_MAX_RES, xz2_covers, xz2_index
from geomesa_spark.plans.planner import int_predicate


def udf_xz2(res: int = XZ2_MAX_RES):
    """(xmin, ymin, xmax, ymax) -> XZ2 sequence code, numpy-vectorized."""
    @F.pandas_udf(LongType())
    def code(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
             ymax: pd.Series) -> pd.Series:
        return pd.Series(xz2_index(
            xmin.to_numpy(np.float64), ymin.to_numpy(np.float64),
            xmax.to_numpy(np.float64), ymax.to_numpy(np.float64), res))
    return code


def with_xz2(df: DataFrame, *, xmin: str = "xmin", ymin: str = "ymin",
             xmax: str = "xmax", ymax: str = "ymax",
             res: int = XZ2_MAX_RES, out: str = "xz2") -> DataFrame:
    """Attach the write-time XZ2 code column (toIndexKey analog)."""
    return df.withColumn(out, udf_xz2(res)(
        F.col(xmin), F.col(ymin), F.col(xmax), F.col(ymax)))


def coalesce_ranges(ranges: list[tuple[int, int]],
                    max_n: int) -> list[tuple[int, int]]:
    """Reduce a sorted range list to at most ``max_n`` by merging across
    the smallest gaps — sound over-selection, the reference's
    ScanRangesTarget budget applied client-side. (Thousands of OR terms
    would also blow the Catalyst expression stack and defeat Parquet
    filter evaluation.)"""
    if len(ranges) <= max_n:
        return ranges
    gaps = sorted(range(1, len(ranges)),
                  key=lambda i: ranges[i][0] - ranges[i - 1][1])
    # widest max_n-1 gaps survive as breaks; NOTE gaps[-(max_n-1):] is
    # the WHOLE list when max_n == 1 (negative-zero slice), which kept
    # every break and returned the input unmerged
    keep_breaks = set(gaps[len(gaps) - (max_n - 1):]) if max_n > 1 \
        else set()
    out = []
    cur_lo, cur_hi = ranges[0]
    for i in range(1, len(ranges)):
        if i in keep_breaks:
            out.append((cur_lo, cur_hi))
            cur_lo, cur_hi = ranges[i]
        else:
            cur_hi = max(cur_hi, ranges[i][1])
    out.append((cur_lo, cur_hi))
    return out


def xz2_range_predicate(bbox: tuple[float, float, float, float],
                        *, res: int = XZ2_MAX_RES, col: str = "xz2",
                        max_terms: int = 64) -> Column:
    """Disjunction of BETWEEN ranges covering every geometry that may
    intersect the query bbox (driver-side cover computation — the
    reference's getRangeBytes stage), budgeted to ``max_terms``."""
    return int_predicate(
        col, coalesce_ranges(xz2_covers(*bbox, res=res), max_terms))


def xz2_bbox_query(df: DataFrame,
                   bbox: tuple[float, float, float, float], *,
                   xmin: str = "xmin", ymin: str = "ymin",
                   xmax: str = "xmax", ymax: str = "ymax",
                   res: int = XZ2_MAX_RES,
                   col: str = "xz2") -> DataFrame:
    """Geometries whose bbox intersects the query bbox: XZ2 range prune
    then exact bbox refine. ``df`` must carry the ``xz2`` column (use
    ``with_xz2`` at write time)."""
    qx0, qy0, qx1, qy1 = (float(v) for v in bbox)
    return df.where(xz2_range_predicate(bbox, res=res, col=col)
                    & (F.col(xmin) <= qx1) & (F.col(xmax) >= qx0)
                    & (F.col(ymin) <= qy1) & (F.col(ymax) >= qy0))
