"""XZ2 property tests (pattern of the reference's XZ2SFCTest): index
determinism, containment-monotonicity, and the cover-soundness invariant —
for random boxes B and queries Q with B intersecting Q, xz2_index(B) must
fall inside some cover range of Q (never under-select)."""

from __future__ import annotations

import numpy as np

from geomesa_spark.cells.xz2 import XZ2_MAX_RES, xz2_covers, xz2_index


def _rand_boxes(n, rng, max_w=5.0, max_h=2.0):
    cx = rng.uniform(-175, 175, n)
    cy = rng.uniform(-85, 85, n)
    w = rng.uniform(0.01, max_w, n)
    h = rng.uniform(0.01, max_h, n)
    return cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2


def test_index_deterministic_and_nonnegative():
    rng = np.random.default_rng(31)
    x0, y0, x1, y1 = _rand_boxes(2000, rng)
    a = xz2_index(x0, y0, x1, y1)
    b = xz2_index(x0, y0, x1, y1)
    assert np.array_equal(a, b)
    assert (a >= 0).all()
    assert (a <= (4 ** (XZ2_MAX_RES + 1) - 4) // 3).all()


def test_small_objects_get_deeper_codes():
    big = xz2_index([-40.0], [-40.0], [40.0], [40.0])[0]
    small = xz2_index([10.0], [10.0], [10.001], [10.001])[0]
    # deeper quadtree paths produce larger sequence numbers within the
    # same branch; a tiny box must not be coded at the root
    assert small > 0
    assert big < small


def test_cover_soundness():
    """The core invariant: intersecting boxes are always covered."""
    rng = np.random.default_rng(32)
    x0, y0, x1, y1 = _rand_boxes(3000, rng)
    codes = xz2_index(x0, y0, x1, y1)
    for (qx0, qy0, qx1, qy1) in [(-20, -10, 30, 25), (100, 40, 140, 60),
                                 (-179, -89, -150, -70), (-5, -5, 5, 5)]:
        ranges = xz2_covers(qx0, qy0, qx1, qy1)
        intersects = ~((x1 < qx0) | (x0 > qx1) | (y1 < qy0) | (y0 > qy1))
        in_cover = np.zeros(len(codes), dtype=bool)
        for lo, hi in ranges:
            in_cover |= (codes >= lo) & (codes <= hi)
        missed = intersects & ~in_cover
        assert not missed.any(), \
            f"query {(qx0, qy0, qx1, qy1)} missed {missed.sum()} boxes"


def test_cover_selectivity():
    """Covers must actually prune: a small query over scattered boxes
    should select well under half the population."""
    rng = np.random.default_rng(33)
    x0, y0, x1, y1 = _rand_boxes(5000, rng, max_w=1.0, max_h=1.0)
    codes = xz2_index(x0, y0, x1, y1)
    ranges = xz2_covers(-5, -5, 5, 5)
    in_cover = np.zeros(len(codes), dtype=bool)
    for lo, hi in ranges:
        in_cover |= (codes >= lo) & (codes <= hi)
    assert in_cover.mean() < 0.5


class TestXZ2Query:
    """End-to-end XZ2 range query vs brute-force bbox-intersection oracle."""

    def test_range_query_matches_bruteforce(self, spark):
        import numpy as np
        from pyspark.sql import functions as F
        from geomesa_spark.operators.xz2_query import (with_xz2,
                                                       xz2_bbox_query)
        rng = np.random.default_rng(44)
        x0, y0, x1, y1 = _rand_boxes(2000, rng)
        df = spark.createDataFrame(
            [(i, float(a), float(b), float(c), float(d))
             for i, (a, b, c, d) in enumerate(zip(x0, y0, x1, y1))],
            "id long, xmin double, ymin double, xmax double, ymax double")
        indexed = with_xz2(df).cache()
        for q in [(-20.0, -10.0, 30.0, 25.0), (100.0, 40.0, 140.0, 60.0),
                  (-1.0, -1.0, 1.0, 1.0)]:
            got = {r["id"] for r in xz2_bbox_query(indexed, q).collect()}
            qx0, qy0, qx1, qy1 = q
            want = {int(i) for i in range(2000)
                    if x0[i] <= qx1 and x1[i] >= qx0
                    and y0[i] <= qy1 and y1[i] >= qy0}
            assert got == want

    def test_range_prune_is_selective_and_sargable(self, spark, tmp_path):
        import numpy as np
        from geomesa_spark.operators.xz2_query import (with_xz2,
                                                       xz2_range_predicate)
        rng = np.random.default_rng(45)
        x0, y0, x1, y1 = _rand_boxes(3000, rng, max_w=1.0, max_h=1.0)
        df = spark.createDataFrame(
            [(i, float(a), float(b), float(c), float(d))
             for i, (a, b, c, d) in enumerate(zip(x0, y0, x1, y1))],
            "id long, xmin double, ymin double, xmax double, ymax double")
        with_xz2(df).write.parquet(str(tmp_path / "xz2"))
        indexed = spark.read.parquet(str(tmp_path / "xz2"))
        pred = xz2_range_predicate((-5.0, -5.0, 5.0, 5.0))
        n = indexed.where(pred).count()
        assert n < 3000 * 0.2  # pruning actually prunes
        # the range terms are plain comparisons on the stored column: they
        # reach the Parquet scan as pushed filters, with no Python eval
        plan = indexed.where(pred)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "Or(" in pushed and "GreaterThanOrEqual(xz2," in pushed \
            and "LessThanOrEqual(xz2," in pushed, pushed


class TestCoalesceRangesBudget:
    def test_max_n_one_merges_everything(self):
        from geomesa_spark.operators.xz2_query import coalesce_ranges
        r = [(0, 5), (10, 20), (100, 110)]
        assert coalesce_ranges(r, 1) == [(0, 110)]

    def test_max_n_two_keeps_widest_gap(self):
        from geomesa_spark.operators.xz2_query import coalesce_ranges
        r = [(0, 5), (10, 20), (100, 110)]
        assert coalesce_ranges(r, 2) == [(0, 20), (100, 110)]

    def test_under_budget_untouched(self):
        from geomesa_spark.operators.xz2_query import coalesce_ranges
        r = [(0, 5), (10, 20)]
        assert coalesce_ranges(r, 4) == r
