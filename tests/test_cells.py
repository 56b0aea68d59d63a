"""Property tests for the Z2 cell kernels.

Mirrors the reference curve test strategy (/root/reference/geomesa-z3/src/
test/scala/org/locationtech/geomesa/curve/{Z2Test,NormalizedDimensionTest}.scala):
round-trips, cover soundness (never under-select), prefix monotonicity, and
edge vectors at the domain bounds / antimeridian / whole world.
"""

import numpy as np
import pytest

from geomesa_spark.cells import (
    MAX_RES,
    PARTITION_RES,
    bbox_cover,
    cell_bounds,
    cell_center,
    cell_id,
    cell_prefix,
    k_ring,
    lonlat_to_bins,
    z_decode,
    z_encode,
)
from geomesa_spark.cells.s2 import s2_cell_id, s2_cover_ranges
from geomesa_spark.cells.xz2 import xz2_covers, xz2_index
from geomesa_spark.cells.xz3 import xz3_covers, xz3_index

RNG = np.random.default_rng(123)
N = 10_000
LON = RNG.uniform(-180, 180, N)
LAT = RNG.uniform(-90, 90, N)


def test_encode_decode_roundtrip():
    x, y = lonlat_to_bins(LON, LAT, MAX_RES)
    z = z_encode(x, y)
    x2, y2 = z_decode(z)
    np.testing.assert_array_equal(x, x2)
    np.testing.assert_array_equal(y, y2)


def test_point_within_own_cell_bounds():
    z = cell_id(LON, LAT, MAX_RES)
    x0, y0, x1, y1 = cell_bounds(z, MAX_RES)
    assert np.all(LON >= x0 - 1e-9) and np.all(LON <= x1 + 1e-9)
    assert np.all(LAT >= y0 - 1e-9) and np.all(LAT <= y1 + 1e-9)


def test_center_reencodes_to_same_cell():
    z = cell_id(LON, LAT, 20)
    cx, cy = cell_center(z, 20)
    np.testing.assert_array_equal(cell_id(cx, cy, 20), z)


def test_domain_edges_clamp_into_last_bin():
    # upper-bound clamp semantics of NormalizedDimension.normalize
    x, y = lonlat_to_bins([180.0, -180.0], [90.0, -90.0], MAX_RES)
    n = (1 << MAX_RES) - 1
    assert x.tolist() == [n, 0]
    assert y.tolist() == [n, 0]


def test_invalid_maps_to_reserved_cell():
    z = cell_id([np.nan, 200.0, 0.0], [0.0, 0.0, 95.0], MAX_RES)
    assert z.tolist() == [-1, -1, -1]
    assert cell_prefix(z).tolist() == [-1, -1, -1]


def test_prefix_consistency():
    """prefix(full_cell) == cell computed directly at partition res."""
    full = cell_id(LON, LAT, MAX_RES)
    coarse = cell_id(LON, LAT, PARTITION_RES)
    np.testing.assert_array_equal(cell_prefix(full, MAX_RES, PARTITION_RES), coarse)


def test_cover_soundness_never_under_selects():
    rng = np.random.default_rng(7)
    for _ in range(50):
        x0, x1 = np.sort(rng.uniform(-180, 180, 2))
        y0, y1 = np.sort(rng.uniform(-90, 90, 2))
        cover = set(bbox_cover(x0, y0, x1, y1, res=8).tolist())
        px = rng.uniform(x0, x1, 200)
        py = rng.uniform(y0, y1, 200)
        cells = cell_id(px, py, 8)
        assert set(cells.tolist()) <= cover


def test_whole_world_cover_is_complete():
    cover = bbox_cover(-180, -90, 180, 90, res=4)
    assert len(cover) == (1 << 4) * (1 << 4)
    assert len(np.unique(cover)) == len(cover)


def test_antimeridian_cover_splits():
    cover = set(bbox_cover(170, -10, -170, 10, res=6).tolist())
    # points on both sides of the dateline are covered
    assert int(cell_id(175.0, 0.0, 6)[0]) in cover
    assert int(cell_id(-175.0, 0.0, 6)[0]) in cover
    # but the middle of the pacific-to-atlantic long way is not
    assert int(cell_id(0.0, 0.0, 6)[0]) not in cover


def test_cover_budget_enforced():
    with pytest.raises(ValueError):
        bbox_cover(-180, -90, 180, 90, res=20, max_cells=100)


def test_k_ring_contains_neighbors_and_wraps():
    res = 6
    c = int(cell_id(179.9, 0.0, res)[0])
    ring = set(k_ring(c, res, 1).tolist())
    assert c in ring
    assert len(ring) == 9  # 3x3, away from poles
    # wraps across the antimeridian
    assert int(cell_id(-179.9, 0.0, res)[0]) in ring


def test_k_ring_clamps_at_pole():
    res = 6
    c = int(cell_id(0.0, 89.9, res)[0])
    ring = k_ring(c, res, 1)
    assert len(ring) == 6  # 3 x 2: no bins above the pole


def test_z_order_locality():
    """Cells sharing a coarse prefix are spatially contiguous quadrants."""
    z = cell_id(LON, LAT, MAX_RES)
    pref = cell_prefix(z, MAX_RES, 2)
    for p in np.unique(pref):
        sel = pref == p
        x0, y0, x1, y1 = cell_bounds(np.asarray([p]), 2)
        assert np.all(LON[sel] >= x0[0] - 1e-9) and np.all(LON[sel] <= x1[0] + 1e-9)
        assert np.all(LAT[sel] >= y0[0] - 1e-9) and np.all(LAT[sel] <= y1[0] + 1e-9)


class TestAntimeridianCovers:
    def test_s2_inverted_box_not_empty_and_sound(self):
        ranges = s2_cover_ranges(170.0, -10.0, -170.0, 10.0, level=8)
        assert len(ranges) > 0
        for lon in (175.0, 179.9, -179.9, -175.0):
            cid = int(s2_cell_id([lon], [2.0], level=8)[0])
            assert any(lo <= cid <= hi for lo, hi in ranges.tolist()), lon
        # soundness only requires over-selection; a point far outside may
        # still fall in a coarse range, so just check the cover is bounded
        assert len(ranges) <= 4096

    def test_xz2_inverted_box_not_empty_and_sound(self):
        cov = xz2_covers(170.0, -10.0, -170.0, 10.0)
        assert len(cov) > 0
        for lon in (178.0, -178.0):
            code = int(xz2_index([lon], [1.0], [lon + 0.01], [1.01])[0])
            assert any(lo <= code <= hi for lo, hi in cov), lon
        # merged, sorted, non-overlapping
        flat = [v for r in cov for v in r]
        assert flat == sorted(flat)

    def test_xz3_inverted_box_not_empty_and_sound(self):
        t0, t1 = 10_000.0, 20_000.0
        cov = xz3_covers(170.0, -10.0, -170.0, 10.0, t0, t1)
        assert len(cov) > 0
        ts0 = np.int64(12_000) * 1_000_000
        for lon in (178.0, -178.0):
            _, code = xz3_index([lon], [1.0], [lon + 0.01], [1.01],
                                [ts0], [ts0 + 1_000_000])
            assert any(lo <= int(code[0]) <= hi for lo, hi in cov), lon
