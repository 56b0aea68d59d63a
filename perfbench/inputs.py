"""Seeded input generation for the benchmark, run as its own process.

    python3 perfbench/inputs.py --out DIR --seed N --size full|smoke

writes, from the seed alone (no clock, no network):

- ``points/part-*.parquet``: ``id, lon, lat, ts, value, kind``; 70% of the
  points are uniform over the world, 30% sit in 20 Gaussian hot clusters,
  so the cell-partitioned layouts and AQE see skew.
- ``regions.parquet``: the run's fixed region set (``region_id, geom`` as
  WKB). Half are axis-aligned rectangles, which the join evaluates in
  codegen; half are star-shaped polygons, which take the Python refine.
- ``images.parquet``: ``raster.fixtures`` rows at a seed-dependent index
  offset, plus a ``seq`` column.
- ``batches/batch-*.parquet``: pre-generated batches for the ``append``
  operation, drawn from the image pool under fresh ``seq`` and
  ``image_id`` values.

Region and query geometry is defined here, in plain numpy, because the
correctness twins (``twins.py``) must evaluate it without the package under
test. Only the image pixels come from ``geomesa_spark.raster.fixtures``.
"""

from __future__ import annotations

import argparse
import os
import struct
import sys

import numpy as np

# Input sizes. ``full`` is what BENCHMARK.json runs; ``smoke`` keeps a whole
# run to a few seconds past Spark start-up, for the benchmark's own test.
SIZES = {
    "full": dict(points=50_000, point_files=8, regions=32, images=64,
                 batches=60, batch_rows=32),
    "smoke": dict(points=20_000, point_files=4, regions=8, images=64,
                  batches=12, batch_rows=16),
}

N_CLUSTERS = 20
HOT_SHARE = 0.3
KINDS = np.array(["a", "b", "c", "d"])
KIND_P = np.array([0.4, 0.3, 0.2, 0.1])
T0_S = 1704067200  # 2024-01-01T00:00:00Z
SPAN_S = 4 * 7 * 86400  # four weeks: five epoch-week directories
IMAGE_INDEX_STRIDE = 1_000_000  # fixture rows start at (seed % 1000) * this


def rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) & 0xFFFFFFFF, *tags])


def cluster_centers(seed: int) -> np.ndarray:
    r = rng(seed, 1)
    return np.column_stack([r.uniform(-150, 150, N_CLUSTERS),
                            r.uniform(-60, 60, N_CLUSTERS)])


def points(seed: int, n: int) -> dict[str, np.ndarray]:
    r = rng(seed, 2)
    n_hot = int(n * HOT_SHARE)
    lon = r.uniform(-180.0, 180.0, n)
    lat = r.uniform(-90.0, 90.0, n)
    centers = cluster_centers(seed)
    which = r.integers(0, N_CLUSTERS, n_hot)
    sigma = r.uniform(0.3, 2.0, N_CLUSTERS)[which]
    lon[:n_hot] = np.clip(centers[which, 0] + r.normal(0, 1, n_hot) * sigma,
                          -179.999, 179.999)
    lat[:n_hot] = np.clip(centers[which, 1] + r.normal(0, 1, n_hot) * sigma,
                          -89.999, 89.999)
    perm = r.permutation(n)  # hot rows spread over every file
    return {
        "id": np.arange(n, dtype=np.int64),
        "lon": lon[perm],
        "lat": lat[perm],
        # whole seconds, so the week boundaries are exact in every engine
        "ts": (T0_S + r.integers(0, SPAN_S, n)).astype(np.int64),
        "value": np.round(r.uniform(0.0, 1000.0, n), 3),
        "kind": KINDS[r.choice(len(KINDS), n, p=KIND_P)],
    }


def region_set(seed: int, tag: int, n: int) -> list[np.ndarray]:
    """``n`` closed rings (k x 2, first == last). Even indices are
    rectangles, odd ones star-shaped polygons (vertices at sorted angles
    around a centre, so every ring is simple). Half the centres sit on hot
    clusters so the join has real output."""
    r = rng(seed, 3, tag)
    centers = cluster_centers(seed)
    rings = []
    for i in range(n):
        if i % 4 < 2:
            cx, cy = centers[r.integers(0, N_CLUSTERS)] + r.normal(0, 1.5, 2)
        else:
            cx, cy = r.uniform(-160, 160), r.uniform(-70, 70)
        if i % 2 == 0:
            hw, hh = r.uniform(1.0, 8.0), r.uniform(0.5, 5.0)
            ring = [(cx - hw, cy - hh), (cx + hw, cy - hh), (cx + hw, cy + hh),
                    (cx - hw, cy + hh)]
        else:
            k = int(r.integers(6, 13))
            ang = np.sort(r.uniform(0, 2 * np.pi, k))
            rad = r.uniform(1.0, 6.0, k)
            ring = list(zip(cx + rad * np.cos(ang), cy + rad * np.sin(ang)))
        ring.append(ring[0])
        rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian WKB of a one-ring polygon."""
    return (struct.pack("<BIII", 1, 3, 1, len(ring))
            + np.ascontiguousarray(ring, dtype="<f8").tobytes())


def query_box(seed: int, op: int, rnd: int) -> tuple[float, float, float,
                                                     float]:
    """A box whose area is log-uniform from 0.01 square degrees to ~10% of
    the world, centred on a hot cluster every other round. The area walks
    a golden-ratio sequence over the indices, so every run sees the same
    spread of sizes and the seed only moves the boxes."""
    r = rng(seed, 4, op, rnd)
    u = (rnd * 0.6180339887498949 + op * 0.5) % 1.0
    area = 10 ** (-2.0 + u * (np.log10(0.1 * 360 * 180) + 2.0))
    aspect = 2 ** r.uniform(-1, 1)
    w = min(np.sqrt(area * aspect), 300.0)
    h = min(area / w, 150.0)
    if rnd % 2 == 0:
        cx, cy = cluster_centers(seed)[r.integers(0, N_CLUSTERS)]
    else:
        cx, cy = r.uniform(-180, 180), r.uniform(-90, 90)
    x0 = float(np.clip(cx - w / 2, -180.0, 180.0 - w))
    y0 = float(np.clip(cy - h / 2, -90.0, 90.0 - h))
    return x0, y0, x0 + w, y0 + h


def write_points(out: str, seed: int, n: int, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = points(seed, n)
    os.makedirs(os.path.join(out, "points"))
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        sl = slice(bounds[f], bounds[f + 1])
        t = pa.table({
            "id": p["id"][sl], "lon": p["lon"][sl], "lat": p["lat"][sl],
            "ts": pa.array(p["ts"][sl], pa.int64()).cast(
                pa.timestamp("s", tz="UTC")).cast(
                pa.timestamp("us", tz="UTC")),
            "value": p["value"][sl], "kind": p["kind"][sl]})
        pq.write_table(t, os.path.join(out, "points",
                                       f"part-{f:05d}.parquet"))


def write_regions(out: str, seed: int, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rings = region_set(seed, 0, n)
    pq.write_table(pa.table({
        "region_id": np.arange(n, dtype=np.int64),
        "geom": pa.array([wkb_polygon(g) for g in rings], pa.binary())}),
        os.path.join(out, "regions.parquet"))


def write_images(out: str, seed: int, n: int, batches: int,
                 batch_rows: int) -> None:
    from geomesa_spark.raster.fixtures import image_batch

    lo = (int(seed) % 1000) * IMAGE_INDEX_STRIDE
    pool = image_batch(lo, lo + n)
    pool.insert(0, "seq", np.arange(n, dtype=np.int64))
    pool.to_parquet(os.path.join(out, "images.parquet"), index=False)
    os.makedirs(os.path.join(out, "batches"))
    r = rng(seed, 5)
    for b in range(batches):
        pick = r.choice(n, batch_rows, replace=False)
        batch = pool.iloc[pick].reset_index(drop=True)
        seq = n + b * batch_rows + np.arange(batch_rows, dtype=np.int64)
        batch["seq"] = seq
        batch["image_id"] = [f"img-b{s:09d}" for s in seq]
        batch.to_parquet(
            os.path.join(out, "batches", f"batch-{b:05d}.parquet"),
            index=False)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), required=True)
    a = ap.parse_args(argv)
    s = SIZES[a.size]
    tmp = a.out + ".tmp"
    os.makedirs(tmp)
    write_points(tmp, a.seed, s["points"], s["point_files"])
    write_regions(tmp, a.seed, s["regions"])
    write_images(tmp, a.seed, s["images"], s["batches"], s["batch_rows"])
    os.rename(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
