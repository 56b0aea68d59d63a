#!/usr/bin/env python3
"""Time the broadcast point-in-polygon join against one star polygon of a
given vertex count, to see how the exact refine scales with the region's
edges (the ``perfbench`` regions have 4-13 vertices; real admin or
country polygons have thousands).

The star alternates radii of 20 and 15 degrees around the origin; the
points are uniform in [-25, 25]^2 (seeded), so nearly every candidate
sits in a boundary cell and goes through the refine. Each measurement is
build + noop write of ``spatial_join(..., broadcast_regions=True)``; the
first run (cover computation, warm-up) is dropped and the median of the
rest printed, with the row count, as one JSON line. Beside each wall,
``cover_ms`` is the driver cover that first run computes for the star
(``operators.join._geometry_cover``, the one memo miss), timed alone.

Usage: python tools/bench_join_vertices.py [--vertices 16,1000,10000]
           [--points 300000] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def star(n: int):
    import numpy as np

    from geomesa_spark.geo import Polygon
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    rad = np.where(np.arange(n) % 2 == 0, 20.0, 15.0)
    ring = np.column_stack([rad * np.cos(ang), rad * np.sin(ang)])
    return Polygon(np.vstack([ring, ring[:1]]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--vertices", default="16,1000,10000")
    ap.add_argument("--points", type=int, default=300_000)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    from geomesa_spark.cells import PARTITION_RES
    from geomesa_spark.geo import to_wkb
    from geomesa_spark.operators.join import _geometry_cover, spatial_join

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(7)
    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "points.parquet")
        pd.DataFrame({"id": np.arange(args.points),
                      "lon": rng.uniform(-25, 25, args.points),
                      "lat": rng.uniform(-25, 25, args.points)}
                     ).to_parquet(path)
        pts = spark.read.parquet(path)
        for n in (int(v) for v in args.vertices.split(",")):
            g = star(n)
            t0 = time.perf_counter()
            _geometry_cover(g, PARTITION_RES)
            cover_ms = (time.perf_counter() - t0) * 1000
            regions = spark.createDataFrame(
                [(1, bytearray(to_wkb(g)))], "region_id long, geom binary")
            ts = []
            for i in range(args.reps + 1):
                t0 = time.perf_counter()
                df = spatial_join(pts, regions, predicate="st_contains",
                                  broadcast_regions=True)
                df.write.format("noop").mode("overwrite").save()
                if i:
                    ts.append(time.perf_counter() - t0)
            out[n] = {"s": round(statistics.median(ts), 3),
                      "cover_ms": round(cover_ms, 1), "rows": df.count()}
    print(json.dumps({"points": args.points, "vertices": out}))
    spark.stop()


if __name__ == "__main__":
    main()
