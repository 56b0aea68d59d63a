"""The workloads as lists of operation types.

Every operation type turns an index into one ``Call``: what to build
through the package's public API, which columns fingerprint its output, and
the numpy twin that says what the fingerprint must be. Parameters come from
``(seed, operation, index)``, so a run is a pure function of its seed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

import inputs
import twins
from probes import parquet_sizes

CELL_RES = 4          # PARTITION_RES: the cell-partitioned tables
ST_RES = 2            # coarser cells under the week level: 80 directories
DENSITY_PX = (64, 32)
XZ2_HALF = (0.5, 0.25)  # each point as a 1.0 x 0.5 degree box
KNN_K = 10
ID_LOOKUPS = 5


@dataclass
class Call:
    build: Callable            # -> the DataFrame (a write op: its input)
    twin: Callable             # -> (rows, hashsum), numpy only
    input_rows: int
    fp_cols: tuple = ()        # columns the fingerprint reads
    execute: Callable | None = None  # a write op: writes the built frame
    check: Callable | None = None    # a write op: fingerprint of the write
    written: str | None = None       # a write op: the directory it grows
    cover: Callable | None = None    # traced only: the op's cell cover
    decide: Callable | None = None   # traced only: the strategy decision


@dataclass
class Workload:
    setup: Callable[[], None]   # the program's own ingest and index builds
    ops: dict                   # name -> (index -> Call)
    stored: Callable[[], tuple[int, int]]  # (bytes on disk, input bytes)
    reps: dict                  # name -> operations of that type per round
    throughput: tuple           # the types rows_per_s is measured on
    latency: tuple              # the types op_p50_ms is measured on


class Inputs:
    """The generated files and, once loaded, their numpy arrays (loaded
    only by the twins, after the timed phase)."""

    def __init__(self, d: str, seed: int, size: dict):
        self.dir, self.seed, self.size = d, seed, size
        self.points_dir = os.path.join(d, "points")
        self._pts = self._images = None

    @property
    def pts(self) -> dict:
        if self._pts is None:
            t = pd.read_parquet(self.points_dir)
            self._pts = {c: t[c].to_numpy() for c in
                         ("id", "lon", "lat", "value", "kind")}
            self._pts["ts"] = (t["ts"].astype("int64").to_numpy()
                               // 1_000_000)
        return self._pts

    @property
    def images(self) -> dict:
        if self._images is None:
            t = pd.read_parquet(os.path.join(self.dir, "images.parquet"),
                                columns=["lon", "lat"])
            self._images = {c: t[c].to_numpy() for c in ("lon", "lat")}
        return self._images

    def batch_path(self, b: int) -> str:
        n = self.size["batches"]
        return os.path.join(self.dir, "batches", f"batch-{b % n:05d}.parquet")


def _bytes_under(path: str) -> int:
    return sum(parquet_sizes(path).values())


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def tile_join(spark, inp: Inputs, work: str) -> Workload:
    from pyspark.sql import functions as F

    from geomesa_spark.operators.density import density
    from geomesa_spark.operators.join import spatial_join
    from geomesa_spark.operators.tiles import tile_mosaic, tile_pyramid
    from geomesa_spark.sources.table import read_images, write_images

    seed, n_pts = inp.seed, inp.size["points"]
    n_reg, n_img = inp.size["regions"], inp.size["images"]
    points = spark.read.parquet(inp.points_dir)
    regions = spark.read.parquet(os.path.join(inp.dir, "regions.parquet"))
    image_src = os.path.join(inp.dir, "images.parquet")
    table = os.path.join(work, "images_table")
    base_rings = inputs.region_set(seed, 0, n_reg)
    st = {}

    def setup() -> None:
        write_images(spark.read.parquet(image_src), _fresh(table),
                     id_col="image_id")
        st["images"] = read_images(spark, table)

    def base_twin():
        if "base_twin" not in st:
            st["base_twin"] = twins.join(inp.pts, base_rings)
        return st["base_twin"]

    def join(rnd: int) -> Call:
        return Call(
            build=lambda: spatial_join(points, regions,
                                       predicate="st_contains",
                                       broadcast_regions=True)
            .select("id", "region_id"),
            fp_cols=("id", "region_id"), twin=base_twin, input_rows=n_pts)

    def join_fresh(rnd: int) -> Call:
        # a new region set every operation: its covers miss the driver memo
        rings = inputs.region_set(seed, rnd + 1, n_reg)
        fresh = spark.createDataFrame(
            [(i, inputs.wkb_polygon(g)) for i, g in enumerate(rings)],
            "region_id long, geom binary")
        return Call(
            build=lambda: spatial_join(points, fresh,
                                       predicate="st_contains",
                                       broadcast_regions=True)
            .select("id", "region_id"),
            fp_cols=("id", "region_id"),
            twin=lambda: twins.join(inp.pts, rings),
            input_rows=n_pts)

    def tiles(rnd: int) -> Call:
        return Call(
            build=lambda: tile_pyramid(points),
            fp_cols=("res", "tile", "n_images"),
            twin=lambda: twins.tile_pyramid(inp.pts, CELL_RES),
            input_rows=n_pts)

    def dens(rnd: int) -> Call:
        env = inputs.query_box(seed, 1, rnd)
        w, h = DENSITY_PX
        return Call(
            build=lambda: density(points, envelope=env, width=w, height=h)
            .withColumn("weight", F.col("weight").cast("long")),
            fp_cols=("col", "row", "weight"),
            twin=lambda: twins.density(inp.pts, env, w, h),
            input_rows=n_pts)

    def mosaic(rnd: int) -> Call:
        return Call(
            build=lambda: tile_mosaic(st["images"], res=CELL_RES),
            fp_cols=("tile", "n_images"),
            twin=lambda: twins.mosaic(inp.images, CELL_RES),
            input_rows=n_img)

    return Workload(
        setup,
        {"join": join, "join_fresh": join_fresh, "tiles": tiles,
         "density": dens, "mosaic": mosaic},
        stored=lambda: (_bytes_under(table), _bytes_under(image_src)),
        # two of each cheap type a round: the first timed round is not yet
        # steady for them, and a median of four outvotes it
        reps={"join": 2, "join_fresh": 2, "tiles": 2, "density": 2,
              "mosaic": 1},
        # points through the spatial join (the paper's headline), and the
        # latency of the tiling operations
        throughput=("join", "join_fresh"),
        latency=("tiles", "density", "mosaic"))


def selective_query(spark, inp: Inputs, work: str) -> Workload:
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq

    from geomesa_spark.cells.xz2 import xz2_covers
    from geomesa_spark.operators.knn import knn_join
    from geomesa_spark.operators.xz2_query import with_xz2, xz2_bbox_query
    from geomesa_spark.plans import filters as FL
    from geomesa_spark.plans.strategy import (build_id_index, decide,
                                              plan_with_strategy)
    from geomesa_spark.sources.table import (write_images,
                                             write_spatiotemporal)

    seed, n_pts = inp.seed, inp.size["points"]
    paths = {k: os.path.join(work, k) for k in ("cells", "st", "xz2", "ids")}
    appends = os.path.join(work, "appends")
    stats = {"rows": n_pts}
    st = {"appended_bytes": 0}

    def setup() -> None:
        points = spark.read.parquet(inp.points_dir)
        write_images(points, _fresh(paths["cells"]), id_col="id")
        write_spatiotemporal(points, _fresh(paths["st"]), res=ST_RES,
                             mode="overwrite")
        hw, hh = XZ2_HALF
        boxes = points.select(
            "id", (F.col("lon") - hw).alias("xmin"),
            (F.col("lat") - hh).alias("ymin"),
            (F.col("lon") + hw).alias("xmax"),
            (F.col("lat") + hh).alias("ymax"))
        (with_xz2(boxes).repartitionByRange(8, "xz2")
         .sortWithinPartitions("xz2")
         .write.mode("overwrite").parquet(_fresh(paths["xz2"])))
        build_id_index(points, _fresh(paths["ids"]), id_col="id")
        for k in ("cells", "st", "xz2"):
            st[k] = spark.read.parquet(paths[k])
        _fresh(appends)

    def bbox(rnd: int) -> Call:
        box = inputs.query_box(seed, 10, rnd)
        f = FL.bbox(*box)
        return Call(
            build=lambda: FL.plan_query(st["cells"], f, res=CELL_RES)
            .select("id"),
            fp_cols=("id",), twin=lambda: twins.bbox(inp.pts, box),
            input_rows=n_pts,
            cover=lambda: FL.extract_cover(f, res=CELL_RES))

    def mixed(rnd: int) -> Call:
        r = inputs.rng(seed, 11, rnd)
        box_a = inputs.query_box(seed, 11, rnd)
        box_b = inputs.query_box(seed, 12, rnd)
        t0 = inputs.T0_S + int(r.integers(0, inputs.SPAN_S - 86400))
        t1 = t0 + int(r.integers(86400, 21 * 86400))
        kind = str(inputs.KINDS[r.integers(0, len(inputs.KINDS))])
        value = float(np.round(r.uniform(100, 900), 1))
        f = FL.or_(FL.and_(FL.bbox(*box_a), FL.Time(t0, t1),
                           FL.Attr("kind", "=", kind)),
                   FL.and_(FL.bbox(*box_b, op="contains"),
                           FL.Attr("value", ">", value)))
        return Call(
            build=lambda: FL.plan_query(st["st"], f, week_col="epoch_week",
                                        res=ST_RES).select("id"),
            fp_cols=("id",),
            twin=lambda: twins.mixed(inp.pts, box_a, t0, t1, kind, box_b,
                                     value),
            input_rows=n_pts,
            cover=lambda: FL.extract_cover(f, res=ST_RES))

    def xz2(rnd: int) -> Call:
        box = inputs.query_box(seed, 13, rnd)
        return Call(
            build=lambda: xz2_bbox_query(st["xz2"], box).select("id"),
            fp_cols=("id",), twin=lambda: twins.xz2(inp.pts, box, *XZ2_HALF),
            input_rows=n_pts, cover=lambda: xz2_covers(*box))

    def ids(rnd: int) -> Call:
        r = inputs.rng(seed, 14, rnd)
        wanted = sorted(int(i) for i in r.choice(n_pts, ID_LOOKUPS,
                                                  replace=False))
        f = FL.Attr("id", "in", wanted)
        return Call(
            build=lambda: plan_with_strategy(
                spark, st["cells"], f, stats=stats, id_col="id",
                id_index=paths["ids"]).select("id"),
            fp_cols=("id",), twin=lambda: twins.ids(inp.pts, wanted),
            input_rows=n_pts,
            cover=lambda: FL.extract_cover(f, res=CELL_RES),
            decide=lambda: decide(f, stats, id_col="id"))

    def knn(rnd: int) -> Call:
        # two query points: one on a hot cluster, one anywhere; a fixed
        # count keeps the type's latency from switching between two modes
        r = inputs.rng(seed, 15, rnd)
        c = inputs.cluster_centers(seed)[r.integers(0, inputs.N_CLUSTERS)]
        qs = [(float(c[0]), float(c[1])),
              (float(r.uniform(-170, 170)), float(r.uniform(-70, 70)))]
        return Call(
            build=lambda: knn_join(
                st["cells"], [(str(i), x, y) for i, (x, y) in enumerate(qs)],
                KNN_K, tiebreak=["id"])
            .select(F.col("query_id").cast("long").alias("query_id"),
                    "rank", "id"),
            fp_cols=("query_id", "rank", "id"),
            twin=lambda: twins.knn(inp.pts, qs, KNN_K), input_rows=n_pts)

    def append(rnd: int) -> Call:
        # the write side of the same layout: one image batch appended to a
        # cell-partitioned table of its own, so query inputs stay fixed
        path = inp.batch_path(rnd)
        before = set(parquet_sizes(appends))  # listed before the timer

        def execute(df):
            write_images(df, appends, id_col="image_id", mode="append")

        def check():
            # what reached the table: ids from the new files, cells from
            # their partition directories
            st["appended_bytes"] += os.path.getsize(path)
            new = sorted(set(parquet_sizes(appends)) - before)
            if not new:
                return 0, 0
            seq, cell = [], []
            for f in new:
                s = pq.read_table(f, columns=["seq"]).column(0).to_numpy()
                c = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
                seq.append(s)
                cell.append(np.full(len(s), int(c)))
            return twins.fingerprint(np.concatenate(seq),
                                     np.concatenate(cell))

        def twin():
            b = pd.read_parquet(path, columns=["seq", "lon", "lat"])
            return twins.append({c: b[c].to_numpy() for c in b}, CELL_RES)

        return Call(build=lambda: spark.read.parquet(path), execute=execute,
                    twin=twin, check=check,
                    input_rows=inp.size["batch_rows"], written=appends)

    return Workload(
        setup,
        {"bbox": bbox, "mixed": mixed, "xz2": xz2, "id": ids, "knn": knn,
         "append": append},
        # the table the appends write, against the batches they wrote
        stored=lambda: (_bytes_under(appends), st["appended_bytes"]),
        reps={"bbox": 2, "mixed": 2, "xz2": 2, "id": 2, "knn": 1,
              "append": 2},
        # rows written by the appends, and the latency of the queries
        throughput=("append",),
        latency=("bbox", "mixed", "xz2", "id", "knn"))


WORKLOADS = {"tile_join": tile_join, "selective_query": selective_query}
