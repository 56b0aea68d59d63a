"""Raster<->vector tiling: assign image rows to SFC tiles and run per-tile
pixel work inside Arrow-batched ``applyInPandas``.

Semantics sources in the reference:
- tile assignment = the FS datastore's partition naming — partition string =
  SFC cell of the geometry (/root/reference/geomesa-fs/geomesa-fs-storage/
  geomesa-fs-storage-common/src/main/scala/org/locationtech/geomesa/fs/
  storage/common/partitions/Z2Scheme.scala:31-55); footprints duplicate into
  every intersecting cell (RelationUtils.gridIdMapper, /root/reference/
  geomesa-spark/geomesa-spark-sql/src/main/scala/org/locationtech/geomesa/
  spark/RelationUtils.scala:35-53).
- per-tile rasterization = DensityScan + GridSnap (floor-bin + clamp,
  /root/reference/geomesa-utils/src/main/scala/org/locationtech/geomesa/
  utils/geotools/GridSnap.scala:19-50).

Scale shape: ``groupBy(tile)`` is the only shuffle; pixel decode runs
after the shuffle, per tile group, on executors (Arrow batches, numpy
kernels — the heavy ``bytes`` column never crosses a join).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from geomesa_spark.cells import PARTITION_RES, cell_bounds
from geomesa_spark.raster.codec import decode_image, mean_pool


def assign_tiles(df: DataFrame, *, lon: str = "lon", lat: str = "lat",
                 res: int = PARTITION_RES, tile_col: str = "tile") -> DataFrame:
    """Point path: one tile per row (Z2Scheme.getPartitionName semantics).
    Native Catalyst bit-ops — stays inside whole-stage codegen."""
    from geomesa_spark.cells.native import cell_expr
    return df.withColumn(tile_col, cell_expr(lon, lat, res))


def assign_tiles_footprint(df: DataFrame, *, wkb_col: str = "geom",
                           res: int = PARTITION_RES,
                           tile_col: str = "tile") -> DataFrame:
    """Footprint path: explode into every tile the footprint's classified
    cover holds, the whole grid for a world-spanning one (duplication
    semantics of gridIdMapper; consumers dedupe on (id, tile) pairs)."""
    from geomesa_spark.operators.join import udf_cover
    return df.withColumn(tile_col, F.explode(
        udf_cover(res)(F.col(wkb_col)).getField("cells")))


def image_features(images: DataFrame) -> DataFrame:
    """Decode each image and emit per-image pixel features — the multimodal
    feature-extract stage. Decode happens inside ``mapInPandas`` (Arrow
    batches; numpy per image; the relational layer never sees pixels)."""
    out_schema = ("image_id string, lon double, lat double, "
                  "mean_r double, mean_g double, mean_b double, "
                  "brightness double, px_sum long, n_px long")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = decode_image(r.bytes, r.w, r.h, r.fmt)
                means = px.reshape(-1, 3).mean(axis=0)
                # exact integer pixel sum/count alongside the float means:
                # downstream aggregates that must match a SQL oracle
                # bit-for-bit sum the longs and divide once (IEEE-exact on
                # both engines), instead of averaging per-image doubles
                # whose summation order differs between engines
                rows.append((r.image_id, r.lon, r.lat,
                             float(means[0]), float(means[1]), float(means[2]),
                             float(means.mean()),
                             int(px.astype(np.int64).sum()), int(px.size)))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "image_id", "lon", "lat", "mean_r", "mean_g", "mean_b",
                    "brightness", "px_sum", "n_px"])

    cols = ["image_id", "bytes", "w", "h", "fmt", "lon", "lat"]
    return images.select(*cols).mapInPandas(extract, schema=out_schema)


def tile_mosaic(images: DataFrame, *, res: int = PARTITION_RES,
                tile_px: int = 64, thumb_px: int = 8) -> DataFrame:
    """Per-tile mosaic: thumbnails painted onto a tile_px x tile_px canvas at
    their GridSnap position within the tile.

    One shuffle (groupBy tile); decode + downsample + paint are numpy inside
    ``applyInPandas``. Paint order is image_id-sorted so the output is
    deterministic regardless of shuffle arrival order. Output pixels are the
    raw RGB canvas (row-major, top row = max lat, DensityScan's grid
    orientation flipped to image convention).
    """
    out_schema = ("tile long, n_images long, tile_px int, px binary, "
                  "checksum long")

    def paint(pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(pdf["tile"].iloc[0])
        x0, y0, x1, y1 = (float(v[0]) for v in cell_bounds(
            np.array([tile], dtype=np.int64), res))
        canvas = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        pdf = pdf.sort_values("image_id")
        half = thumb_px // 2
        for r in pdf.itertuples(index=False):
            px = decode_image(r.bytes, r.w, r.h, r.fmt)
            thumb = mean_pool(px, thumb_px, thumb_px)
            # GridSnap within the tile envelope, clamped
            cx = min(int((r.lon - x0) / max(x1 - x0, 1e-12) * tile_px),
                     tile_px - 1)
            cy = min(int((r.lat - y0) / max(y1 - y0, 1e-12) * tile_px),
                     tile_px - 1)
            row0 = max((tile_px - 1 - cy) - half, 0)
            col0 = max(cx - half, 0)
            r1 = min(row0 + thumb_px, tile_px)
            c1 = min(col0 + thumb_px, tile_px)
            canvas[row0:r1, col0:c1] = thumb[:r1 - row0, :c1 - col0]
        body = canvas.tobytes()
        csum = int(np.int64(np.uint64(
            int.from_bytes(canvas.sum(axis=(0, 1)).astype(np.uint64)
                           .tobytes()[:8], "little"))))
        return pd.DataFrame([(tile, len(pdf), tile_px, body, csum)],
                            columns=["tile", "n_images", "tile_px", "px",
                                     "checksum"])

    tiled = assign_tiles(images, res=res)
    cols = ["tile", "image_id", "bytes", "w", "h", "fmt", "lon", "lat"]
    return tiled.select(*cols).groupBy("tile").applyInPandas(
        paint, schema=out_schema)


def tile_counts(images: DataFrame, *, res: int = PARTITION_RES) -> DataFrame:
    """Tile-assignment aggregate: rows per tile (the headline 'tile
    assignment' output compared against the reference's partition naming)."""
    return (assign_tiles(images, res=res)
            .groupBy("tile").agg(F.count("*").alias("n_images")))


def tile_pyramid(images: DataFrame, *, max_res: int = PARTITION_RES,
                 min_res: int = 1) -> DataFrame:
    """Multi-resolution tile counts — the zoom pyramid a tile server
    renders from (the multi-level form of DensityScan's gridded output,
    /root/reference/geomesa-utils/src/main/scala/org/locationtech/
    geomesa/utils/geotools/GridSnap.scala:19-50 applied per level; level
    semantics = Z2Scheme partition naming at each resolution).

    Scale shape: ONE data shuffle — the groupBy at the finest level
    (4^max_res cells at most). Coarser levels derive from that already-
    aggregated frame by truncating the Morton code 2 bits per level
    (cells/z2.py:cell_prefix semantics) and re-aggregating rows that are
    at most 4^max_res long — the rollup never touches the image table
    again. Output: (res, tile, n_images), finest to coarsest."""
    if not 0 < min_res <= max_res:
        raise ValueError("need 0 < min_res <= max_res")
    finest = (assign_tiles(images, res=max_res)
              .where(F.col("tile") >= 0)  # unmappable rows stay in the
              .groupBy("tile")            # reserved -1 partition only
              .agg(F.count("*").alias("n_images")))
    levels = F.array(*[
        F.struct(F.lit(r).alias("res"),
                 F.shiftrightunsigned("tile", 2 * (max_res - r))
                 .alias("tile"))
        for r in range(min_res, max_res + 1)])
    return (finest.select(F.explode(levels).alias("lv"), "n_images")
            .groupBy(F.col("lv.res").alias("res"),
                     F.col("lv.tile").alias("tile"))
            .agg(F.sum("n_images").alias("n_images")))


def phash_expr(image_id):
    """The fixture's perceptual-hash contract as a NATIVE expression:
    first 8 bytes of sha256(image_id), big-endian, signed int64
    (raster/fixtures.py:_phash) — sha2 + base-16 conv + two's-complement
    wrap, all whole-stage codegen, replicable bit-exactly in SQL engines
    (DuckDB: ('0x' || substr(sha256(id),1,16))::UBIGINT wrapped)."""
    u = F.conv(F.substring(F.sha2(image_id, 256), 1, 16), 16, 10) \
        .cast("decimal(20,0)")
    two63 = F.lit(str(2**63)).cast("decimal(20,0)")
    two64 = F.lit(str(2**64)).cast("decimal(21,0)")
    return F.when(u >= two63, (u.cast("decimal(21,0)") - two64)
                  .cast("long")).otherwise(u.cast("long"))


def phash_pairs(images: DataFrame, *, max_hamming: int = 3,
                id_col: str = "image_id",
                phash_col: str = "phash") -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the image-side twin of simhash dedup, exact via the same generalized
    pigeonhole banding (text/dedup.py:hamming_pairs). At 10^12 images the
    chunk equi-join is the only shuffle and the 16-bit chunks keep it
    selective; pre-block by cell/tile for pathological corpora of
    identical frames. Output: (a, b, hamming), a < b."""
    from geomesa_spark.text.dedup import hamming_pairs
    return hamming_pairs(images.select(id_col, phash_col),
                         fp_col=phash_col, id_col=id_col,
                         max_hamming=max_hamming,
                         n_chunks=max(4, max_hamming + 1))
