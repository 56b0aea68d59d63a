"""Correctness twins: the expected fingerprint of every benchmark operation,
computed from the generated inputs with numpy alone (no Spark, no
``geomesa_spark``).

A fingerprint is ``(rows, hashsum)``: the row count and the order-independent
sum over rows of ``pmod(sum_j col_j * K_j, 2^32)``. ``fingerprint_expr``
builds the same sum as a Spark aggregate, so the benchmark can observe it
during the timed write and compare it here, after the timed interval.
Keys are whole numbers below 2^31 and the K_j below 2^29, so neither side
can overflow a signed 64-bit integer.
"""

from __future__ import annotations

import numpy as np

K = (461845907, 434353051, 220991289, 387276957)
MOD = 1 << 32
EARTH_MEAN_RADIUS_M = 6371008.7714


def fingerprint(*cols) -> tuple[int, int]:
    cols = [np.asarray(c, dtype=np.int64) for c in cols]
    n = len(cols[0]) if cols else 0
    if n == 0:
        return 0, 0
    acc = np.zeros(n, dtype=np.int64)
    for c, k in zip(cols, K):
        acc += c * np.int64(k)
    return n, int(np.mod(acc, MOD).sum())


def fingerprint_expr(*cols):
    """The Spark aggregates (count, hashsum) matching ``fingerprint``."""
    from pyspark.sql import functions as F

    acc = None
    for c, k in zip(cols, K):
        term = F.col(c).cast("long") * F.lit(k)
        acc = term if acc is None else acc + term
    return (F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.pmod(acc, F.lit(MOD))), F.lit(0))
            .alias("hashsum"))


# ------------------------------------------------------------- cells

def morton(lon, lat, res: int) -> np.ndarray:
    """Z2 cell id: floor-bin with upper clamp, bits interleaved x-first;
    -1 outside the world."""
    n = 1 << res
    x = np.floor((lon - -180.0) / 360.0 * float(n))
    y = np.floor((lat - -90.0) / 180.0 * float(n))
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    out = np.zeros(len(x), dtype=np.int64)
    for i in range(res):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    bad = ~((lon >= -180) & (lon <= 180) & (lat >= -90) & (lat <= 90))
    out[bad] = -1
    return out


# ------------------------------------------------------------- tile_join

def _inside_ring(x, y, ring) -> np.ndarray:
    """Even-odd (crossing number) point-in-polygon."""
    inside = np.zeros(len(x), dtype=bool)
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if y0 == y1:
            continue
        crosses = (y0 > y) != (y1 > y)
        xi = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (x < xi)
    return inside


def join_pairs(pts, rings) -> tuple[np.ndarray, np.ndarray]:
    """``st_contains(region, point)``: strict for rectangles, even-odd for
    the rest (points on a polygon edge have measure zero)."""
    ids, rids = [], []
    lon, lat = pts["lon"], pts["lat"]
    for rid, ring in enumerate(rings):
        xmin, ymin = ring.min(axis=0)
        xmax, ymax = ring.max(axis=0)
        cand = np.nonzero((lon > xmin) & (lon < xmax)
                          & (lat > ymin) & (lat < ymax))[0]
        if len(ring) != 5:
            cand = cand[_inside_ring(lon[cand], lat[cand], ring)]
        ids.append(pts["id"][cand])
        rids.append(np.full(len(cand), rid, dtype=np.int64))
    return np.concatenate(ids), np.concatenate(rids)


def join(pts, rings):
    return fingerprint(*join_pairs(pts, rings))


def tile_pyramid(pts, max_res: int, min_res: int = 1):
    finest = morton(pts["lon"], pts["lat"], max_res)
    finest = finest[finest >= 0]
    res_col, tile_col, n_col = [], [], []
    for r in range(min_res, max_res + 1):
        tiles, counts = np.unique(finest >> (2 * (max_res - r)),
                                  return_counts=True)
        res_col.append(np.full(len(tiles), r))
        tile_col.append(tiles)
        n_col.append(counts)
    return fingerprint(np.concatenate(res_col), np.concatenate(tile_col),
                       np.concatenate(n_col))


def density(pts, envelope, width: int, height: int):
    x0, y0, x1, y1 = envelope
    dx = (x1 - x0) / width
    dy = (y1 - y0) / height
    lon, lat = pts["lon"], pts["lat"]
    keep = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
    col = np.minimum(np.floor((lon[keep] - x0) / dx), width - 1)
    row = np.minimum(np.floor((lat[keep] - y0) / dy), height - 1)
    cells, counts = np.unique(col.astype(np.int64) * height
                              + row.astype(np.int64), return_counts=True)
    return fingerprint(cells // height, cells % height, counts)


def mosaic(images, res: int):
    tiles, counts = np.unique(morton(images["lon"], images["lat"], res),
                              return_counts=True)
    return fingerprint(tiles, counts)


# ------------------------------------------------------- selective_query

def in_box(lon, lat, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)


def bbox(pts, box):
    return fingerprint(pts["id"][in_box(pts["lon"], pts["lat"], box)])


def mixed(pts, box_a, t0: int, t1: int, kind: str, box_b, value: float):
    """``(box_a AND t0 <= ts <= t1 AND kind = k) OR (box_b strictly
    contains the point AND value > v)``."""
    lon, lat = pts["lon"], pts["lat"]
    a = (in_box(lon, lat, box_a) & (pts["ts"] >= t0) & (pts["ts"] <= t1)
         & (pts["kind"] == kind))
    x0, y0, x1, y1 = box_b
    b = ((lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
         & (pts["value"] > value))
    return fingerprint(pts["id"][a | b])


def xz2(pts, box, half_w: float, half_h: float):
    """Point boxes ``lon +- half_w, lat +- half_h`` intersecting ``box``."""
    x0, y0, x1, y1 = box
    lon, lat = pts["lon"], pts["lat"]
    keep = ((lon - half_w <= x1) & (lon + half_w >= x0)
            & (lat - half_h <= y1) & (lat + half_h >= y0))
    return fingerprint(pts["id"][keep])


def ids(pts, wanted):
    return fingerprint(pts["id"][np.isin(pts["id"], wanted)])


def haversine_m(lon1, lat1, lon2, lat2):
    lon1, lat1, lon2, lat2 = (np.radians(v) for v in (lon1, lat1, lon2,
                                                      lat2))
    h = (np.sin((lat2 - lat1) / 2) ** 2
         + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_MEAN_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(h)))


def knn(pts, queries, k: int):
    """Exact haversine top-k per query, ties broken by id."""
    qcol, rank, idcol = [], [], []
    for qi, (qlon, qlat) in enumerate(queries):
        d = haversine_m(qlon, qlat, pts["lon"], pts["lat"])
        top = np.lexsort((pts["id"], d))[:k]
        qcol.append(np.full(len(top), qi))
        rank.append(np.arange(1, len(top) + 1))
        idcol.append(pts["id"][top])
    return fingerprint(np.concatenate(qcol), np.concatenate(rank),
                       np.concatenate(idcol))


# ---------------------------------------------------------------- append

def append(batch, res: int):
    return fingerprint(batch["seq"], morton(batch["lon"], batch["lat"], res))
