"""Geohash encode/decode (standard base-32 geohash, bit-precision API).

Semantics of the reference's st_geoHash / st_geomFromGeoHash /
st_pointFromGeoHash / st_box2DFromGeoHash (GeometricOutputFunctions.scala:32,
GeometricConstructorFunctions.scala:26,47,77-81), which delegate to
geomesa-utils GeohashUtils: precision is expressed in *bits*; the string is
base-32 with 5 bits per character.
"""

from __future__ import annotations

_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_INV = {c: i for i, c in enumerate(_BASE32)}


def encode(lon: float, lat: float, prec_bits: int) -> str:
    """Geohash string of floor(prec_bits/5) characters."""
    nchars = max(1, prec_bits // 5)
    bits = nchars * 5
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    out = 0
    for i in range(bits):
        if i % 2 == 0:  # even bit: longitude
            mid = (lon_lo + lon_hi) / 2
            b = lon >= mid
            lon_lo, lon_hi = (mid, lon_hi) if b else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            b = lat >= mid
            lat_lo, lat_hi = (mid, lat_hi) if b else (lat_lo, mid)
        out = (out << 1) | int(b)
    return "".join(_BASE32[(out >> (5 * (nchars - 1 - i))) & 31]
                   for i in range(nchars))


def decode_bbox(gh: str) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of the geohash cell."""
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    i = 0
    for ch in gh:
        v = _B32_INV[ch.lower()]
        for k in range(4, -1, -1):
            b = (v >> k) & 1
            if i % 2 == 0:
                mid = (lon_lo + lon_hi) / 2
                lon_lo, lon_hi = (mid, lon_hi) if b else (lon_lo, mid)
            else:
                mid = (lat_lo + lat_hi) / 2
                lat_lo, lat_hi = (mid, lat_hi) if b else (lat_lo, mid)
            i += 1
    return lon_lo, lat_lo, lon_hi, lat_hi


def decode_point(gh: str) -> tuple[float, float]:
    x0, y0, x1, y1 = decode_bbox(gh)
    return (x0 + x1) / 2, (y0 + y1) / 2


def geohash_expr(lon, lat, prec_bits: int):
    """Geohash as a NATIVE Catalyst expression (pure bit math + base-32
    lookup, whole-stage codegen — zero Python in the hot path). Bit-exact
    with ``encode``: floor-binning into 2^n bins with upper clamp equals
    the per-bit bisection (NormalizedDimension.scala:56-72 semantics).

    ``lon``/``lat``: Column or column name; returns a string Column of
    floor(prec_bits/5) base-32 characters.
    """
    from pyspark.sql import Column, functions as F

    lon = lon if isinstance(lon, Column) else F.col(lon)
    lat = lat if isinstance(lat, Column) else F.col(lat)
    nchars = max(1, prec_bits // 5)
    bits = nchars * 5
    nlon = (bits + 1) // 2  # even bit positions (0 = MSB) are longitude
    nlat = bits // 2
    # clamp BOTH ends (native.py _bin_expr convention): a below-range
    # coordinate would otherwise give a negative bin whose
    # shiftrightunsigned bits are all 1s — a 'zz…' hash at the NE corner
    # while the Python encode() bisection emits '00…' at the SW corner
    xb = F.greatest(F.lit(0), F.least(
        F.lit((1 << nlon) - 1),
        F.floor((lon + 180.0) / 360.0 * (1 << nlon)))).cast("long")
    yb = F.greatest(F.lit(0), F.least(
        F.lit((1 << nlat) - 1),
        F.floor((lat + 90.0) / 180.0 * (1 << nlat)))).cast("long")
    val = F.lit(0).cast("long")
    for i in range(nlon):  # lon bit i (MSB-first) -> output bit bits-1-2i
        val = val.bitwiseOR(
            F.shiftrightunsigned(xb, nlon - 1 - i).bitwiseAND(F.lit(1))
            * F.lit(1 << (bits - 1 - 2 * i)))
    for j in range(nlat):  # lat bit j -> output bit bits-2-2j
        val = val.bitwiseOR(
            F.shiftrightunsigned(yb, nlat - 1 - j).bitwiseAND(F.lit(1))
            * F.lit(1 << (bits - 2 - 2 * j)))
    chars = [
        F.substr(F.lit(_BASE32),
                 (F.shiftrightunsigned(val, 5 * (nchars - 1 - c))
                  .bitwiseAND(F.lit(31)) + 1).cast("int"), F.lit(1))
        for c in range(nchars)]
    return F.concat(*chars)
