"""Mixed-filter planning: an (E)CQL-style filter algebra over spatial,
temporal, and attribute predicates, compiled into (a) sargable pruning
predicates on the cell / epoch-week partition columns and (b) the exact
residual refine.

Reference semantics (re-derived, not ported):
- per-attribute geometry extraction with AND -> intersection and
  OR -> union, whole-world and disjoint shortcuts
  (/root/reference/geomesa-filter/src/main/scala/org/locationtech/
  geomesa/filter/FilterHelper.scala:44-135),
- interval extraction with inclusivity handling (FilterHelper.scala:147-187),
- filter splitting into primary (index-prunable) + secondary (residual)
  parts, OR handled as a union of disjoint plans
  (/root/reference/geomesa-index-api/.../planning/FilterSplitter.scala:61-181),
- full-table-scan guard (planning/guard/FullTableScanQueryGuard.scala).

The cover algebra runs on CELL SETS, which makes AND/OR composition exact
for pruning purposes: cover(AND) = set-intersection of child covers,
cover(OR) = set-union, an unconstrained child is the absorbing "whole
world" (None). The residual refine re-applies the FULL original filter,
so pruning only ever over-selects (the engine's exactness rule).

Rectangular spatial predicates refine with native lon/lat comparisons
(whole-stage codegen, sargable — subsuming the reference's loose-bbox
fast path with exact semantics); non-rectangular geometries refine with
the vectorized point-location kernel shared with the spatial join.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType

from geomesa_spark.cells import PARTITION_RES
from geomesa_spark.cells.z3 import WEEK_SECONDS
from geomesa_spark.geo.model import Geometry, Polygon
from geomesa_spark.plans.planner import DEFAULT_MAX_COVER, \
    cell_cover_of_geometry, int_predicate

# ---------------------------------------------------------------- filter AST


@dataclass(frozen=True)
class Spatial:
    """Spatial predicate vs the row's point geometry: ``op(geom, point)``
    for contains/covers, ``op(point, geom)`` for within; intersects/
    disjoint/touches are symmetric."""
    geom: Geometry
    op: str = "intersects"  # intersects|contains|covers|within|disjoint|touches


@dataclass(frozen=True)
class Time:
    """Time interval predicate on the row timestamp; ISO strings (UTC) or
    epoch seconds; None = open bound. Inclusivity per bound."""
    lo: object = None
    hi: object = None
    lo_inc: bool = True
    hi_inc: bool = True


@dataclass(frozen=True)
class Attr:
    """Attribute comparison — the reference's pushdown-convertible set
    (SparkUtils.sparkFilterToCQLFilter:100-118)."""
    column: str
    op: str  # = != < <= > >= in starts_with ends_with contains
    value: object


@dataclass(frozen=True)
class And:
    parts: tuple = field(default_factory=tuple)


@dataclass(frozen=True)
class Or:
    parts: tuple = field(default_factory=tuple)


@dataclass(frozen=True)
class Not:
    part: object = None


def and_(*parts) -> And:
    return And(tuple(parts))


def or_(*parts) -> Or:
    return Or(tuple(parts))


def not_(part) -> Not:
    return Not(part)


def bbox(x0: float, y0: float, x1: float, y1: float,
         op: str = "intersects") -> Spatial:
    return Spatial(Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                            [x0, y0]]), op)


# ----------------------------------------------------------- normalization

def _push_not(f, negate: bool = False):
    """De Morgan: push negations onto the leaves (CNF/DNF-free — the
    cover algebra composes AND/OR directly)."""
    if isinstance(f, Not):
        return _push_not(f.part, not negate)
    if isinstance(f, And):
        parts = tuple(_push_not(p, negate) for p in f.parts)
        return Or(parts) if negate else And(parts)
    if isinstance(f, Or):
        parts = tuple(_push_not(p, negate) for p in f.parts)
        return And(parts) if negate else Or(parts)
    return Not(f) if negate else f


# ------------------------------------------------------- cover extraction

def extract_cover(f, *, res: int = PARTITION_RES,
                  max_cells: int = DEFAULT_MAX_COVER) -> np.ndarray | None:
    """Cell set that may satisfy ``f``; None = unconstrained (whole world).
    AND -> intersection, OR -> union (None absorbing), negated/attribute/
    time leaves -> unconstrained. Never under-selects."""
    f = _push_not(f)
    return _cover(f, res, max_cells)


def _cover(f, res, max_cells):
    if isinstance(f, Spatial):
        if f.op in ("disjoint", "touches"):
            # complement/boundary predicates don't bound the scan
            return None
        return cell_cover_of_geometry(f.geom, res=res, max_cells=max_cells)
    if isinstance(f, And):
        acc = None
        for p in f.parts:
            c = _cover(p, res, max_cells)
            if c is None:
                continue
            acc = c if acc is None else np.intersect1d(acc, c)
        return acc
    if isinstance(f, Or):
        acc = np.empty(0, dtype=np.int64)
        for p in f.parts:
            c = _cover(p, res, max_cells)
            if c is None:
                return None  # one unconstrained branch -> whole world
            acc = np.union1d(acc, c)
        return acc
    return None  # Time / Attr / Not(leaf): no spatial bound


# ---------------------------------------------------- interval extraction

def _to_epoch_s(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    d = _dt.datetime.fromisoformat(str(v))
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return d.timestamp()


def extract_weeks(f) -> set[int] | None:
    """Epoch-week set that may satisfy ``f``; None = unconstrained.
    Same AND/OR algebra as the cover (interval extraction semantics of
    FilterHelper.scala:147-187, conservative on open bounds)."""
    f = _push_not(f)
    return _weeks(f)


def _weeks(f) -> set[int] | None:
    if isinstance(f, Time):
        if f.lo is None or f.hi is None:
            return None  # open interval: unbounded week set
        w0 = int(_to_epoch_s(f.lo) // WEEK_SECONDS)
        w1 = int(_to_epoch_s(f.hi) // WEEK_SECONDS)
        return set(range(w0, w1 + 1))
    if isinstance(f, And):
        acc = None
        for p in f.parts:
            w = _weeks(p)
            if w is None:
                continue
            acc = w if acc is None else (acc & w)
        return acc
    if isinstance(f, Or):
        acc: set[int] = set()
        for p in f.parts:
            w = _weeks(p)
            if w is None:
                return None
            acc |= w
        return acc
    return None


# --------------------------------------------------------- residual refine

def _as_rect(geom: Geometry):
    """(x0, y0, x1, y1) when ``geom`` is a proper axis-aligned rectangle,
    else None. Delegates to the spatial join's ``_is_axis_rect`` — ONE
    classifier guards every rect fast path: the vertex-SET check this
    used to apply admitted a self-intersecting "bowtie" traversal of the
    four corners, whose interior is two triangles, not the envelope
    (the exact same defect fixed in the join in round 5, batch 1)."""
    from geomesa_spark.operators.join import _is_axis_rect
    return geom.bounds() if _is_axis_rect(geom) else None


def _rect_column(op: str, rect, lon: Column, lat: Column) -> Column:
    x0, y0, x1, y1 = rect
    inside = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
    onb = ((((lon == x0) | (lon == x1)) & (lat >= y0) & (lat <= y1))
           | (((lat == y0) | (lat == y1)) & (lon >= x0) & (lon <= x1)))
    if op in ("contains", "within"):
        return inside
    if op in ("covers", "intersects"):
        return inside | onb
    if op == "disjoint":
        return ~(inside | onb)
    if op == "touches":
        return onb
    raise ValueError(f"unknown spatial op {op!r}")


def _geom_udf(op: str, geom: Geometry):
    from geomesa_spark.geo import io as gio
    from geomesa_spark.operators.join import locate_points_in_geometry
    blob = gio.to_wkb(geom)

    @F.pandas_udf(BooleanType())
    def pred(lon: pd.Series, lat: pd.Series) -> pd.Series:
        g = gio.from_wkb(blob)
        loc = locate_points_in_geometry(lon.to_numpy(np.float64),
                                        lat.to_numpy(np.float64), g)
        if op in ("contains", "within"):
            res = loc == 1
        elif op in ("covers", "intersects"):
            res = loc >= 0
        elif op == "disjoint":
            res = loc == -1
        elif op == "touches":
            res = loc == 0
        else:
            raise ValueError(f"unknown spatial op {op!r}")
        return pd.Series(res)
    return pred


def to_refine_column(f, *, lon: str = "lon", lat: str = "lat",
                     ts: str = "ts", loose_bbox: bool = False,
                     _positive: bool = True) -> Column:
    """The EXACT filter as a Spark Column (the secondary filter of the
    reference's FilterStrategy). Rect spatial predicates compile to
    native comparisons; attribute/time predicates are native and sargable
    (Catalyst pushes them to the parquet scan).

    ``loose_bbox=True`` reproduces the reference's loose-bbox mode
    (Z2IndexKeySpace.useFullFilter:126-138): POSITIVE rectangular
    containment predicates skip their exact refine entirely — the result
    is the cover's superset, the user's explicit opt-in. Negated
    positions never loosen (dropping a refine under NOT would
    under-select)."""
    if isinstance(f, Spatial):
        rect = _as_rect(f.geom)
        lo_c, la_c = F.col(lon), F.col(lat)
        if rect is not None:
            if loose_bbox and _positive and f.op in (
                    "intersects", "covers", "contains", "within"):
                return F.lit(True)
            return _rect_column(f.op, rect, lo_c, la_c)
        return _geom_udf(f.op, f.geom)(lo_c, la_c)
    if isinstance(f, Time):
        t = F.col(ts).cast("timestamp").cast("double")
        cond = F.lit(True)
        if f.lo is not None:
            lo_s = _to_epoch_s(f.lo)
            cond = cond & ((t >= lo_s) if f.lo_inc else (t > lo_s))
        if f.hi is not None:
            hi_s = _to_epoch_s(f.hi)
            cond = cond & ((t <= hi_s) if f.hi_inc else (t < hi_s))
        return cond
    if isinstance(f, Attr):
        c = F.col(f.column)
        ops = {"=": c == f.value, "!=": c != f.value, "<": c < f.value,
               "<=": c <= f.value, ">": c > f.value, ">=": c >= f.value}
        if f.op in ops:
            return ops[f.op]
        if f.op == "in":
            return c.isin(list(f.value))
        if f.op == "starts_with":
            return c.startswith(str(f.value))
        if f.op == "ends_with":
            return c.endswith(str(f.value))
        if f.op == "contains":
            return c.contains(str(f.value))
        raise ValueError(f"unknown attribute op {f.op!r}")
    kw = dict(lon=lon, lat=lat, ts=ts, loose_bbox=loose_bbox)
    if isinstance(f, And):
        col = F.lit(True)
        for p in f.parts:
            col = col & to_refine_column(p, _positive=_positive, **kw)
        return col
    if isinstance(f, Or):
        col = F.lit(False)
        for p in f.parts:
            col = col | to_refine_column(p, _positive=_positive, **kw)
        return col
    if isinstance(f, Not):
        return ~to_refine_column(f.part, _positive=not _positive, **kw)
    raise TypeError(f"not a filter node: {f!r}")


# ------------------------------------------------------------------ planner

def plan_query(df: DataFrame, f, *, cell_col: str = "cell_prefix",
               week_col: str | None = None,
               lon: str = "lon", lat: str = "lat", ts: str = "ts",
               res: int = PARTITION_RES,
               max_cells: int = DEFAULT_MAX_COVER,
               allow_full_scan: bool = False,
               loose_bbox: bool = False) -> DataFrame:
    """Plan a mixed filter: partition pruning (cell cover + epoch weeks)
    prepended, exact refine appended — the FilterSplitter primary/
    secondary split as one declarative Spark plan.

    The guard refuses filters with NO prunable constraint at all (no
    spatial bound, no closed time interval, no attribute predicate)
    unless ``allow_full_scan`` (FullTableScanQueryGuard semantics)."""
    cover = extract_cover(f, res=res, max_cells=max_cells)
    weeks = extract_weeks(f) if week_col else None
    if cover is None and weeks is None and not _has_attr(f) \
            and not allow_full_scan:
        raise ValueError(
            "filter has no prunable constraint; pass allow_full_scan=True "
            "to permit a full-table scan")
    out = df
    if cover is not None:
        if len(cover) == 0:
            return out.where(F.lit(False))  # disjoint short-circuit
        out = out.where(int_predicate(cell_col, cover.tolist()))
    if week_col and weeks is not None:
        if not weeks:
            return out.where(F.lit(False))
        out = out.where(int_predicate(week_col, sorted(weeks)))
    return out.where(to_refine_column(f, lon=lon, lat=lat, ts=ts,
                                      loose_bbox=loose_bbox))


def _has_attr(f) -> bool:
    """True iff a POSITIVE attribute predicate is AND-reachable. An Attr
    under a negation, or inside an OR alongside unconstrained branches,
    cannot narrow the scan, so it does not satisfy the full-table-scan
    guard."""
    def visit(node, positive):
        if isinstance(node, Attr):
            return positive
        if isinstance(node, And):
            return any(visit(p, positive) for p in node.parts)
        if isinstance(node, Or):
            # a disjunction bounds the scan only if EVERY branch does
            return all(visit(p, positive) for p in node.parts)
        if isinstance(node, Not):
            return visit(node.part, not positive)
        return False
    return visit(_push_not(f), True)
