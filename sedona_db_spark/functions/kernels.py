"""Arrow-batched pandas-UDF kernels for every ST_* scalar function.

This is the Spark-side equivalent of the reference's kernel crates
(/root/reference/rust/sedona-functions/src/register.rs:39-121,
/root/reference/c/sedona-geos/src/register.rs:41-98).  Each SQL name becomes
a vectorized `pandas_udf`: geometry travels as WKB bytes (BinaryType), the
kernel decodes with numpy, computes, re-encodes.

Scale design:
- Everything is Arrow-batched (spark.sql.execution.arrow.* on): one
  Python call per ~64k rows, not per row.
- Uniform 2-D point batches take a pure-numpy fast path (no per-row WKB
  parse) — the common case for the TPC-H-ish derived point columns and the
  reference's point benchmark tables.
- No kernel ever touches the driver: all are executor-side, so the same
  code runs identically on a 1000-executor cluster.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import core, wkt as wktmod
from sedona_db_spark.geom.core import Geom, make_point

# ----------------------------------------------------------------------
# decode/encode helpers
# ----------------------------------------------------------------------

def _decode(s: pd.Series) -> list:
    """WKB series -> list[Geom | None]."""
    return [None if b is None else core.from_wkb(b) for b in s]


def _fast_points(s: pd.Series):
    """(n,2) float array if batch is all 21-byte 2D points, else None.

    No pre-scan for nulls: the O(n) python ``any()`` generator cost half
    the parse time; a None in the batch raises TypeError inside the
    C-level join and lands in the same fallback."""
    vals = s.to_numpy(dtype=object)
    try:
        return core.wkb_array_to_points(vals)
    except Exception:
        return None


def _fast_ragged(s: pd.Series, base):
    """Ragged (coords, counts) when the batch is uniform LE 2-D single-part
    geometries of `base` type, else None.  See core.wkb_batch_ragged."""
    vals = s.to_numpy(dtype=object)
    if any(v is None for v in vals):
        return None
    try:
        return core.wkb_batch_ragged(list(vals), base)
    except Exception:
        return None


def _unary(fn, out_null=None):
    def run(s: pd.Series) -> pd.Series:
        out = [out_null if g is None else fn(g) for g in _decode(s)]
        return pd.Series(out, dtype=object)
    return run


def _unary_geom(fn):
    def run(s: pd.Series) -> pd.Series:
        out = []
        for g in _decode(s):
            if g is None:
                out.append(None)
            else:
                r = fn(g)
                out.append(None if r is None else core.to_wkb(r))
        return pd.Series(out, dtype=object)
    return run


def _binary(fn):
    def run(s1: pd.Series, s2: pd.Series) -> pd.Series:
        g1s, g2s = _decode_cached(s1), _decode_cached(s2)
        return pd.Series(
            [None if (a is None or b is None) else fn(a, b) for a, b in zip(g1s, g2s)],
            dtype=object)
    return run


def _decode_cached(s: pd.Series) -> list:
    """Decode with per-batch memoization — pair joins repeat the same WKB
    (e.g. 25 polygons against 150k points); decode each distinct once."""
    cache: dict = {}
    out = []
    for b in s:
        if b is None:
            out.append(None)
            continue
        g = cache.get(b)
        if g is None:
            g = core.from_wkb(b)
            cache[b] = g
        out.append(g)
    return out


# position-threshold per predicate for the vectorized polygon-vs-points
# fast path: (needs_flip, min_position) where position: 1 in, 0 bdry, -1 out
_PT_POLY_PRED = {
    # predicate(poly, point)
    "contains": (False, 1), "covers": (False, 0), "intersects": (False, 0),
    # predicate(point, poly)
    "within": (True, 1), "covered_by": (True, 0),
}


def _pred_fast(name: str):
    """Vectorized predicate when one side is uniform 2-D points and the
    other has few distinct polygon WKBs (the spatial-join shape)."""
    from sedona_db_spark.geom import algorithms as alg2

    flip_needed, min_pos = _PT_POLY_PRED[name]

    def run(s1: pd.Series, s2: pd.Series) -> pd.Series:
        poly_s, pt_s = (s2, s1) if flip_needed else (s1, s2)
        pts = _fast_points(pt_s)
        if pts is not None:
            # one C-speed factorize pass instead of a Python equality scan
            # per distinct polygon (the spatial-join shape: few polygons
            # against many points)
            codes, uniques = pd.factorize(poly_s)
            if len(uniques) <= 64 and not (codes < 0).any():
                cache = []
                good = True
                for b in uniques:
                    g = core.from_wkb(b)
                    if (g.dimension() != 2 or list(g.lines()) or list(g.points())
                            or not list(g.polygons())):
                        good = False
                        break
                    cache.append(g)
                if good:
                    res = np.empty(len(pt_s), dtype=bool)
                    for k, g in enumerate(cache):
                        mask = codes == k
                        pos = alg2.points_position_batch(pts[mask], g)
                        res[mask] = pos >= min_pos
                    return pd.Series(res)
        # general path
        from sedona_db_spark.geom import algorithms as alg
        fn = getattr(alg, name)
        g1s, g2s = _decode_cached(s1), _decode_cached(s2)
        return pd.Series(
            [None if (a is None or b is None) else bool(fn(a, b))
             for a, b in zip(g1s, g2s)], dtype=object)
    return run


def _coerce(series_or_scalar, n):
    if isinstance(series_or_scalar, pd.Series):
        return series_or_scalar
    return pd.Series([series_or_scalar] * n)


# ----------------------------------------------------------------------
# constructors
# ----------------------------------------------------------------------

def k_geomfromwkt(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            out.append(core.to_wkb(wktmod.from_wkt(v)))
    return pd.Series(out, dtype=object)


def k_geomfromwkb(s: pd.Series) -> pd.Series:
    # validate + normalize EWKB -> ISO WKB (reference st_geomfromwkb.rs)
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            out.append(core.to_wkb(core.from_wkb(v)))
    return pd.Series(out, dtype=object)


def k_point(xs: pd.Series, ys: pd.Series) -> pd.Series:
    x = xs.to_numpy(dtype=np.float64)
    y = ys.to_numpy(dtype=np.float64)
    mask = np.isnan(x) | np.isnan(y)
    arr = core.points_to_wkb_array(x, y)
    if mask.any():
        arr = arr.copy()
        arr[mask] = None
    return pd.Series(arr, dtype=object)


def k_pointz(xs, ys, zs) -> pd.Series:
    n = len(xs)
    out = []
    for i in range(n):
        x, y, z = xs.iloc[i], ys.iloc[i], zs.iloc[i]
        if x is None or y is None or z is None:
            out.append(None)
        else:
            out.append(core.to_wkb(make_point(float(x), float(y), float(z))))
    return pd.Series(out, dtype=object)


def k_makeenvelope(x0, y0, x1, y1) -> pd.Series:
    # a NULL double arrives as NaN, so NaN corners give NULL like
    # k_point's (a NaN-cornered polygon is neither NULL nor a box)
    n = len(x0)
    out = []
    for i in range(n):
        a, b, c, d = x0.iloc[i], y0.iloc[i], x1.iloc[i], y1.iloc[i]
        if any(v is None or v != v for v in (a, b, c, d)):
            out.append(None)
        else:
            out.append(core.to_wkb(alg.box_polygon(float(a), float(b), float(c), float(d))))
    return pd.Series(out, dtype=object)


def k_makeline_agg(points: pd.Series) -> pd.Series:
    """array<binary> of point WKBs -> LINESTRING."""
    out = []
    for arr in points:
        if arr is None:
            out.append(None)
            continue
        coords = []
        for b in arr:
            if b is None:
                continue
            g = core.from_wkb(bytes(b))
            if g.data is not None:
                coords.append(g.data[:2])
        if len(coords) < 2:
            out.append(None)
        else:
            out.append(core.to_wkb(Geom(core.LINESTRING, np.array(coords))))
    return pd.Series(out, dtype=object)


def k_astext(s: pd.Series) -> pd.Series:
    return pd.Series([None if g is None else wktmod.to_wkt(g) for g in _decode(s)], dtype=object)


def k_asgeojson(s: pd.Series) -> pd.Series:
    import json

    def gj(g: Geom):
        if g.gt == core.POINT:
            return {"type": "Point", "coordinates": [] if g.data is None else list(map(float, g.data[:2]))}
        if g.gt == core.LINESTRING:
            return {"type": "LineString", "coordinates": [list(map(float, c[:2])) for c in g.data]}
        if g.gt == core.POLYGON:
            return {"type": "Polygon", "coordinates": [[list(map(float, c[:2])) for c in r] for r in g.data]}
        if g.gt == core.MULTIPOINT:
            return {"type": "MultiPoint", "coordinates": [list(map(float, p[:2])) for p in g.data if p is not None]}
        if g.gt == core.MULTILINESTRING:
            return {"type": "MultiLineString", "coordinates": [[list(map(float, c[:2])) for c in l] for l in g.data]}
        if g.gt == core.MULTIPOLYGON:
            return {"type": "MultiPolygon", "coordinates": [[[list(map(float, c[:2])) for c in r] for r in p] for p in g.data]}
        return {"type": "GeometryCollection", "geometries": [gj(s_) for s_ in g.data]}

    # compact separators: the reference's writer emits no whitespace
    # (python/sedonadb tests pin '{"type":"Point","coordinates":[1.5,2.5]}')
    return pd.Series(
        [None if g is None else json.dumps(gj(g), separators=(",", ":"))
         for g in _decode(s)], dtype=object)


# ----------------------------------------------------------------------
# accessors (with point fast paths)
# ----------------------------------------------------------------------

def k_x(s: pd.Series) -> pd.Series:
    pts = _fast_points(s)
    if pts is not None:
        return pd.Series(pts[:, 0])
    return pd.Series(
        [None if g is None or g.gt != core.POINT or g.data is None else float(g.data[0])
         for g in _decode(s)], dtype=object)


def k_y(s: pd.Series) -> pd.Series:
    pts = _fast_points(s)
    if pts is not None:
        return pd.Series(pts[:, 1])
    return pd.Series(
        [None if g is None or g.gt != core.POINT or g.data is None else float(g.data[1])
         for g in _decode(s)], dtype=object)


def _fast_bounds(s: pd.Series):
    """(xmin, ymin, xmax, ymax) column arrays via the ragged fast path,
    or None.  Points degenerate to their own coordinate."""
    pts = _fast_points(s)
    if pts is not None:
        return pts[:, 0], pts[:, 1], pts[:, 0], pts[:, 1]
    for base in (core.POLYGON, core.LINESTRING):
        r = _fast_ragged(s, base)
        if r is not None:
            return core.ragged_bounds(*r)
    return None


def _minmax(idx, op):
    def run(s: pd.Series) -> pd.Series:
        fb = _fast_bounds(s)
        if fb is not None:
            return pd.Series(fb[idx if op == "min" else idx + 2])
        out = []
        for g in _decode(s):
            b = None if g is None else alg.bounds(g)
            if b is None:
                out.append(None)
            else:
                out.append(b[idx] if op == "min" else b[idx + 2])
        return pd.Series(out, dtype=object)
    return run


k_xmin = _minmax(0, "min")
k_ymin = _minmax(1, "min")
k_xmax = _minmax(0, "max")
k_ymax = _minmax(1, "max")


# ----------------------------------------------------------------------
# predicates / measures with point-point fast paths
# ----------------------------------------------------------------------

def _pts_vs_areal_distance(s1: pd.Series, s2: pd.Series):
    """Vectorized distances when one side is uniform points and the other
    has few distinct areal WKBs (the distance-join shape), else None."""
    p1, p2 = _fast_points(s1), _fast_points(s2)
    if p1 is not None and p2 is not None:
        return np.hypot(p1[:, 0] - p2[:, 0], p1[:, 1] - p2[:, 1])
    if p1 is None and p2 is None:
        return None
    pts, poly_s = (p1, s2) if p1 is not None else (p2, s1)
    codes, uniques = pd.factorize(poly_s)
    if not (0 < len(uniques) <= 2048) or (codes < 0).any():
        return None
    geoms = [core.from_wkb(u) for u in uniques]
    if not all(g.dimension() == 2 and not list(g.lines())
               and not list(g.points()) and list(g.polygons())
               for g in geoms):
        return None
    out = np.empty(len(codes))
    for kdx, g in enumerate(geoms):
        m = codes == kdx
        out[m] = alg.points_to_polygon_distance_batch(pts[m], g)
    return out


def _pts_vs_lines_distance(s1: pd.Series, s2: pd.Series):
    """Vectorized distances when one side is uniform points and the
    other uniform single-part LINESTRINGs (the trajectory/road shape):
    ragged batch decode (core.wkb_batch_ragged — zero per-row Python
    objects) + one point-to-segment kernel over every segment of every
    row, min-reduced per row.  None when shapes don't match."""
    p1, p2 = _fast_points(s1), _fast_points(s2)
    if (p1 is None) == (p2 is None):
        return None
    pts, line_s = (p1, s2) if p1 is not None else (p2, s1)
    r = _fast_ragged(line_s, core.LINESTRING)
    if r is None:
        return None
    coords, counts = r
    nseg = counts - 1
    if np.any(nseg < 1):
        return None
    row_of_seg = np.repeat(np.arange(len(counts)), nseg)
    ends = np.cumsum(counts)
    keep = np.ones(len(coords) - 1, dtype=bool)
    keep[ends[:-1] - 1] = False          # drop inter-row phantom segments
    A = coords[:-1][keep]
    B = coords[1:][keep]
    P = pts[row_of_seg]
    AB = B - A
    AP = P - A
    denom = np.einsum("ij,ij->i", AB, AB)
    t = np.clip(np.divide(np.einsum("ij,ij->i", AP, AB),
                          np.where(denom > 0, denom, 1.0)), 0.0, 1.0)
    C = A + t[:, None] * AB
    d = np.hypot(P[:, 0] - C[:, 0], P[:, 1] - C[:, 1])
    starts = np.cumsum(nseg) - nseg
    return np.minimum.reduceat(d, starts)


def k_distance(s1: pd.Series, s2: pd.Series) -> pd.Series:
    fast = _pts_vs_areal_distance(s1, s2)
    if fast is not None:
        return pd.Series(fast)
    fast = _pts_vs_lines_distance(s1, s2)
    if fast is not None:
        return pd.Series(fast)
    return _binary(alg.distance)(s1, s2)


def k_dwithin(s1: pd.Series, s2: pd.Series, d) -> pd.Series:
    dv = _coerce(d, len(s1)).to_numpy(dtype=np.float64)
    fast = _pts_vs_areal_distance(s1, s2)
    if fast is not None:
        # same boundary tolerance as the scalar path (algorithms.dwithin
        # r <= d + _EPS) — the two paths must agree at exact radii
        if np.isnan(dv).any():   # NULL distance propagates as NULL
            out = pd.Series(list(fast <= dv + 1e-12), dtype=object)
            out[np.isnan(dv)] = None
            return out
        return pd.Series(fast <= dv + 1e-12)
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series(
        [None if (a is None or b is None or np.isnan(dv[i]))
         else alg.dwithin(a, b, dv[i])
         for i, (a, b) in enumerate(zip(g1s, g2s))], dtype=object)


def k_azimuth(s1: pd.Series, s2: pd.Series) -> pd.Series:
    p1, p2 = _fast_points(s1), _fast_points(s2)
    if p1 is not None and p2 is not None:
        dx = p2[:, 0] - p1[:, 0]
        dy = p2[:, 1] - p1[:, 1]
        az = np.arctan2(dx, dy)
        az = np.where(az < 0, az + 2 * np.pi, az)
        out = pd.Series(az, dtype=object)
        # coincident points: azimuth undefined -> NULL (GEOS errors;
        # python/sedonadb test_st_azimuth pins None)
        out[(dx == 0) & (dy == 0)] = None
        return out

    def one(a: Geom, b: Geom):
        if a.gt != core.POINT or b.gt != core.POINT or a.data is None or b.data is None:
            return None
        if a.data[0] == b.data[0] and a.data[1] == b.data[1]:
            return None
        v = math.atan2(b.data[0] - a.data[0], b.data[1] - a.data[1])
        return v + 2 * math.pi if v < 0 else v
    return _binary(one)(s1, s2)


# ----------------------------------------------------------------------
# kernel registry: name -> (callable, spark return type, n_geom_args)
# ----------------------------------------------------------------------

BIN = T.BinaryType()
DBL = T.DoubleType()
BOOL = T.BooleanType()
STR = T.StringType()
INT = T.IntegerType()

_GEOM_T = BIN


def _pred(fn):
    return _binary(lambda a, b: bool(fn(a, b)))


def _geom_n(g: Geom, n):
    parts = g.geometries()
    if n is None or n < 1 or n > len(parts):
        return None
    return parts[int(n) - 1]


def k_geometryn(s: pd.Series, ns: pd.Series) -> pd.Series:
    gs = _decode(s)
    nv = _coerce(ns, len(s))
    out = []
    for g, n in zip(gs, nv):
        if g is None or n is None:
            out.append(None)
        else:
            r = _geom_n(g, int(n))
            out.append(None if r is None else core.to_wkb(r))
    return pd.Series(out, dtype=object)


def k_pointn(s: pd.Series, ns: pd.Series) -> pd.Series:
    gs = _decode(s)
    nv = _coerce(ns, len(s))
    out = []
    for g, n in zip(gs, nv):
        if g is None or n is None or g.gt != core.LINESTRING:
            out.append(None)
            continue
        n = int(n)
        ln = len(g.data)
        if n < 0:
            n = ln + n + 1
        if n < 1 or n > ln:
            out.append(None)
        else:
            c = g.data[n - 1]
            out.append(core.to_wkb(Geom(core.POINT, c, g.has_z, g.has_m)))
    return pd.Series(out, dtype=object)


def _with_scalar(fn_geom_scalar, encode=True):
    """kernel for (geom, numeric scalar/col) -> geom or value."""
    def run(s: pd.Series, v) -> pd.Series:
        gs = _decode(s)
        vv = _coerce(v, len(s))
        out = []
        for g, x in zip(gs, vv):
            if g is None or x is None:
                out.append(None)
                continue
            r = fn_geom_scalar(g, float(x))
            if encode and r is not None:
                r = core.to_wkb(r)
            out.append(r)
        return pd.Series(out, dtype=object)
    return run


def k_translate(s, dx, dy):
    gs = _decode(s)
    n = len(s)
    dxv, dyv = _coerce(dx, n), _coerce(dy, n)
    out = []
    for g, a, b in zip(gs, dxv, dyv):
        if g is None or a is None or b is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg.translate(g, float(a), float(b))))
    return pd.Series(out, dtype=object)


def k_scale(s, sx, sy):
    gs = _decode(s)
    n = len(s)
    sxv, syv = _coerce(sx, n), _coerce(sy, n)
    out = []
    for g, a, b in zip(gs, sxv, syv):
        if g is None or a is None or b is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg.scale(g, float(a), float(b))))
    return pd.Series(out, dtype=object)


def k_rotate(s, theta):
    return _with_scalar(lambda g, t: alg.rotate(g, t))(s, theta)


def k_linesubstring(s, f0, f1):
    gs = _decode(s)
    n = len(s)
    a0, a1 = _coerce(f0, n), _coerce(f1, n)
    out = []
    for g, x0, x1 in zip(gs, a0, a1):
        if g is None or x0 is None or x1 is None or g.gt != core.LINESTRING \
                or len(g.data) == 0:
            out.append(None)   # empty line -> NULL (python/sedonadb)
            continue
        arr = alg.line_substring_full(g.data, float(x0), float(x1))
        if len(arr) == 1:
            # degenerate span (start == end or zero-length line) -> POINT
            out.append(core.to_wkb(Geom(core.POINT, arr[0],
                                        g.has_z, g.has_m)))
        else:
            out.append(core.to_wkb(Geom(core.LINESTRING, arr,
                                        g.has_z, g.has_m)))
    return pd.Series(out, dtype=object)


def k_lineinterpolate(s, f):
    def one(g, frac):
        if g.gt != core.LINESTRING or len(g.data) == 0:
            return None
        p = alg.line_interpolate_point(g.data, frac)
        return make_point(float(p[0]), float(p[1]))
    return _with_scalar(one)(s, f)


def k_linelocate(s, pt_s):
    def one(g, p):
        if g.gt != core.LINESTRING:
            raise ValueError(
                "ST_LineLocatePoint requires a LineString input, got "
                + g.st_type_name())
        if len(g.data) == 0 or p.gt != core.POINT or p.data is None:
            return None   # empty line/point -> NULL (reference test)
        return alg.line_locate_point(g.data, p.data)
    return _binary(one)(s, pt_s)


def k_buffer(s, d):
    return _with_scalar(lambda g, dist: alg.buffer(g, dist))(s, d)


def k_simplify(s, tol):
    return _with_scalar(lambda g, t: alg.simplify(g, t))(s, tol)


def k_simplify_topo(s, tol):
    return _with_scalar(lambda g, t: alg.simplify(g, t, preserve=True))(s, tol)


def k_reduceprecision(s, grid):
    def one(g, gs):
        if gs <= 0:
            return g
        inv = 1.0 / gs
        snapped = alg.transform_coords(g, lambda xy: np.round(xy * inv) / inv)
        # GEOS rebuilds areal output through overlay: consecutive
        # duplicates collapse and shells emit CW / holes CCW
        def clean(gg: Geom) -> Geom:
            if gg.has_z or gg.has_m:
                return gg   # xy-grid cleanup only (dedup slices 2-D)
            if gg.gt == core.POLYGON:
                rings = []
                for i, r in enumerate(gg.data):
                    rr = alg._dedup_consecutive(r)
                    if len(rr) and not alg._close(rr[0], rr[-1]):
                        rr = np.vstack([rr, rr[:1]])
                    if len(rr) < 4 or abs(alg._ring_area2(rr)) <= 1e-12:
                        continue
                    ccw = alg._ring_area2(rr) > 0
                    want_ccw = i > 0
                    rings.append(rr[::-1] if ccw != want_ccw else rr)
                return Geom(core.POLYGON, rings)
            if gg.gt == core.MULTIPOLYGON:
                parts = [clean(Geom(core.POLYGON, list(p))).data
                         for p in gg.data]
                return Geom(core.MULTIPOLYGON, [p for p in parts if p])
            if gg.gt == core.GEOMETRYCOLLECTION:
                return Geom(core.GEOMETRYCOLLECTION,
                            [clean(x) for x in gg.data])
            return gg
        return clean(snapped)
    return _with_scalar(one)(s, grid)


def k_segmentize(s, ml):
    return _with_scalar(lambda g, m: alg.segmentize(g, m))(s, ml)


def k_setsrid(s, srid):
    gs = _decode(s)
    vv = _coerce(srid, len(s))
    out = []
    for g, v in zip(gs, vv):
        if g is None or v is None:
            out.append(None)
        else:
            out.append(core.to_wkb(g, srid=int(v)))
    return pd.Series(out, dtype=object)


def k_srid(s):
    return pd.Series([None if g is None else int(g.srid) for g in _decode(s)], dtype=object)


def k_force2d(s):
    def one(g):
        def drop(arr):
            return None if arr is None else np.asarray(arr)[..., :2]
        out = alg.transform_coords(g, lambda xy: xy)
        # rebuild without z/m

        def strip(gg: Geom) -> Geom:
            if gg.gt == core.POINT:
                return Geom(core.POINT, drop(gg.data))
            if gg.gt == core.LINESTRING:
                return Geom(core.LINESTRING, drop(gg.data))
            if gg.gt == core.POLYGON:
                return Geom(core.POLYGON, [drop(r) for r in gg.data])
            if gg.gt == core.MULTIPOINT:
                return Geom(core.MULTIPOINT, [drop(p) for p in gg.data])
            if gg.gt == core.MULTILINESTRING:
                return Geom(core.MULTILINESTRING, [drop(l) for l in gg.data])
            if gg.gt == core.MULTIPOLYGON:
                return Geom(core.MULTIPOLYGON, [[drop(r) for r in p] for p in gg.data])
            return Geom(core.GEOMETRYCOLLECTION, [strip(x) for x in gg.data])
        return strip(out)
    return _unary_geom(one)(s)


def k_isvalidreason(s):
    def one(g):
        r = alg.invalid_reason(g)
        return "Valid Geometry" if r is None else r
    return _unary(one)(s)


def _has_dim_deep(g: Geom, which: str) -> bool:
    flag = g.has_z if which == "z" else g.has_m
    if flag:
        return True
    if g.gt == core.GEOMETRYCOLLECTION:
        return any(_has_dim_deep(sub, which) for sub in g.data)
    return False


def _first_vertex_point(g: Geom):
    """First coordinate of the first non-empty part, dims preserved."""
    if g.gt == core.GEOMETRYCOLLECTION:
        for sub in g.data:
            p = _first_vertex_point(sub)
            if p is not None:
                return p
        return None
    if g.is_empty():
        return None
    if g.gt == core.POINT:
        return g
    if g.gt == core.LINESTRING:
        return Geom(core.POINT, g.data[0], g.has_z, g.has_m)
    if g.gt == core.POLYGON:
        return Geom(core.POINT, g.data[0][0], g.has_z, g.has_m)
    if g.gt == core.MULTIPOINT:
        for p in g.data:
            if p is not None:
                return Geom(core.POINT, p, g.has_z, g.has_m)
        return None
    if g.gt == core.MULTILINESTRING:
        for l in g.data:
            if len(l):
                return Geom(core.POINT, l[0], g.has_z, g.has_m)
        return None
    if g.gt == core.MULTIPOLYGON:
        for p in g.data:
            if p and len(p[0]):
                return Geom(core.POINT, p[0][0], g.has_z, g.has_m)
    return None


def k_area(s: pd.Series) -> pd.Series:
    r = _fast_ragged(s, core.POLYGON)
    if r is not None:
        area, _, _ = core.ragged_ring_area_centroid(*r)
        return pd.Series(area)
    return _unary(alg.area)(s)


def k_length_fast(s: pd.Series) -> pd.Series:
    r = _fast_ragged(s, core.LINESTRING)
    if r is not None:
        return pd.Series(core.ragged_length(*r))
    return _unary(alg.length)(s)


def k_perimeter_fast(s: pd.Series) -> pd.Series:
    r = _fast_ragged(s, core.POLYGON)
    if r is not None:
        return pd.Series(core.ragged_length(*r))
    return _unary(alg.perimeter)(s)


def k_centroid(s):
    def one(g):
        c = alg.centroid(g)
        if c is None:
            return Geom(core.POINT, None)
        return make_point(c[0], c[1])

    r = _fast_ragged(s, core.POLYGON)
    if r is not None:
        area, cx, cy = core.ragged_ring_area_centroid(*r)
        out = pd.Series(core.points_to_wkb_array(cx, cy), dtype=object)
        # zero-area (degenerate) rings: the shoelace centroid is undefined,
        # and falling back to the first vertex diverges from the per-row
        # path (alg.centroid = PostGIS length-weighted semantics).  Route
        # exactly those rows through the slow path so results don't depend
        # on batch composition.
        zero = np.flatnonzero(area == 0.0)
        if len(zero):
            slow = _unary_geom(one)(
                s.iloc[zero].reset_index(drop=True))
            out.iloc[zero] = slow.to_numpy(dtype=object)
        return out
    return _unary_geom(one)(s)


def k_envelope(s: pd.Series) -> pd.Series:
    for base in (core.POLYGON, core.LINESTRING):
        r = _fast_ragged(s, base)
        if r is not None:
            x0, y0, x1, y1 = core.ragged_bounds(*r)
            nondegen = (x0 != x1) & (y0 != y1)
            if np.all(nondegen):
                return pd.Series(list(core.boxes_to_wkb_array(x0, y0, x1, y1)),
                                 dtype=object)
            break  # degenerate boxes need the point/line special cases
    return _unary_geom(alg.envelope)(s)


def k_numgeometries(s):
    return _unary(lambda g: 0 if g.is_empty() else len(g.geometries()))(s)


def k_npoints(s):
    for base in (core.POLYGON, core.LINESTRING):
        r = _fast_ragged(s, base)
        if r is not None:
            return pd.Series(r[1].astype(np.int64))
    return _unary(lambda g: int(len(g.all_coords())))(s)


def _orient_cw(g: Geom) -> Geom:
    """Clockwise shell for a single polygon (GEOS output convention at
    the SQL surface); non-polygons pass through."""
    if g is not None and g.gt == core.POLYGON and len(g.data) \
            and alg._ring_area2(g.data[0]) > 0:
        return Geom(core.POLYGON, [g.data[0][::-1]] + list(g.data[1:]),
                    g.has_z, g.has_m)
    return g


def k_boundary(s):
    def one(g: Geom):
        # dimension flags propagate everywhere: boundary coordinates are
        # slices of the input arrays, so a Z/M input needs Z/M headers
        # (mismatched flags emit corrupt WKB — r11 review finding)
        z, m = g.has_z, g.has_m
        if g.gt == core.POLYGON:
            if len(g.data) == 1:
                return Geom(core.LINESTRING, g.data[0], z, m)
            return Geom(core.MULTILINESTRING, list(g.data), z, m)
        if g.gt == core.LINESTRING:
            if len(g.data) == 0 or alg._close(g.data[0], g.data[-1]):
                return Geom(core.MULTIPOINT, [], z, m)
            return Geom(core.MULTIPOINT, [g.data[0], g.data[-1]], z, m)
        if g.gt == core.MULTILINESTRING:
            # mod-2 rule (OGC/GEOS): boundary points are the component
            # endpoints that occur an ODD number of times; closed
            # components contribute nothing (reference
            # c/sedona-geos/src/st_boundary.rs test)
            counts: dict = {}
            for l in g.data:
                if len(l) == 0 or alg._close(l[0], l[-1]):
                    continue
                for p in (l[0], l[-1]):
                    key = (round(float(p[0]), 12), round(float(p[1]), 12))
                    counts[key] = counts.get(key, [0, p])
                    counts[key][0] += 1
            pts = [v[1] for v in counts.values() if v[0] % 2 == 1]
            return Geom(core.MULTIPOINT, pts, z, m)
        if g.gt == core.MULTIPOLYGON:
            rings = [r for p in g.data for r in p]
            return Geom(core.MULTILINESTRING, rings, z, m)
        if g.gt == core.GEOMETRYCOLLECTION:
            # GEOS groups the flattened member boundaries by dimension:
            # every lineal member's endpoints (deep, member order) into
            # ONE MULTIPOINT, every areal ring into one lineal part;
            # a single class is returned bare (python/sedonadb
            # tests/functions/test_functions.py::test_st_boundary)
            pts, rings = [], []

            def walk(gg: Geom):
                if gg.gt == core.GEOMETRYCOLLECTION:
                    for sub in gg.data:
                        walk(sub)
                    return
                b = one(gg)
                if b.gt == core.MULTIPOINT:
                    pts.extend(list(b.data))
                elif b.gt == core.LINESTRING:
                    rings.append(b.data)
                elif b.gt == core.MULTILINESTRING:
                    rings.extend(list(b.data))
            walk(g)
            lineal = None
            if len(rings) == 1:
                lineal = Geom(core.LINESTRING, rings[0], z, m)
            elif rings:
                lineal = Geom(core.MULTILINESTRING, rings, z, m)
            if pts and lineal is not None:
                return Geom(core.GEOMETRYCOLLECTION,
                            [Geom(core.MULTIPOINT, pts, z, m), lineal],
                            z, m)
            if lineal is not None:
                return lineal
            if pts:
                return Geom(core.MULTIPOINT, pts, z, m)
            return Geom(core.GEOMETRYCOLLECTION, [])
        return Geom(core.GEOMETRYCOLLECTION, [])
    return _unary_geom(one)(s)


def _tag_geog(res: pd.Series) -> pd.Series:
    """Mark constructor output as geography (spherical edges) by setting
    the internal type-word tag — same-name functions dispatch on it
    (reference Edges::Spherical, c/sedona-s2geography/src/kernels.rs:38)."""
    return pd.Series([None if b is None else core.set_geog_wkb(b)
                      for b in res], dtype=object)


# registry consumed by register_sql_functions -------------------------------
# name -> (python kernel, return type, arg spec string)
# arg spec: 'g' geometry, 'd' double, 'i' int, 's' string, 'a' array<binary>
KERNELS: dict[str, tuple] = {
    # constructors
    "ST_GeomFromWKT": (k_geomfromwkt, BIN, "s"),
    "ST_GeomFromText": (k_geomfromwkt, BIN, "s"),
    "ST_GeogFromWKT": (lambda s: _tag_geog(k_geomfromwkt(s)), BIN, "s"),
    "ST_GeomFromEWKT": (k_geomfromwkt, BIN, "s"),
    "ST_PointFromText": (k_geomfromwkt, BIN, "s"),
    "ST_LineFromText": (k_geomfromwkt, BIN, "s"),
    "ST_PolygonFromText": (k_geomfromwkt, BIN, "s"),
    "ST_GeomFromWKB": (k_geomfromwkb, BIN, "g"),
    "ST_GeomFromEWKB": (k_geomfromwkb, BIN, "g"),
    "ST_GeogFromWKB": (lambda s: _tag_geog(k_geomfromwkb(s)), BIN, "g"),
    "ST_Point": (k_point, BIN, "dd"),
    "ST_MakePoint": (k_point, BIN, "dd"),
    "ST_GeogPoint": (lambda x, y: _tag_geog(k_point(x, y)), BIN, "dd"),
    "ST_PointZ": (k_pointz, BIN, "ddd"),
    "ST_MakeEnvelope": (k_makeenvelope, BIN, "dddd"),
    "ST_MakeLine": (k_makeline_agg, BIN, "a"),
    "ST_AsText": (k_astext, STR, "g"),
    "ST_AsEWKT": (k_astext, STR, "g"),
    # strip the internal geography tag (and, for ISO WKB, the srid) on
    # export so downstream consumers see standard bytes
    "ST_AsBinary": (lambda s: pd.Series(
        [None if b is None else
         (core.to_wkb(core.from_wkb(bytes(b)), srid=0, spherical=False)
          if (len(b) > 4 and ((b[4] if b[0] == 1 else b[1]) & 0x30))
          else b) for b in s], dtype=object), BIN, "g"),
    "ST_AsEWKB": (lambda s: pd.Series(
        [None if b is None else
         (core.clear_geog_wkb(b) if core.is_geog_wkb(b) else b)
         for b in s], dtype=object), BIN, "g"),
    "ST_AsGeoJSON": (k_asgeojson, STR, "g"),
    # accessors
    "ST_X": (k_x, DBL, "g"),
    "ST_Y": (k_y, DBL, "g"),
    "ST_XMin": (k_xmin, DBL, "g"),
    "ST_YMin": (k_ymin, DBL, "g"),
    "ST_XMax": (k_xmax, DBL, "g"),
    "ST_YMax": (k_ymax, DBL, "g"),
    "ST_Envelope": (k_envelope, BIN, "g"),
    "ST_Dimension": (_unary(lambda g: int(g.dimension())), INT, "g"),
    "ST_GeometryType": (_unary(lambda g: g.st_type_name()), STR, "g"),
    "ST_IsEmpty": (_unary(lambda g: bool(g.is_empty())), BOOL, "g"),
    "ST_IsClosed": (_unary(lambda g: bool(alg.is_closed(g))), BOOL, "g"),
    "ST_IsCollection": (_unary(lambda g: g.gt in (4, 5, 6, 7)), BOOL, "g"),
    # deep: an untagged collection holding a Z/M member reports True
    # (python/sedonadb tests pin GEOMETRYCOLLECTION (POINT Z ...))
    "ST_HasZ": (_unary(lambda g: _has_dim_deep(g, "z")), BOOL, "g"),
    "ST_HasM": (_unary(lambda g: _has_dim_deep(g, "m")), BOOL, "g"),
    "ST_NumGeometries": (k_numgeometries, INT, "g"),
    "ST_GeometryN": (k_geometryn, BIN, "gi"),
    "ST_PointN": (k_pointn, BIN, "gi"),
    # first vertex of ANY geometry, deep through collections (the
    # reference returns POINT (1 2) for ST_StartPoint('POINT (1 2)') and
    # walks nested collections; empty -> NULL)
    "ST_StartPoint": (_unary_geom(_first_vertex_point), BIN, "g"),
    "ST_EndPoint": (
        _unary_geom(lambda g: Geom(core.POINT, g.data[-1], g.has_z, g.has_m)
                    if g.gt == core.LINESTRING and len(g.data) else None), BIN, "g"),
    "ST_NPoints": (k_npoints, INT, "g"),
    "ST_NumPoints": (k_npoints, INT, "g"),
    "ST_NRings": (_unary(lambda g: sum(1 for _ in g.rings())), INT, "g"),
    "ST_NumInteriorRings": (
        _unary(lambda g: max(0, len(g.data) - 1) if g.gt == core.POLYGON else None), INT, "g"),
    "ST_ExteriorRing": (
        _unary_geom(lambda g: (Geom(core.LINESTRING,
                                    g.data[0] if g.data else
                                    np.zeros((0, g.ndim)),
                                    g.has_z, g.has_m)
                    if g.gt == core.POLYGON else None)), BIN, "g"),
    "ST_InteriorRingN": (
        lambda s, n: pd.Series(
            [None if g is None or nn is None or g.gt != core.POLYGON or int(nn) >= len(g.data) or int(nn) < 1
             else core.to_wkb(Geom(core.LINESTRING, g.data[int(nn)], g.has_z, g.has_m))
             for g, nn in zip(_decode(s), _coerce(n, len(s)))], dtype=object), BIN, "gi"),
    "ST_Boundary": (k_boundary, BIN, "g"),
    "ST_SRID": (k_srid, INT, "g"),
    "ST_SetSRID": (k_setsrid, BIN, "gi"),
    # predicates (contains/within family gets the vectorized
    # polygon-vs-points fast path)
    "ST_Intersects": (_pred_fast("intersects"), BOOL, "gg"),
    "ST_Contains": (_pred_fast("contains"), BOOL, "gg"),
    "ST_Within": (_pred_fast("within"), BOOL, "gg"),
    "ST_Covers": (_pred_fast("covers"), BOOL, "gg"),
    "ST_CoveredBy": (_pred_fast("covered_by"), BOOL, "gg"),
    "ST_Touches": (_pred(alg.touches), BOOL, "gg"),
    "ST_Crosses": (_pred(alg.crosses), BOOL, "gg"),
    "ST_Overlaps": (_pred(alg.overlaps), BOOL, "gg"),
    "ST_Equals": (_pred(alg.equals), BOOL, "gg"),
    "ST_Disjoint": (_pred(alg.disjoint), BOOL, "gg"),
    "ST_DWithin": (k_dwithin, BOOL, "ggd"),
    # measures
    "ST_Area": (k_area, DBL, "g"),
    "ST_Length": (k_length_fast, DBL, "g"),
    "ST_Perimeter": (k_perimeter_fast, DBL, "g"),
    "ST_Distance": (k_distance, DBL, "gg"),
    "ST_MaxDistance": (_binary(alg.max_distance), DBL, "gg"),
    "ST_HausdorffDistance": (_binary(alg.hausdorff), DBL, "gg"),
    "ST_Azimuth": (k_azimuth, DBL, "gg"),
    # editors / transforms
    "ST_Buffer": (k_buffer, BIN, "gd"),
    "ST_Centroid": (k_centroid, BIN, "g"),
    # shell emitted CLOCKWISE at the SQL boundary — GEOS convention,
    # pinned by the reference's own test (c/sedona-geos/src/
    # st_convexhull.rs expects POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0)));
    # internal consumers (concave hull etc.) keep alg.convex_hull's CCW
    "ST_ConvexHull": (_unary_geom(
        lambda g: _orient_cw(alg.convex_hull(g))), BIN, "g"),
    "ST_Simplify": (k_simplify, BIN, "gd"),
    "ST_SimplifyPreserveTopology": (k_simplify_topo, BIN, "gd"),
    "ST_Reverse": (_unary_geom(alg.reverse), BIN, "g"),
    "ST_FlipCoordinates": (_unary_geom(alg.flip_coordinates), BIN, "g"),
    "ST_Translate": (k_translate, BIN, "gdd"),
    "ST_Scale": (k_scale, BIN, "gdd"),
    "ST_Rotate": (k_rotate, BIN, "gd"),
    "ST_Segmentize": (k_segmentize, BIN, "gd"),
    "ST_ReducePrecision": (k_reduceprecision, BIN, "gd"),
    "ST_LineSubstring": (k_linesubstring, BIN, "gdd"),
    "ST_LineInterpolatePoint": (k_lineinterpolate, BIN, "gd"),
    "ST_LineLocatePoint": (k_linelocate, DBL, "gg"),
    "ST_Force2D": (k_force2d, BIN, "g"),
    "ST_MakeValid": (_unary_geom(alg.make_valid), BIN, "g"),
    # validity
    "ST_IsValid": (_unary(lambda g: bool(alg.is_valid(g))), BOOL, "g"),
    "ST_IsValidReason": (k_isvalidreason, STR, "g"),
    "ST_IsSimple": (_unary(lambda g: bool(alg.is_simple(g))), BOOL, "g"),
    "ST_IsRing": (
        _unary(lambda g: bool(g.gt == core.LINESTRING and alg.is_closed(g) and alg.is_simple(g))),
        BOOL, "g"),
    # overlay (subset — see algorithms.intersection docstring)
    "ST_Intersection": (
        _binary(lambda a, b: core.to_wkb(alg.intersection(a, b))), BIN, "gg"),
}


# ----------------------------------------------------------------------
# second wave: dump/points, overlay-subset, nearest, sphere distance
# ----------------------------------------------------------------------

DUMP_T = T.ArrayType(T.StructType([
    T.StructField("geom", T.BinaryType()),
    T.StructField("path", T.ArrayType(T.IntegerType())),
]))


def k_dump(s: pd.Series) -> pd.Series:
    """array<struct{geom, path}> (reference st_dump.rs shape: path is the
    1-based index chain through nested collections); pair with explode()."""
    def walk(g, prefix, acc):
        if g.gt in (core.MULTIPOINT, core.MULTILINESTRING,
                    core.MULTIPOLYGON, core.GEOMETRYCOLLECTION):
            for i, part in enumerate(g.geometries(), start=1):
                walk(part, prefix + [i], acc)
        else:
            acc.append({"geom": core.to_wkb(g), "path": prefix})

    out = []
    for g in _decode(s):
        if g is None:
            out.append(None)
        else:
            acc: list = []
            walk(g, [], acc)
            out.append(acc)
    return pd.Series(out, dtype=object)


def k_points(s: pd.Series) -> pd.Series:
    """Every vertex of the geometry as ONE MULTIPOINT — the reference's
    return contract (rust/sedona-functions/src/st_points.rs writes a
    multipoint header + each coordinate, dimensions preserved), NOT an
    exploded array (use ST_Dump/ST_DumpPoints for per-row points)."""
    out = []
    for g in _decode(s):
        if g is None:
            out.append(None)
        else:
            width = 2 + (1 if g.has_z else 0) + (1 if g.has_m else 0)
            coords = [c[:width] for c in g.all_coords()]
            out.append(core.to_wkb(
                Geom(core.MULTIPOINT, coords, g.has_z, g.has_m)))
    return pd.Series(out, dtype=object)


def k_makepolygon(s: pd.Series) -> pd.Series:
    def one(g: Geom):
        if g.gt != core.LINESTRING or len(g.data) < 4:
            return None
        ring = g.data
        if not alg._close(ring[0], ring[-1]):
            return None
        return Geom(core.POLYGON, [ring])
    return _unary_geom(one)(s)


def k_closestpoint(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def one(a, b):
        np_ = alg.nearest_points(a, b)
        return None if np_ is None else core.to_wkb(make_point(float(np_[0][0]), float(np_[0][1])))
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series([None if (a is None or b is None) else one(a, b)
                      for a, b in zip(g1s, g2s)], dtype=object)


def k_shortestline(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def one(a, b):
        np_ = alg.nearest_points(a, b)
        if np_ is None:
            return None
        return core.to_wkb(Geom(core.LINESTRING, np.vstack([np_[0], np_[1]])))
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series([None if (a is None or b is None) else one(a, b)
                      for a, b in zip(g1s, g2s)], dtype=object)


def k_distance_sphere(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """Great-circle distance in meters; inputs lon/lat points (vectorized
    haversine on the uniform-point fast path)."""
    p1, p2 = _fast_points(s1), _fast_points(s2)
    if p1 is not None and p2 is not None:
        R = alg._EARTH_RADIUS_M
        lon1, lat1 = np.radians(p1[:, 0]), np.radians(p1[:, 1])
        lon2, lat2 = np.radians(p2[:, 0]), np.radians(p2[:, 1])
        a = (np.sin((lat2 - lat1) / 2) ** 2
             + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2)
        return pd.Series(2 * R * np.arcsin(np.minimum(1.0, np.sqrt(a))))

    def one(a, b):
        if a.gt != core.POINT or b.gt != core.POINT or a.data is None or b.data is None:
            return None
        return alg.haversine(a.data[0], a.data[1], b.data[0], b.data[1])
    return _binary(one)(s1, s2)


def k_force3d(s: pd.Series, z) -> pd.Series:
    gs = _decode(s)
    zv = _coerce(z, len(s))
    out = []
    for g, zz in zip(gs, zv):
        if g is None:
            out.append(None)
            continue
        zz = 0.0 if zz is None else float(zz)

        def add_z(arr):
            if arr is None:
                return None
            a = np.asarray(arr, dtype=np.float64)
            if a.ndim == 1:
                return np.append(a[:2], zz)
            return np.column_stack([a[:, :2], np.full(len(a), zz)])

        def conv(gg: Geom) -> Geom:
            if gg.has_z:
                return gg
            if gg.gt == core.POINT:
                return Geom(core.POINT, add_z(gg.data), True, False)
            if gg.gt == core.LINESTRING:
                return Geom(core.LINESTRING, add_z(gg.data), True, False)
            if gg.gt == core.POLYGON:
                return Geom(core.POLYGON, [add_z(r) for r in gg.data], True, False)
            if gg.gt == core.MULTIPOINT:
                return Geom(core.MULTIPOINT, [add_z(p) for p in gg.data], True, False)
            if gg.gt == core.MULTILINESTRING:
                return Geom(core.MULTILINESTRING, [add_z(l) for l in gg.data], True, False)
            if gg.gt == core.MULTIPOLYGON:
                return Geom(core.MULTIPOLYGON, [[add_z(r) for r in p] for p in gg.data], True, False)
            return Geom(core.GEOMETRYCOLLECTION, [conv(x) for x in gg.data], True, False)
        out.append(core.to_wkb(conv(g)))
    return pd.Series(out, dtype=object)


def k_zmflag(s: pd.Series) -> pd.Series:
    return _unary(lambda g: int(_has_dim_deep(g, "z")) * 2
                  + int(_has_dim_deep(g, "m")))(s)


def k_snap(s1: pd.Series, s2: pd.Series, tol) -> pd.Series:
    g1s, g2s = _decode(s1), _decode(s2)
    tv = _coerce(tol, len(s1))
    out = []
    for a, b, t in zip(g1s, g2s, tv):
        if a is None or b is None or t is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg.snap(a, b, float(t))))
    return pd.Series(out, dtype=object)


def k_transform(s: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    """src may be the literal 'item': each value's own embedded SRID
    (EWKB, set by ST_SetSRID and preserved through every kernel) is the
    source CRS — the Spark expression of the reference's item-level CRS
    (rust/sedona-schema/src/datatypes.rs:126-155 new_item_crs).  Outputs
    are stamped with the destination EPSG code either way."""
    gs = _decode(s)
    n = len(s)
    sv, dv = _coerce(src, n), _coerce(dst, n)
    out = []
    for g, a, b in zip(gs, sv, dv):
        if g is None or a is None or b is None:
            out.append(None)
            continue
        a, b = str(a), str(b)
        if a.lower() == "item":
            if not g.srid:
                raise ValueError(
                    "ST_Transform(geom, 'item', dst): value carries no "
                    "SRID (use ST_SetSRID or pass an explicit source CRS)")
            a = f"EPSG:{g.srid}"
        res = alg.transform_crs(g, a, b)
        code = b.upper().replace("OGC:CRS84", "EPSG:4326").replace("EPSG:", "")
        if res is g:
            res = core.Geom(g.gt, g.data, g.has_z, g.has_m, g.srid,
                            g.spherical)
        res.srid = int(code) if code.isdigit() else 0
        out.append(core.to_wkb(res))
    return pd.Series(out, dtype=object)


KERNELS.update({
    "ST_Transform": (k_transform, BIN, "gss"),
    "ST_Dump": (k_dump, DUMP_T, "g"),
    "ST_Points": (k_points, BIN, "g"),
    "ST_MakePolygon": (k_makepolygon, BIN, "g"),
    "ST_ClosestPoint": (k_closestpoint, BIN, "gg"),
    "ST_ShortestLine": (k_shortestline, BIN, "gg"),
    "ST_DistanceSphere": (k_distance_sphere, DBL, "gg"),
    "ST_Force3D": (k_force3d, BIN, "gd"),
    "ST_Force3DZ": (k_force3d, BIN, "gd"),
    "ST_ZMFlag": (k_zmflag, INT, "g"),
    "ST_Snap": (k_snap, BIN, "ggd"),
    "ST_Normalize": (_unary_geom(alg.normalize), BIN, "g"),
    "ST_Union": (_binary(lambda a, b: core.to_wkb(alg.union2(a, b))), BIN, "gg"),
    "ST_Difference": (_binary(lambda a, b: core.to_wkb(alg.difference(a, b))), BIN, "gg"),
    "ST_SymDifference": (_binary(lambda a, b: core.to_wkb(alg.sym_difference(a, b))), BIN, "gg"),
    # dedupes point collections; lines/areas pass through (dissolve needs
    # boolean ops — documented subset).  Z/M re-attached from the nearest
    # input vertex: the overlay computes in 2-D but GEOS carries source
    # Z through union (python/sedonadb test_st_unaryunion_zm)
    "ST_UnaryUnion": (_unary_geom(
        lambda g: _carry_zm(g, alg.unary_union(g))), BIN, "g"),
})


def _retag_dims(g: Geom, z: bool, m: bool) -> Geom:
    """Set Z/M flags through the tree WITHOUT touching coordinates
    (members' arrays already carry the extra columns)."""
    if g.gt == core.GEOMETRYCOLLECTION:
        return Geom(core.GEOMETRYCOLLECTION,
                    [_retag_dims(s, z, m) for s in g.data], z, m)
    if g.has_z == z and g.has_m == m:
        return g
    return Geom(g.gt, g.data, z, m)


def _carry_zm(src: Geom, res):
    if res is None:
        return res
    has_z = _has_dim_deep(src, "z")
    has_m = _has_dim_deep(src, "m")
    if not (has_z or has_m):
        return res
    if _has_dim_deep(res, "z") == has_z and _has_dim_deep(res, "m") == has_m:
        # values already carry the dims; only normalize COLLECTION-level
        # flags (GEOS writes GEOMETRYCOLLECTION Z when members are Z)
        if res.has_z == has_z and res.has_m == has_m:
            return res
        return _retag_dims(res, has_z, has_m)
    verts = src.all_coords()
    if len(verts) == 0 or verts.shape[1] < 3:
        return res
    xy = verts[:, :2]
    extras = verts[:, 2:]

    def fix(arr):
        if arr is None:
            return None
        a = np.asarray(arr, dtype=np.float64)
        single = a.ndim == 1
        a2 = a.reshape(1, -1)[:, :2] if single else a[:, :2]
        d = ((a2[:, None, 0] - xy[None, :, 0]) ** 2
             + (a2[:, None, 1] - xy[None, :, 1]) ** 2)
        j = np.argmin(d, axis=1)
        out = np.column_stack([a2, extras[j]])
        return out[0] if single else out

    def walk(gg: Geom) -> Geom:
        z, m = has_z, has_m
        if gg.gt == core.POINT:
            return Geom(core.POINT, fix(gg.data), z, m)
        if gg.gt == core.LINESTRING:
            return Geom(core.LINESTRING, fix(gg.data), z, m)
        if gg.gt == core.POLYGON:
            return Geom(core.POLYGON, [fix(r) for r in gg.data], z, m)
        if gg.gt == core.MULTIPOINT:
            return Geom(core.MULTIPOINT, [fix(p) for p in gg.data], z, m)
        if gg.gt == core.MULTILINESTRING:
            return Geom(core.MULTILINESTRING, [fix(l) for l in gg.data], z, m)
        if gg.gt == core.MULTIPOLYGON:
            return Geom(core.MULTIPOLYGON,
                        [[fix(r) for r in p] for p in gg.data], z, m)
        return Geom(core.GEOMETRYCOLLECTION, [walk(x) for x in gg.data], z, m)
    return walk(res)

_SPEC_TYPE = {"g": BIN, "d": DBL, "i": T.LongType(), "s": STR,
              "a": T.ArrayType(BIN)}


def _wrap_arity(fn, n: int):
    """pandas_udf infers eval type from hints — give it explicit ones."""
    if n == 1:
        def w(c1: pd.Series) -> pd.Series:
            return fn(c1)
    elif n == 2:
        def w(c1: pd.Series, c2: pd.Series) -> pd.Series:
            return fn(c1, c2)
    elif n == 3:
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series) -> pd.Series:
            return fn(c1, c2, c3)
    elif n == 4:
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series) -> pd.Series:
            return fn(c1, c2, c3, c4)
    elif n == 5:
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series,
              c5: pd.Series) -> pd.Series:
            return fn(c1, c2, c3, c4, c5)
    elif n == 6:
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series,
              c5: pd.Series, c6: pd.Series) -> pd.Series:
            return fn(c1, c2, c3, c4, c5, c6)
    elif n == 7:
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series,
              c5: pd.Series, c6: pd.Series, c7: pd.Series) -> pd.Series:
            return fn(c1, c2, c3, c4, c5, c6, c7)
    elif n == 13:  # ST_Affine 3-D form (geom + 12 matrix params)
        def w(c1: pd.Series, c2: pd.Series, c3: pd.Series, c4: pd.Series,
              c5: pd.Series, c6: pd.Series, c7: pd.Series, c8: pd.Series,
              c9: pd.Series, c10: pd.Series, c11: pd.Series, c12: pd.Series,
              c13: pd.Series) -> pd.Series:
            return fn(c1, c2, c3, c4, c5, c6, c7, c8, c9, c10, c11, c12, c13)
    else:
        raise ValueError(f"unsupported arity {n}")
    return w


def make_pandas_udf(name: str):
    fn, ret, spec = KERNELS[name]
    return F.pandas_udf(_wrap_arity(fn, len(spec)), returnType=ret)
