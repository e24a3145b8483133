"""Geography (spherical) distance join.

Reference parity: the reference registers a dedicated S2-based geography
join planner after the default spatial planner
(/root/reference/rust/sedona/src/context.rs:163-172,
 rust/sedona-spatial-join-geography/).  This is the Spark-first
equivalent for point/point ST_DWithin(geography) joins:

- equal-angle grid partitioning: build side maps to ONE cell
  (floor(lon/c), floor(lat/c)); probe side explodes to the cell range
  covering a geodesic radius, with latitude-aware longitude padding
  (1° of longitude shrinks by cos(lat); bands at the pole wrap fully)
- candidates meet in ONE shuffle (equi-join on the cell id — Spark's
  hash join machinery, AQE-eligible)
- exact haversine refine runs as a native codegen expression

No Python rows anywhere — the whole plan is JVM-side, so it scales with
the cluster like any equi-join.  Longitude cells are modular (pmod over
the cell count) so antimeridian-crossing pairs are found.  Near the
poles the lon pad uses the TRUE band latitude (a band at the pole wraps
every longitude — the former fixed-latitude clamp under-padded the
88..90 band and dropped pairs), and probe rows in the polar sliver —
where that pad approaches full wrap on a radius-derived fine grid —
take a bounded cross-join branch against the build rows that can reach
the polar band instead of exploding to thousands of lon cells.  A
production variant could switch the cell id to hierarchical S2 cells
to shrink the remaining fan.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sedona_db_spark.operators.result_cache import stats_memo

R_EARTH_M = 6371008.8                       # IUGG mean radius
M_PER_DEG = math.pi * R_EARTH_M / 180.0     # meridian meters per degree


def lon_pad_deg_col(band_lat_deg: Column, r_ang: "float | Column") -> Column:
    """Worst-case |Δlon| in degrees between two points within
    great-circle angle ``r_ang`` when the band's max |lat| (degrees) is
    the given column: 2·asin(sin(r/2)/cos(L)) — the planar r/cos(L)
    underestimates near the poles and drops band-edge pairs.  The band
    is capped at 90 (cos -> ~6e-17, arg past 1 -> 180° full wrap); a
    fixed sub-90 clamp under-pads the polar band (round-9 review, fixed
    here AND in knn round B — shared so the next tweak lands once)."""
    wl = F.radians(F.least(band_lat_deg, F.lit(90.0)))
    sin_half = (F.sin(r_ang / 2.0) if isinstance(r_ang, Column)
                else F.lit(math.sin(r_ang / 2.0)))
    arg = sin_half / F.cos(wl)
    return F.when(arg >= 1.0, F.lit(180.0)) \
            .otherwise(F.degrees(2.0 * F.asin(arg)))


def haversine_m(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in meters (native column expression)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = (rl2 - rl1) / 2.0
    dlon = (F.radians(lon2) - F.radians(lon1)) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + \
        F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    return 2.0 * R_EARTH_M * F.asin(F.sqrt(a))


def geography_dwithin_join(build: DataFrame, probe: DataFrame,
                           dist_m: float,
                           build_lon: str = "lon", build_lat: str = "lat",
                           probe_lon: str = "lon", probe_lat: str = "lat"
                           ) -> DataFrame:
    """Inner join of `build` × `probe` on great-circle distance ≤ dist_m.

    Pass the SMALLER side as `build` (it stays one-row-per-cell; the
    probe side fans out to its covering cells).  Returns all columns of
    both inputs plus `geo_dist_m`."""
    cell = dist_m / M_PER_DEG                   # grid step in degrees (lat)
    ncx = int(math.ceil(360.0 / cell))          # lon cells wrap modulo ncx
    # exact-tiling longitude step: ncx * lon_cell == 360 exactly, so
    # floor((lon+180)/lon_cell) % ncx is seam-consistent.  With the raw
    # `cell` step, ncx*cell - 360 can approach a full cell and raw indices
    # pmod'd by ncx misalign across the antimeridian, silently dropping
    # cross-seam pairs.
    lon_cell = 360.0 / ncx
    b = build.withColumn("_cx", F.pmod(
                 F.floor((F.col(build_lon) + 180.0) / lon_cell), F.lit(ncx))) \
             .withColumn("_cy", F.floor(F.col(build_lat) / cell))
    lat, lon = F.col(probe_lat), F.col(probe_lon)
    lat_pad = F.lit(cell)
    r = dist_m / R_EARTH_M
    lon_pad = lon_pad_deg_col(F.abs(lat) + lat_pad, r)
    # modular lon cells handle the antimeridian: a circle near ±180°
    # covers cells on both sides; array_distinct guards the full-wrap
    # case (lon_pad = 180°) from emitting a cell twice
    lo_c = F.floor((lon + 180.0 - lon_pad) / lon_cell)
    hi_c = F.floor((lon + 180.0 + lon_pad) / lon_cell)
    # full wrap never needs more than ncx cells
    hi_c = F.least(hi_c, lo_c + F.lit(ncx - 1))
    # polar fan-out bound (round-9 review): with a tiny radius the grid
    # is very fine (ncx ~ 360/cell_deg), and a near-pole row's lon pad
    # approaches full wrap — exploding it to up to ncx cells is a silent
    # multi-GB shuffle.  Rows whose fan would exceed the cap take a
    # separate POLAR branch instead: at those latitudes every longitude
    # is a genuine candidate anyway, so the correct candidate set is the
    # cross product with the build rows that can reach the polar band
    # (|blat| >= band_cut - pad) — bounded by the polar populations,
    # which any plan must pair up.
    fan_cap = 8192
    polar_cond = F.lit(False)
    has_polar = False                     # gate the union branch (ADVICE
    band_cut = 91.0                       # r9: cos_cut>=1 left a dead
    if ncx > fan_cap:                     # always-empty crossJoin node)
        # lon_pad > X  <=>  cos(band) < sin(r/2)/sin(X/2), band = |lat|+pad
        x_half = math.radians(min(fan_cap * lon_cell / 2.0, 179.9)) / 2.0
        cos_cut = math.sin(r / 2.0) / math.sin(x_half)
        if cos_cut < 1.0:
            band_cut = math.degrees(math.acos(cos_cut))
            polar_cond = (F.abs(lat) + lat_pad) >= F.lit(band_cut)
            has_polar = True
    cxs = F.array_distinct(F.transform(
        F.sequence(lo_c, hi_c),
        lambda x: F.pmod(x, F.lit(ncx))))
    p = (probe.filter(~polar_cond)
         .withColumn("_cy", F.explode(F.sequence(
             F.floor((lat - lat_pad) / cell), F.floor((lat + lat_pad) / cell))))
         .withColumn("_cx", F.explode(cxs)))
    joined = p.join(b, ["_cx", "_cy"])
    d = haversine_m(F.col(build_lat), F.col(build_lon),
                    F.col(probe_lat), F.col(probe_lon))
    out = joined.where(d <= F.lit(float(dist_m))) \
                .withColumn("geo_dist_m", d) \
                .drop("_cx", "_cy")
    if has_polar:
        # a build match can sit lat_pad below the LOWEST polar probe
        # (which is itself at band_cut - lat_pad): reach down a full
        # 2*lat_pad, not one — one pad dropped boundary pairs the old
        # grid path found (round-9 review, pass 3)
        reach = F.abs(F.col(build_lat)) >= (F.lit(band_cut) - 2.0 * lat_pad)
        polar = (probe.filter(polar_cond)
                 .crossJoin(build.filter(reach))
                 .where(d <= F.lit(float(dist_m)))
                 .withColumn("geo_dist_m", d))
        # positional union: both branches lay out probe cols, build
        # cols, geo_dist_m in that order, and duplicate column NAMES
        # across the two inputs are legal join output (unionByName or
        # select-by-name would reject them)
        out = out.union(polar)
    return out


# ======================================================================
# Geography RELATION joins (round 9): spherical cell-cover candidate
# join + exact dispatched-kernel refine, for ANY geography geometry
# type.  Reference parity: the dedicated S2-based geography join
# planner for relation predicates
# (/root/reference/rust/sedona-spatial-join-geography/src,
#  registered rust/sedona/src/context.rs:163-172).  Spark-first shape:
#
# - each geography maps to the set of equal-angle lat/lon grid cells
#   covering its FULL spherical extent (per-edge great-circle latitude
#   bulge computed exactly from the circle normal; short-way longitude
#   intervals — longitude is monotonic along a minor arc, since a
#   minor arc (<180 deg) cannot contain both antipodal crossings of a
#   meridian plane; pole-through edges and pole-containing polygons
#   extend to the pole and wrap all longitudes)
# - candidates meet in ONE hash equi-join on the cell id (modular
#   longitude cells, antimeridian-safe); a pair sharing several cells
#   is kept only in the SMALLEST shared cell (native array_intersect /
#   array_min filter) so output multiplicity is exact
# - the refine is the SAME per-row kernel vanilla SQL dispatches for
#   tagged values, so boundary semantics are bit-identical by
#   construction
#
# An equal-angle grid (not the planar join's quantile grid) is the v1
# choice because modular longitude cells must tile the circle exactly
# for antimeridian pairs; a production lever is S2-style hierarchical
# cells for skewed data.
# ======================================================================

_RELATION_SQL = {
    "intersects": "ST_Intersects", "contains": "ST_Contains",
    "within": "ST_Within", "covers": "ST_Covers",
    "covered_by": "ST_CoveredBy", "coveredby": "ST_CoveredBy",
    "touches": "ST_Touches", "crosses": "ST_Crosses",
    "overlaps": "ST_Overlaps", "equals": "ST_Equals",
}


def _edge_lat_lon(lon1, lat1, lon2, lat2, acc):
    """Accumulate one great-circle edge's lat bounds / lon intervals /
    pole flags into `acc` (dict with lat_lo, lat_hi, ivals, n_pole,
    s_pole).  All degrees."""
    lo, hi = min(lat1, lat2), max(lat1, lat2)
    # pole endpoint: the arc runs along the other endpoint's meridian
    if abs(lat1) >= 90.0 - 1e-9 or abs(lat2) >= 90.0 - 1e-9:
        if lat1 >= 90.0 - 1e-9 or lat2 >= 90.0 - 1e-9:
            acc["n_pole"] = True
            hi = 90.0
        if lat1 <= -90.0 + 1e-9 or lat2 <= -90.0 + 1e-9:
            acc["s_pole"] = True
            lo = -90.0
        acc["lat_lo"] = min(acc["lat_lo"], lo)
        acc["lat_hi"] = max(acc["lat_hi"], hi)
        non_pole = [(la, ln) for la, ln in ((lat1, lon1), (lat2, lon2))
                    if abs(la) < 90.0 - 1e-9]
        for _la, ln in non_pole:
            acc["ivals"].append((ln, ln))
        if not non_pole:
            # pole-to-pole arc: the endpoints are antipodal and the
            # meridian is ambiguous (any great circle through both
            # poles fits) — cover every longitude; the exact refine
            # pays for the over-cover, a miss would drop pairs
            # (round-9 review)
            acc["ivals"].append((-180.0, 180.0))
        return
    d = (lon2 - lon1 + 180.0) % 360.0 - 180.0    # signed short-way delta
    if abs(abs(d) - 180.0) <= 1e-9:
        # meridian-pair arc through a pole (or antipodal ambiguity):
        # cover both meridians and both reachable poles — a small
        # overcount the exact refine pays for, never a miss
        acc["n_pole"] = True
        acc["s_pole"] = True
        acc["lat_lo"], acc["lat_hi"] = -90.0, 90.0
        acc["ivals"].append((lon1, lon1))
        acc["ivals"].append((lon2, lon2))
        return
    # latitude bulge: the great circle's vertex may exceed endpoint lats
    from sedona_db_spark.geom.sphere import xyz_of
    ab = xyz_of(np.array([[lon1, lat1], [lon2, lat2]]))
    a, b = ab[0], ab[1]
    n = np.cross(a, b)
    nn = float(np.linalg.norm(n))
    if nn > 1e-15:
        nu = n / nn
        s = float(np.hypot(nu[0], nu[1]))        # max |sin(lat)| on circle
        if s > 1e-15:
            zhat = np.array([0.0, 0.0, 1.0])
            pmax = zhat - nu[2] * nu
            pmax = pmax / np.linalg.norm(pmax)
            vlat = float(np.degrees(np.arcsin(min(s, 1.0))))
            # tolerant on-minor-arc tests (inflating the cover is safe)
            if (float(np.dot(np.cross(a, pmax), n)) >= -1e-12
                    and float(np.dot(np.cross(pmax, b), n)) >= -1e-12):
                hi = max(hi, vlat)
            pmin = -pmax
            if (float(np.dot(np.cross(a, pmin), n)) >= -1e-12
                    and float(np.dot(np.cross(pmin, b), n)) >= -1e-12):
                lo = min(lo, -vlat)
    acc["lat_lo"] = min(acc["lat_lo"], lo)
    acc["lat_hi"] = max(acc["lat_hi"], hi)
    acc["ivals"].append((lon1, lon1 + d) if d >= 0 else (lon1 + d, lon1))


def spherical_cover(g):
    """Lat/lon cover of a geography Geom with great-circle edges:
    ``(lat_lo, lat_hi, lon_intervals, full_wrap, n_pole, s_pole)`` or
    None for an empty geometry.  Intervals are (start, end) degrees
    with end >= start (unwrapped; rasterization wraps modulo the cell
    count).  The cover CONTAINS the geometry's full spherical extent —
    interiors included: for a polygon containing neither pole, every
    interior point shares a longitude with a boundary point and lies
    between boundary latitudes (its meridian must cross the boundary
    both ways), and pole-containing polygons wrap all longitudes."""
    acc = {"lat_lo": float("inf"), "lat_hi": float("-inf"),
           "ivals": [], "n_pole": False, "s_pole": False}
    full_wrap = False
    seen = False
    for p in g.points():
        seen = True
        lon, lat = float(p[0]), float(p[1])
        acc["lat_lo"] = min(acc["lat_lo"], lat)
        acc["lat_hi"] = max(acc["lat_hi"], lat)
        if abs(lat) >= 90.0 - 1e-9:
            acc["n_pole" if lat > 0 else "s_pole"] = True
        else:
            acc["ivals"].append((lon, lon))

    def chain(coords):
        V = np.asarray(coords, dtype=np.float64)
        for i in range(len(V) - 1):
            _edge_lat_lon(float(V[i][0]), float(V[i][1]),
                          float(V[i + 1][0]), float(V[i + 1][1]), acc)

    for line in g.lines():
        if len(line) == 0:
            continue
        seen = True
        if len(line) == 1:
            acc["ivals"].append((float(line[0][0]), float(line[0][0])))
            acc["lat_lo"] = min(acc["lat_lo"], float(line[0][1]))
            acc["lat_hi"] = max(acc["lat_hi"], float(line[0][1]))
        chain(line)
    for rings in g.polygons():
        closed = []
        for r in rings:
            if len(r) == 0:
                continue
            seen = True
            V = np.asarray(r, dtype=np.float64)[:, :2]
            if len(V) > 1 and not np.array_equal(V[0], V[-1]):
                V = np.vstack([V, V[:1]])
            chain(V)
            closed.append(V)
        if closed:
            # pole containment: interior reaching a pole wraps all lons
            from sedona_db_spark.geom.sphere import (classify_point_poly,
                                                     xyz_of)
            rings_xyz = [xyz_of(V) for V in closed]
            if classify_point_poly(np.array([0.0, 0.0, 1.0]),
                                   rings_xyz) >= 0:
                acc["n_pole"] = True
                acc["lat_hi"] = 90.0
                full_wrap = True
            if classify_point_poly(np.array([0.0, 0.0, -1.0]),
                                   rings_xyz) >= 0:
                acc["s_pole"] = True
                acc["lat_lo"] = -90.0
                full_wrap = True
    if not seen:
        return None
    return (acc["lat_lo"], acc["lat_hi"], acc["ivals"], full_wrap,
            acc["n_pole"], acc["s_pole"])


def _cover_cells(cover, cell_lat, lon_cell, ncx, ncy, pad_m, cap):
    """Rasterize a spherical_cover into a sorted list of cell ids
    (cy * ncx + cx).  pad_m expands the cover by a geodesic radius
    (dwithin probe side): exact latitude pad + latitude-aware
    longitude pad (same bound as geography_dwithin_join)."""
    lat_lo, lat_hi, ivals, full_wrap, n_pole, s_pole = cover
    eps = 1e-9
    if pad_m > 0.0:
        pd = pad_m / M_PER_DEG
        lat_lo, lat_hi = lat_lo - pd, lat_hi + pd
        if lat_hi >= 90.0 - eps:
            n_pole = True
        if lat_lo <= -90.0 + eps:
            s_pole = True
        # TRUE band latitude (no fixed clamp — clamping under-padded
        # the 88..90 band and dropped near-pole pairs, round-9 review);
        # a band at/through the pole wraps every longitude
        band = max(abs(lat_lo), abs(lat_hi))
        r = pad_m / R_EARTH_M
        if band >= 90.0 - eps:
            full_wrap = True
        else:
            arg = math.sin(r / 2.0) / math.cos(math.radians(band))
            if arg >= 1.0:
                full_wrap = True
            else:
                lp = math.degrees(2.0 * math.asin(arg))
                ivals = [(s - lp, e + lp) for s, e in ivals]
    lat_lo = max(lat_lo - eps, -90.0)
    lat_hi = min(lat_hi + eps, 90.0)
    cy0 = min(max(int((lat_lo + 90.0) // cell_lat), 0), ncy - 1)
    cy1 = min(max(int((lat_hi + 90.0) // cell_lat), 0), ncy - 1)
    cells = set()
    if full_wrap or any(e - s >= 360.0 - 2 * eps for s, e in ivals):
        cxs = range(ncx)
    else:
        cxs = set()
        for s, e in ivals:
            a = int(math.floor((s + 180.0 - eps) / lon_cell))
            b = int(math.floor((e + 180.0 + eps) / lon_cell))
            if b - a + 1 >= ncx:
                cxs = range(ncx)
                break
            for cx in range(a, b + 1):
                cxs.add(cx % ncx)
    for cy in range(cy0, cy1 + 1):
        base = cy * ncx
        for cx in cxs:
            cells.add(base + cx)
    # pole rows: the pole point's longitude is representation-dependent,
    # so a pole-touching geometry owns its entire polar row
    if n_pole:
        cells.update((ncy - 1) * ncx + cx for cx in range(ncx))
    if s_pole:
        cells.update(cx for cx in range(ncx))
    if len(cells) > cap:
        raise ValueError(
            f"geography relation join: one geometry covers {len(cells)} "
            f"grid cells (cap {cap}); pass a larger cell_deg to "
            "geography_relation_join for globe-scale geometries")
    return sorted(cells)


# tagged LE 2-D geography point WKB prefix: byte order 01, type word
# 0x10000001 little-endian (POINT | _SD_GEOG edge tag)
_GEOG_PT_PREFIX = bytes([0x01, 0x01, 0x00, 0x00, 0x10])


def _geog_points_fast(vals) -> "np.ndarray | None":
    """(n, 2) lon/lat if every element is a 21-byte tagged geography
    point WKB, else None (nulls/mixed batches -> None via TypeError)."""
    n = len(vals)
    if n == 0:
        return np.empty((0, 2))
    try:
        joined = b"".join(vals)
    except TypeError:
        return None
    if len(joined) != n * 21:
        return None
    raw = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
    if not np.all(raw[:, :5] == np.frombuffer(_GEOG_PT_PREFIX,
                                              dtype=np.uint8)):
        return None
    return raw[:, 5:21].copy().view("<f8").reshape(n, 2)


def _cover_cells_udf(cell_deg, pad_m=0.0, cap=200_000):
    """array<long> pandas UDF: geography WKB -> covering cell ids."""
    ncx = int(math.ceil(360.0 / cell_deg))
    lon_cell = 360.0 / ncx                  # exact tiling (seam-safe)
    ncy = int(math.ceil(180.0 / cell_deg))
    cell_lat = 180.0 / ncy

    def kern(s: pd.Series) -> pd.Series:
        from sedona_db_spark.geom import core
        vals = s.to_numpy(dtype=object)
        if pad_m == 0.0:
            # vectorized all-point batch: a point covers exactly its own
            # cell — one numpy sweep instead of 1.5M from_wkb calls (the
            # sf10 point-in-polygon join's dominant cost); near-pole
            # points (degenerate longitude) take the general path
            pts = _geog_points_fast(vals)
            if pts is not None and len(pts) and \
                    float(np.max(np.abs(pts[:, 1]))) < 90.0 - 1e-9:
                cx = (np.floor((pts[:, 0] + 180.0) / lon_cell)
                      .astype(np.int64)) % ncx
                cy = np.clip(np.floor((pts[:, 1] + 90.0) / cell_lat)
                             .astype(np.int64), 0, ncy - 1)
                ids = cy * ncx + cx
                return pd.Series([[int(v)] for v in ids], dtype=object)
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            g = core.from_wkb(bytes(v))
            if not g.spherical:
                raise ValueError(
                    "geography relation join: planar (untagged) value in "
                    "a geography-routed join past the plan-time probe; "
                    "uniform tagging is required")
            cover = spherical_cover(g)
            out.append(None if cover is None else
                       _cover_cells(cover, cell_lat, lon_cell, ncx, ncy,
                                    pad_m, cap))
        return pd.Series(out, dtype=object)

    # (Semantics-bearing flag, r11 advisor: the column must not be
    # referenced directly in join conditions or aggregates, and
    # filters over it lose pushdown — project to a named column
    # first, as current call sites do.)
    # asNondeterministic (guide §4.4): the candidate equi-join's
    # isnotnull(__gc) condition is inferred, pushed below the cell
    # explode, and rewritten against the cover projection — duplicating
    # this kernel AND its whole input chain (ST_GeogFromWKT over the
    # full probe side) into the filter: both Python passes ran twice per
    # side (measured: candidate generation 1.11 s of the clustered
    # join's 1.18 s wall at sf0.1, for 18k candidates).  The kernel is
    # pure; the flag only forbids the optimizer duplicating it.
    return F.pandas_udf(kern, returnType="array<long>").asNondeterministic()


def _probe_extent_deg(df: DataFrame, col: str, n: int = 64) -> list[float]:
    """Driver-side probe: per-geometry angular extent (max of lat span
    and cos-adjusted lon span) of the first n rows — sets the grid
    scale only, never correctness.  Memoized on the analyzed-plan
    semantic hash like the skew histogram (r11): repeated builds of the
    same join shape were paying one Spark job per side per build.

    A side the plan proves all-point (spatial_join.plan_geom_facts)
    reads nothing: every off-pole point's extent is 0, so the empty
    list gives the grid the probe would.  The one exception is a point
    at a pole among the first n rows: it covers its whole polar row,
    which the probe reads as 360 * cos(89 deg) = 6.28 deg, so the probe
    would have chosen a coarser grid."""
    from sedona_db_spark.geom import core
    from sedona_db_spark.operators.spatial_join import plan_geom_facts
    if plan_geom_facts(df, col)[1]:
        return []
    memo, remember = stats_memo("geoext", df, col, n)
    if memo is not None:
        return list(memo)
    exts = []
    for r in df.select(col).limit(n).collect():
        v = r[0]
        if v is None:
            continue
        try:
            g = core.from_wkb(bytes(v))
            cover = spherical_cover(g)
        except Exception:
            continue
        if cover is None:
            continue
        lat_lo, lat_hi, ivals, full_wrap, np_, sp_ = cover
        lon_span = 360.0 if (full_wrap or np_ or sp_) else \
            max((e - s for s, e in ivals), default=0.0)
        mid = (lat_lo + lat_hi) / 2.0
        exts.append(max(lat_hi - lat_lo,
                        lon_span * math.cos(math.radians(
                            min(abs(mid), 89.0)))))
    out = sorted(exts)
    remember(list(out))
    return out


def geography_relation_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str = "geog",
    right_geom: str = "geog",
    predicate: str = "intersects",
    distance_m: float | None = None,
    cell_deg: float | None = None,
    how: str = "inner",
    left_lonlat: tuple | None = None,
) -> DataFrame:
    """Spherical relation (or non-point dwithin) join over geography
    columns of ANY geometry type.  Output: left columns then right
    columns (collisions prefixed ``right_``), matching spatial_join.

    ``left_lonlat``: names of certified shadow coordinate columns
    ``(lon_col, lat_col)`` for the left geometry
    (certify_geog_point_view: every non-null value is a non-pole
    NaN-free tagged 2-D point whose coordinates bit-equal the
    shadows).  When given, the probe side's covering cell, skew salt
    and relation refine all compute from the stored doubles — no
    Python pass over the probe side, and the geography constructor
    prunes out of the plan when nothing else references it.  Only pass
    certificate-backed columns; the certificate's verified scan owns
    the proof.

    100 TB shape: one Python cover pass per side, ONE hash equi-join on
    cell ids, native pair dedup, exact refine only on candidates —
    never a pair explosion.  Reference:
    rust/sedona-spatial-join-geography (S2 cell-cover planner)."""
    if distance_m is None and predicate not in _RELATION_SQL:
        raise ValueError(
            f"unsupported geography join predicate {predicate!r} "
            f"(supported: {sorted(set(_RELATION_SQL))} or distance_m)")
    from sedona_db_spark.operators.spatial_join import (join_mode_from_inner,
                                                        normalize_how,
                                                        tag_row_ids)
    how_n = normalize_how(how)
    rcols = {c: (f"right_{c}" if c in left.columns else c)
             for c in right.columns}
    right_r = right.select([F.col(c).alias(a) for c, a in rcols.items()])
    g2 = rcols[right_geom]
    if how_n == "inner":
        return _geography_relation_inner(left, right_r, left_geom, g2,
                                         predicate, distance_m, cell_deg,
                                         lonlat1=left_lonlat)
    l2, lids, r2, rids = tag_row_ids(how_n, left, right_r, "__lat")
    inner = _geography_relation_inner(l2, r2, left_geom, g2, predicate,
                                      distance_m, cell_deg,
                                      lonlat1=left_lonlat)
    return join_mode_from_inner(how_n, inner, l2, lids, r2, rids)


def _skew_hot_cells(ldf: DataFrame, g1: str, cover_pad, spark) -> dict:
    """Sampled per-cell histogram of the probe side's cover cells:
    ``{cell_id: n_salts}`` for cells whose ESTIMATED row count exceeds
    the skew target (round 10, r9 verdict #6 — the equal-angle grid's
    documented production risk: clustered data puts most rows in ONE
    cell = one shuffle partition = one straggler task).

    Balance-only (a missed hot cell costs a straggler, never a row),
    so the verdict is memoized on the analyzed-plan hash like the
    planar grid edges.  Confs:

    - ``spark.sedona_db.geography_join.skew_salting``: auto (default)
      runs the 1%-sample detection only when plan stats put the probe
      side above ~256 MB OR the target was set explicitly; ``off``
      disables.
    - ``spark.sedona_db.geography_join.skew_target_rows``: rows per
      task the salting aims for (default 2,000,000)."""
    mode = str(spark.conf.get(
        "spark.sedona_db.geography_join.skew_salting", "auto")).lower()
    if mode in ("off", "false", "0"):
        return {}
    raw = spark.conf.get(
        "spark.sedona_db.geography_join.skew_target_rows", "")
    explicit = bool(str(raw).strip())
    try:
        target = int(raw)
    except (ValueError, TypeError):
        if explicit:
            # conf SET but unparseable ('2e6', '2_000_000'): a silent
            # fallback would ignore the user's tuning AND drop the
            # explicit-mode bypass of the 256MB size gate — fail loud
            # (r10 advisor)
            raise ValueError(
                "spark.sedona_db.geography_join.skew_target_rows must be "
                f"an integer row count, got {raw!r}")
        target = 2_000_000
    memo, remember = stats_memo("geoskew", ldf, g1, target)
    if memo is not None:
        return dict(memo)
    from sedona_db_spark.plans.width import planned_size_bytes
    sz = planned_size_bytes(ldf)
    if not explicit and sz is not None and sz < (256 << 20):
        return {}
    # fixed sample VOLUME, not fraction: 1% of a 100 TB probe would be
    # a terabyte-scale decode per planning — aim at ~256 MB of sampled
    # input instead (hot cells at the 2M-row target are still hundreds
    # of sampled rows there)
    frac = 0.01
    if sz is not None and sz > 0:
        frac = max(min(0.01, (256 << 20) / sz), 1e-6)
    try:
        rows = (ldf.sample(fraction=frac, seed=7)
                .withColumn("__gc", F.explode(cover_pad(F.col(g1))))
                .groupBy("__gc").count()
                .filter(F.col("count") > float(target) * frac)
                .orderBy(F.desc("count")).limit(256).collect())
    except Exception:
        return {}
    hot = {}
    for r in rows:
        est = int(r["count"] / frac)
        hot[int(r["__gc"])] = int(min(max(est // target + 1, 2), 64))
    remember(dict(hot))
    return hot


def _lonlat_refine_udf(sql_name: str):
    """Relation refine over (lon, lat, geog2): synthesizes the tagged
    point WKB from the certified shadow doubles and DELEGATES to the
    same dispatched kernel the (geog1, geog2) refine runs — verdicts
    are byte-identical by construction (the synthesized WKB equals the
    bytes the constructor produced for the same doubles)."""
    from sedona_db_spark.functions.geography import _synth_geog_points
    from sedona_db_spark.functions.kernels import KERNELS
    fn, ret, _spec = KERNELS[sql_name]

    def kern(lon: pd.Series, lat: pd.Series, s2: pd.Series) -> pd.Series:
        return fn(_synth_geog_points(lon, lat), s2)

    return F.pandas_udf(kern, returnType=ret)


def _geography_relation_inner(ldf: DataFrame, rdf_r: DataFrame, g1: str,
                              g2: str, predicate: str,
                              distance_m: float | None,
                              cell_deg: float | None,
                              lonlat1: tuple | None = None) -> DataFrame:
    """Inner-join core shared with the SQL front door (rdf_r already
    collision-renamed).  ``lonlat1``: certified shadow coordinates of
    the probe geometry (see geography_relation_join left_lonlat)."""
    from sedona_db_spark.functions import get_udf
    pad = float(distance_m) if distance_m is not None else 0.0
    if cell_deg is None:
        e1 = _probe_extent_deg(ldf, g1)
        e2 = _probe_extent_deg(rdf_r, g2)

        def p90(v):
            return v[int(len(v) * 0.9)] if v else 0.0
        # scale from the DATA: geometry extents and the search radius.
        # The 0.25-deg fallback applies ONLY when neither exists (point
        # relation joins have no natural scale) — flooring a small
        # dwithin radius at 0.25 deg made the cell ~radius*11 at 2.5 km
        # and turned a clustered 15k-point join into ~56M candidate
        # pairs (round-10 bench catch: 195 s at sf0.1; 0.9 s after).
        # Tail guard (r10 advisor): a mostly-point corpus (p90 = 0) with
        # a few large polygons must not get a radius-sized grid that
        # blows the largest polygon past the 200k-cell cover cap — also
        # floor at 1/64 of the largest SAMPLED extent.  1/64 (not the
        # cap-derived 1/447): each exploded copy of a geometry carries
        # its full cover array for the smallest-shared-cell dedup, so
        # cover size is paid QUADRATICALLY in bytes per giant geometry
        # (64^2 cells x 64^2-long arrays ~ 140 MB; at 256^2 it measured
        # 14 GB on a single continental polygon).
        mx = max(e1[-1] if e1 else 0.0, e2[-1] if e2 else 0.0)
        cell_deg = max(p90(e1), p90(e2), pad / M_PER_DEG, mx / 64.0)
        if cell_deg <= 0.0:
            cell_deg = 0.25
        cell_deg = min(cell_deg, 30.0)
    cover = _cover_cells_udf(cell_deg)
    cover_pad = _cover_cells_udf(cell_deg, pad_m=pad) if pad > 0.0 \
        else cover
    if pad > 0.0:
        lonlat1 = None        # padded covers keep the kernel path
    # probe side (left) carries the distance pad, like the point path
    if lonlat1 is not None:
        # certified-point probe (round 12): the covering cell of a
        # non-pole point is exactly its own cell — the same formula the
        # kernel's vectorized all-point branch computes, here as pure
        # codegen over the certified shadow doubles.  NULL shadows
        # (NULL geography, by certificate) yield a NULL cover like the
        # kernel.
        from sedona_db_spark.operators.spatial_join import _bq, _dlit
        ncx = int(math.ceil(360.0 / cell_deg))
        lon_cell = 360.0 / ncx
        ncy = int(math.ceil(180.0 / cell_deg))
        cell_lat = 180.0 / ncy
        _lon = f"CAST({_bq(lonlat1[0])} AS DOUBLE)"
        _lat = f"CAST({_bq(lonlat1[1])} AS DOUBLE)"
        cell_sql = (
            f"least(greatest(CAST(floor(({_lat} + 90.0D) / "
            f"{_dlit(cell_lat)}) AS BIGINT), 0L), {ncy - 1}L) "
            f"* {ncx}L + "
            f"pmod(CAST(floor(({_lon} + 180.0D) / {_dlit(lon_cell)}) "
            f"AS BIGINT), {ncx}L)")
        lt = ldf.selectExpr(
            "*",
            f"CASE WHEN {_lon} IS NULL OR {_lat} IS NULL THEN NULL "
            f"ELSE array({cell_sql}) END AS __gcl")
    else:
        lt = ldf.withColumn("__gcl", cover_pad(F.col(g1)))
    rt = rdf_r.withColumn("__gcr", cover(F.col(g2)))
    le = lt.withColumn("__gc", F.explode("__gcl"))
    re_ = rt.withColumn("__gc", F.explode("__gcr"))
    spark = ldf.sparkSession
    hot = _skew_hot_cells(ldf, g1, cover_pad, spark)
    if hot:
        # two-level key for hot cells: probe rows take ONE content-
        # derived salt, build rows replicate across that cell's salt
        # space — each pair still meets exactly once, so multiplicity
        # and the smallest-shared-cell dedup below are unchanged; max
        # task input drops to ~hot_rows/n_salts + replicated build rows
        # SQL VALUES, not createDataFrame: a python-parallelized frame
        # has sizeInBytes = Long.MaxValue, and that unknown poisons the
        # build side's size estimate through the salt join — the
        # planner then sort-merge-joined the candidate equi-join (both
        # sides shuffled) even when the build side was 8 rows.  A
        # LocalRelation carries real stats, so a provably-small build
        # side broadcasts and the probe side is never shuffled.
        hot_df = spark.sql(
            "SELECT * FROM VALUES " +
            ", ".join(f"(CAST({int(c)} AS BIGINT), "
                      f"CAST({int(s)} AS BIGINT))"
                      for c, s in sorted(hot.items())) +
            " AS t(__hc, __ns)")
        zero = F.lit(0).cast("long")
        # content-derived salt: results are salting-invariant (each
        # pair meets exactly once for ANY per-row salt assignment), so
        # the certified-shadow path may hash the shadow doubles instead
        # of the geography bytes — keeping the probe side free of any
        # constructor reference
        salt_src = F.xxhash64(F.col(lonlat1[0]), F.col(lonlat1[1])) \
            if lonlat1 is not None else F.xxhash64(F.col(g1))
        le = (le.join(F.broadcast(hot_df),
                      le["__gc"] == F.col("__hc"), "left")
                .withColumn("__gsalt", F.when(
                    F.col("__ns").isNotNull(),
                    F.pmod(salt_src, F.col("__ns")))
                    .otherwise(zero))
                .drop("__hc", "__ns"))
        re_ = (re_.join(F.broadcast(hot_df),
                        re_["__gc"] == F.col("__hc"), "left")
                  .withColumn("__gsalt", F.explode(F.sequence(
                      zero, F.coalesce(F.col("__ns") - 1, zero))))
                  .drop("__hc", "__ns"))
        cand = le.join(re_, ["__gc", "__gsalt"]).drop("__gsalt")
    else:
        cand = le.join(re_, "__gc")
    # multi-cell pair dedup: keep the pair only in the smallest shared
    # cell (native; the shared set is never empty — we joined on one)
    cand = cand.filter(
        F.col("__gc") == F.array_min(F.array_intersect("__gcl", "__gcr")))
    if distance_m is not None:
        refine = get_udf("ST_DWithin")(F.col(g1), F.col(g2),
                                       F.lit(float(distance_m)))
    elif lonlat1 is not None:
        # delegate through the synthesized tagged point — verdicts
        # byte-identical to the (g1, g2) kernel, but the probe side's
        # constructor is no longer referenced anywhere pre-output
        refine = _lonlat_refine_udf(_RELATION_SQL[predicate])(
            F.col(lonlat1[0]), F.col(lonlat1[1]), F.col(g2))
    else:
        refine = get_udf(_RELATION_SQL[predicate])(F.col(g1), F.col(g2))
    out = cand.filter(refine).drop("__gc", "__gcl", "__gcr")
    out._sedona_geo_skew_salts = hot        # diagnostics (tests/COVERAGE)
    out._sedona_geo_cell_deg = cell_deg
    return out
