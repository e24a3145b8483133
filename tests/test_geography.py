"""Geography (spherical/geodesic) kernels + S2-style cells — SURVEY §2.4."""

import math

import pytest

from sedona_db_spark.functions import geography as geo


def one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").first()["v"]


def test_haversine_known_pairs():
    # London -> Paris ~343.5 km
    d = geo.haversine_m(-0.1278, 51.5074, 2.3522, 48.8566)
    assert d == pytest.approx(343_500, rel=0.01)
    # equator degree ~111.19 km
    assert geo.haversine_m(0, 0, 1, 0) == pytest.approx(111_195, rel=0.001)


def test_spheroid_vs_sphere():
    # meridian arc 0->45N: spheroid slightly shorter than sphere per WGS84
    s = geo.spheroid_distance_m(0, 0, 0, 45)
    h = geo.haversine_m(0, 0, 0, 45)
    assert s == pytest.approx(4_984_940, rel=0.001)  # known WGS84 value
    assert abs(s - h) / h < 0.01
    assert geo.spheroid_distance_m(10, 10, 10, 10) == 0.0


def test_spherical_polygon_area():
    # 1x1 degree cell at the equator ~ (111.19 km)^2 ~ 1.2364e10 m2
    from sedona_db_spark.geom import wkt
    g = wkt.from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    a = geo.geodesic_area_m2(g)
    assert a == pytest.approx(1.2364e10, rel=0.01)
    # same cell at 60N is ~half the area (cos 60 = 0.5 shrink in lon)
    g60 = wkt.from_wkt("POLYGON ((0 60, 1 60, 1 61, 0 61, 0 60))")
    assert geo.geodesic_area_m2(g60) / a == pytest.approx(0.5, rel=0.05)


def test_cell_hierarchy():
    # bitwise parity with s2geometry: the reference's own vectors
    # (c/sedona-s2geography/src/utils.rs:218-230)
    assert geo.cell_id_from_point(0.0, 0.0) == 1152921504606846977
    assert geo.cell_id_from_point(0.0, 1.0) == 1153451514845492609
    c30 = geo.cell_id_from_point(2.35, 48.85, 30)
    c10 = geo.cell_id_from_point(2.35, 48.85, 10)
    # S2 parent semantics: same high bits above the level-10 sentinel lsb
    lsb10 = 1 << (2 * (30 - 10))
    assert c10 & lsb10                              # sentinel bit set
    assert (c30 & ~(2 * lsb10 - 1)) == (c10 & ~(2 * lsb10 - 1))
    # level encoding from the lsb (reference test_geog_s2.py helper)
    assert 30 - ((c10 & -c10).bit_length() - 1) // 2 == 10
    # nearby points share coarse cells, far points don't
    assert geo.cell_id_from_point(2.36, 48.86, 8) == \
        geo.cell_id_from_point(2.35, 48.85, 8)
    assert geo.cell_id_from_point(100.0, -30.0, 8) != \
        geo.cell_id_from_point(2.35, 48.85, 8)
    # faces 4-5 exceed int64: SQL surface reinterprets as signed
    south = geo.cell_id_from_point(0.0, -90.0)
    assert south == 0xB000000000000001 and geo.cell_id_signed(south) < 0


def test_sql_surface(spark):
    d = one(spark, "ST_DistanceSphere(ST_Point(0.0, 0.0), ST_Point(1.0, 0.0))")
    assert d == pytest.approx(111_195, rel=0.01)
    ds = one(spark, "ST_DistanceSpheroid(ST_Point(0.0, 0.0), ST_Point(0.0, 45.0))")
    assert ds == pytest.approx(4_984_940, rel=0.001)
    assert one(spark, "ST_DWithinSphere(ST_Point(0.0,0.0), ST_Point(1.0,0.0), 120000.0)") is True
    assert one(spark, "ST_DWithinSphere(ST_Point(0.0,0.0), ST_Point(1.0,0.0), 100000.0)") is False
    a = one(spark, "ST_AreaSpheroid(ST_GeomFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'))")
    assert a == pytest.approx(1.2364e10, rel=0.01)
    ln = one(spark, "ST_LengthSpheroid(ST_GeomFromWKT('LINESTRING (0 0, 1 0)'))")
    assert ln == pytest.approx(111_195, rel=0.01)
    cid = one(spark, "S2_CellIDFromPoint(ST_Point(2.35, 48.85), 10)")
    assert isinstance(cid, int)
    cov = one(spark, "S2_CoveringCellIDs(ST_MakeEnvelope(0.0, 0.0, 2.0, 2.0), 6)")
    assert isinstance(cov, list) and len(cov) >= 1


def test_covering_cells_bucket_join_shape(spark):
    """Covering cells are the geography join key (S2-bucketed equi-join):
    a point's cell at level L must appear in the covering of a polygon
    containing it."""
    poly_cells = one(spark, "S2_CoveringCellIDs(ST_MakeEnvelope(2.0, 48.0, 3.0, 49.0), 7)")
    pt_cell = one(spark, "S2_CellIDFromPoint(ST_Point(2.35, 48.85), 7)")
    assert pt_cell in poly_cells


def test_same_name_dispatch_metrics(spark):
    """Geography-tagged args give the SAME SQL names spherical semantics
    (reference kernels.rs:38); untagged stay planar."""
    r = spark.sql("""
      SELECT ST_Distance(ST_Point(0.0,0.0), ST_Point(1.0,0.0)) AS pd,
             ST_Distance(ST_GeogPoint(0.0,0.0), ST_GeogPoint(1.0,0.0)) AS gd,
             ST_Area(ST_GeomFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) AS pa,
             ST_Area(ST_GeogFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')) AS ga,
             ST_DWithin(ST_GeogPoint(0.0,0.0), ST_GeogPoint(1.0,0.0), 112000.0) AS gdw,
             ST_Length(ST_GeogFromWKT('LINESTRING (0 0, 1 0)')) AS gl
    """).first()
    assert r["pd"] == pytest.approx(1.0)
    assert r["gd"] == pytest.approx(111_195, rel=0.01)
    assert r["pa"] == pytest.approx(1.0)
    assert r["ga"] == pytest.approx(12.36e9, rel=0.01)
    assert r["gdw"] is True
    assert r["gl"] == pytest.approx(111_195, rel=0.01)


def test_same_name_dispatch_predicates_great_circle(spark):
    """Spherical edges bulge poleward: a point above the planar chord at
    60N is inside the geography polygon but outside the geometry one —
    the same name must answer differently by edge type."""
    r = spark.sql("""
      SELECT ST_Contains(ST_GeogFromWKT('POLYGON ((-10 40, 10 40, 10 60, -10 60, -10 40))'),
                         ST_GeogPoint(0.0, 60.3)) AS g_in,
             ST_Contains(ST_GeomFromWKT('POLYGON ((-10 40, 10 40, 10 60, -10 60, -10 40))'),
                         ST_Point(0.0, 60.3)) AS p_in,
             ST_Intersects(ST_GeogFromWKT('POLYGON ((0 50, 10 50, 10 60, 0 60, 0 50))'),
                           ST_GeogFromWKT('LINESTRING (0 55, 10 55)')) AS g_int,
             ST_Disjoint(ST_GeogPoint(0.0, 0.0), ST_GeogPoint(10.0, 10.0)) AS g_dis
    """).first()
    assert r["g_in"] is True and r["p_in"] is False
    assert r["g_int"] is True and r["g_dis"] is True


def test_geography_tag_plumbing(spark):
    """ToGeography/ToGeometry flip the tag; AsBinary/AsEWKB emit
    standard untagged bytes; AsText unaffected."""
    r = spark.sql("""
      SELECT length(ST_AsBinary(ST_GeogPoint(1.0, 2.0))) AS bl,
             ST_AsText(ST_GeogPoint(1.0, 2.0)) AS txt,
             ST_Distance(ST_ToGeometry(ST_GeogPoint(0.0, 0.0)),
                         ST_ToGeometry(ST_GeogPoint(1.0, 0.0))) AS back_planar,
             ST_Distance(ST_ToGeography(ST_Point(0.0, 0.0)),
                         ST_ToGeography(ST_Point(1.0, 0.0))) AS to_sphere
    """).first()
    assert r["bl"] == 21  # standard 2-D point WKB, tag stripped
    assert r["txt"] == "POINT (1 2)"
    assert r["back_planar"] == pytest.approx(1.0)
    assert r["to_sphere"] == pytest.approx(111_195, rel=0.01)


def test_same_name_dispatch_editors(spark):
    """Spherical Buffer (meter-true via azimuthal equidistant),
    Segmentize (great-circle slerp), Simplify (geodesic chord)."""
    r = spark.sql("""
      SELECT ST_Area(ST_Buffer(ST_GeogPoint(0.0, 52.0), 10000.0)) AS ga,
             ST_Area(ST_Buffer(ST_Point(0.0, 52.0), 10000.0)) AS pa,
             ST_NPoints(ST_Segmentize(
               ST_GeogFromWKT('LINESTRING (0 50, 10 50)'), 100000.0)) AS gseg,
             ST_NPoints(ST_Simplify(
               ST_GeogFromWKT('LINESTRING (0 50, 5 50.0001, 10 50)'), 1000.0)) AS gsimp,
             ST_NPoints(ST_Simplify(
               ST_GeomFromWKT('LINESTRING (0 50, 5 50.0001, 10 50)'), 0.01)) AS psimp
    """).first()
    # buffer area ~ pi*r^2 in m^2, shy by the 32-gon inscription factor
    import math
    expect = math.pi * 10000.0 ** 2
    assert abs(r["ga"] - expect) / expect < 0.01
    assert r["pa"] == pytest.approx(expect, rel=0.01)  # planar takes degrees=units
    # 10 deg lon at 50N ~ 715 km -> 8 great-circle segments
    assert r["gseg"] == 9
    # the mid vertex sits ~30 km off the GREAT CIRCLE (the parallel is
    # not a geodesic), so spherical simplify keeps it; planar drops it
    assert r["gsimp"] == 3 and r["psimp"] == 2


def test_same_name_dispatch_overlay(spark):
    """Spherical overlay via gnomonic round-trip: intersection area in
    m^2, result contained in both inputs, planar untouched."""
    r = spark.sql("""
      SELECT ST_Area(ST_Intersection(
               ST_GeogFromWKT('POLYGON ((-10 40, 10 40, 10 60, -10 60, -10 40))'),
               ST_GeogFromWKT('POLYGON ((0 50, 20 50, 20 70, 0 70, 0 50))'))) AS gi,
             ST_Area(ST_Intersection(
               ST_GeomFromWKT('POLYGON ((-10 40, 10 40, 10 60, -10 60, -10 40))'),
               ST_GeomFromWKT('POLYGON ((0 50, 20 50, 20 70, 0 70, 0 50))'))) AS pi,
             ST_IsEmpty(ST_Difference(
               ST_GeogFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
               ST_GeogFromWKT('POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))'))) AS g_diff_empty,
             round(ST_Area(ST_Union(
               ST_GeogFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
               ST_GeogFromWKT('POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))'))) /
               ST_Area(ST_GeogFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))')), 2) AS g_union_ratio
    """).first()
    # ~10 deg x 10 deg cell centered ~55N: ~7.0e11 m^2
    assert 6.5e11 < r["gi"] < 7.5e11
    assert r["pi"] == pytest.approx(100.0)
    assert r["g_diff_empty"] is True
    assert r["g_union_ratio"] == pytest.approx(2.0, abs=0.02)


def test_same_name_dispatch_closest_point(spark):
    """Spherical ClosestPoint sits on the great circle (bulges to
    ~50.43N at the chord midpoint), not on the planar chord."""
    r = spark.sql("""
      SELECT ST_Y(ST_ClosestPoint(
               ST_GeogFromWKT('LINESTRING (-10 50, 10 50)'),
               ST_GeogPoint(0.0, 60.0))) AS gy,
             ST_Y(ST_ClosestPoint(
               ST_GeomFromWKT('LINESTRING (-10 50, 10 50)'),
               ST_Point(0.0, 60.0))) AS py,
             ST_Length(ST_ShortestLine(
               ST_GeogFromWKT('LINESTRING (-10 50, 10 50)'),
               ST_GeogPoint(0.0, 60.0))) AS sl
    """).first()
    assert r["gy"] == pytest.approx(50.431, abs=0.01)
    assert r["py"] == pytest.approx(50.0)
    # geodesic meters from 60N down to the bulge
    assert r["sl"] == pytest.approx(1.064e6, rel=0.01)


def test_same_name_dispatch_line_interpolate(spark):
    """Spherical interpolation follows the great circle: the midpoint of
    (-90 30)->(90 30) crosses the north pole, not the parallel."""
    r = spark.sql("""
      SELECT ST_Y(ST_LineInterpolatePoint(
               ST_GeogFromWKT('LINESTRING (-90 30, 90 30)'), 0.5)) AS gy,
             ST_Y(ST_LineInterpolatePoint(
               ST_GeomFromWKT('LINESTRING (-90 30, 90 30)'), 0.5)) AS py,
             ST_X(ST_LineInterpolatePoint(
               ST_GeogFromWKT('LINESTRING (-90 0, 0 0)'), 0.5)) AS qx
    """).first()
    assert r["gy"] == pytest.approx(90.0, abs=1e-6)
    assert r["py"] == pytest.approx(30.0)
    assert r["qx"] == pytest.approx(-45.0, abs=1e-6)


def test_envelope_agg_geography_antimeridian(spark):
    """A cluster straddling 180E gets the tight wrapped interval
    (xmin > xmax), not the naive near-global box."""
    from sedona_db_spark.functions.aggregates import envelope_agg_geography
    df = spark.sql("""
      SELECT CASE WHEN id < 3 THEN 'wrap' ELSE 'plain' END AS grp,
             CASE id WHEN 0 THEN ST_GeogPoint(177.0, 10.0)
                     WHEN 1 THEN ST_GeogPoint(179.5, 12.0)
                     WHEN 2 THEN ST_GeogPoint(-178.0, 11.0)
                     WHEN 3 THEN ST_GeogPoint(10.0, 40.0)
                     ELSE ST_GeogPoint(20.0, 50.0) END AS geom
      FROM range(5) t(id)""")
    rows = {r["grp"]: r for r in
            envelope_agg_geography(df, ["grp"]).collect()}
    w = rows["wrap"]
    assert w["xmin"] == pytest.approx(177.0) and w["xmax"] == pytest.approx(-178.0)
    assert w["ymin"] == 10.0 and w["ymax"] == 12.0
    p = rows["plain"]
    assert p["xmin"] == 10.0 and p["xmax"] == 20.0


_BAND_WKT = ("POLYGON ((-170 0, -90 0, 0 0, 90 0, 170 0, "
             "170 10, 90 10, 0 10, -90 10, -170 10, -170 0))")


def test_spherical_predicates_beyond_hemisphere(spark):
    """A near-global band (340 degrees of longitude — no hemisphere
    contains it) routes to the exact 3-D edge path instead of the folded
    gnomonic plane.  The old clamp returned plausible-but-wrong answers
    here; now containment is globally correct."""
    rows = spark.sql(f"""
      SELECT ST_Contains(ST_GeogFromWKT('{_BAND_WKT}'),
                         ST_GeogPoint(0.0, 5.0)) AS in_band,
             ST_Contains(ST_GeogFromWKT('{_BAND_WKT}'),
                         ST_GeogPoint(180.0, 5.0)) AS in_gap,
             ST_Contains(ST_GeogFromWKT('{_BAND_WKT}'),
                         ST_GeogPoint(0.0, 50.0)) AS north,
             ST_Intersects(ST_GeogFromWKT('{_BAND_WKT}'),
                           ST_GeogFromWKT('LINESTRING (5 -20, 5 20)')) AS crossed,
             ST_Intersects(ST_GeogFromWKT('{_BAND_WKT}'),
                           ST_GeogFromWKT('LINESTRING (180 -20, 180 20)')) AS gap_line,
             ST_Within(ST_GeogPoint(90.0, 3.0),
                       ST_GeogFromWKT('{_BAND_WKT}')) AS pt_within,
             ST_Covers(ST_GeogFromWKT('{_BAND_WKT}'),
                       ST_GeogPoint(90.0, 0.0)) AS boundary_cover
    """).first()
    assert rows["in_band"] is True
    assert rows["in_gap"] is False
    assert rows["north"] is False
    assert rows["crossed"] is True
    assert rows["gap_line"] is False
    assert rows["pt_within"] is True
    assert rows["boundary_cover"] is True


def test_spherical_unsupported_beyond_hemisphere_raises(spark):
    """Predicates without a global path must raise, not fold silently."""
    import py4j.protocol
    with pytest.raises(Exception) as ei:
        spark.sql(f"""
          SELECT ST_Touches(ST_GeogFromWKT('{_BAND_WKT}'),
                            ST_GeogPoint(0.0, 0.0)) AS t
        """).collect()
    assert "hemisphere" in str(ei.value).lower()


def test_spherical_small_geometries_unchanged(spark):
    """Hemisphere-contained inputs keep the exact gnomonic DE-9IM path."""
    r = spark.sql("""
      SELECT ST_Contains(ST_GeogFromWKT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                         ST_GeogPoint(5.0, 5.0)) AS c,
             ST_Touches(ST_GeogFromWKT('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                        ST_GeogPoint(10.0, 5.0)) AS t
    """).first()
    assert r["c"] is True and r["t"] is True


def test_envelope_agg_geography_box_crossing_lon0(spark):
    """A member bbox spanning lon 0 (e.g. [-1, 1]) must not produce an
    inconsistent shifted interval: group {line -1..1, point 20} has raw
    width 21; the independent-shift bug gave shifted width 0 and collapsed
    the envelope to [20, 20], silently excluding the line."""
    from sedona_db_spark.functions.aggregates import envelope_agg_geography
    df = spark.sql("""
      SELECT 'g' AS grp,
             CASE id WHEN 0 THEN ST_GeogFromWKT('LINESTRING (-1 5, 1 6)')
                     ELSE ST_GeogPoint(20.0, 40.0) END AS geom
      FROM range(2) t(id)""")
    r = envelope_agg_geography(df, ["grp"]).first()
    assert r["xmin"] == pytest.approx(-1.0)
    assert r["xmax"] == pytest.approx(20.0)
    assert r["ymin"] == pytest.approx(5.0) and r["ymax"] == pytest.approx(40.0)


def test_spherical_closest_point_global(spark):
    """ClosestPoint/ShortestLine on geographies: exact foot-of-
    perpendicular witness, valid even when the inputs span more than a
    hemisphere (the old gnomonic path could not represent this pair)."""
    r = spark.sql("""
      SELECT ST_AsText(ST_ClosestPoint(
               ST_GeogFromWKT('LINESTRING (0 0, 10 0)'),
               ST_GeogFromWKT('POINT (5 1)'))) AS cp,
             round(ST_Length(ST_ShortestLine(
               ST_GeogFromWKT('POINT (5 1)'),
               ST_GeogFromWKT('LINESTRING (0 0, 10 0)'))) / 1000, 1) AS km,
             ST_AsText(ST_ClosestPoint(
               ST_GeogFromWKT('LINESTRING (170 0, -170 0)'),
               ST_GeogFromWKT('POINT (179 20)'))) AS antimeridian_cp
    """).first()
    # the witness on the line for POINT(5 1) is the foot (5, 0)
    assert "POINT (5.00" in r["cp"] or "POINT (5 0" in r["cp"] \
        or "POINT (4.99" in r["cp"]
    assert abs(r["km"] - 111.2) < 0.5
    # arc 170..-170 crosses the antimeridian; foot for (179,20) is (179,0)
    assert "179" in r["antimeridian_cp"]


def test_covering_complete_never_misses(spark):
    """RegionCoverer-style covering is complete: the level-L cell of ANY
    point inside the geometry appears in the covering (the former grid
    sampling could miss slivers between sample points)."""
    import numpy as np
    from sedona_db_spark.geom import wkt
    rng = np.random.RandomState(7)
    # thin diagonal sliver — the adversarial case for grid sampling
    g = wkt.from_wkt("POLYGON ((0 0, 10 0.05, 10 0.15, 0 0.1, 0 0))")
    cells = set(geo.covering_cell_ids(g, 9))
    for _ in range(300):
        t = rng.uniform(0.01, 0.99)
        lon = 10 * t
        lat = rng.uniform(0.001 + 0.05 * t, 0.099 + 0.05 * t)
        cid = geo.cell_id_signed(geo.cell_id_from_point(lon, lat, 9))
        assert cid in cells, (lon, lat)


# ----------------------------------------------------------------------
# round 5: full-sphere overlay (geom/sphere_overlay.py)
# ----------------------------------------------------------------------

def _lon_band(lon_lo, lon_hi, lat_lo, lat_hi, step):
    import numpy as np
    from sedona_db_spark.geom.core import Geom, POLYGON
    n = int(round((lon_hi - lon_lo) / step))
    lons = [lon_lo + i * step for i in range(n + 1)]
    wrap = lambda l: ((l + 180) % 360) - 180
    bottom = [(wrap(lo), lat_lo) for lo in lons]
    top = [(wrap(lo), lat_hi) for lo in reversed(lons)]
    return Geom(POLYGON, [np.array(bottom + top + [bottom[0]],
                                   dtype=np.float64)])


def test_full_sphere_overlay_membership_and_area():
    """>180-deg-span polygon overlays: every op verified pointwise
    against input membership (4k random sphere points, exact boolean
    check) plus geodesic inclusion-exclusion to the area formula's chord
    tolerance.  This is the regime the old code raised HemisphereError
    for (VERDICT r4 missing #2)."""
    import numpy as np
    from sedona_db_spark.geom import sphere
    from sedona_db_spark.geom.sphere_overlay import (
        _rings_xyz, spherical_overlay)
    from sedona_db_spark.functions.geography import (
        EARTH_RADIUS_M, geodesic_area_m2)
    A = _lon_band(-150.0, 150.0, 0.0, 30.0, 20.0)     # 300-deg extent
    B = _lon_band(-66.0, 234.0, 15.0, 45.0, 25.0)

    def member(g, pts):
        parts = _rings_xyz(g)
        return np.array([
            max((sphere.classify_point_poly(p, part) for part in parts),
                default=-1) for p in pts])

    rng = np.random.RandomState(3)
    v = rng.standard_normal((4000, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    mA, mB = member(A, v), member(B, v)
    sr = lambda g: geodesic_area_m2(g) / EARTH_RADIUS_M ** 2
    areas = {}
    for op, expect in [("intersection", (mA > 0) & (mB > 0)),
                       ("union", (mA > 0) | (mB > 0)),
                       ("difference", (mA > 0) & (mB < 0)),
                       ("sym_difference", (mA > 0) ^ (mB > 0))]:
        res = spherical_overlay(A, B, op)
        mR = member(res, v)
        clear = (mA != 0) & (mB != 0) & (mR != 0)
        assert np.sum(((mR > 0) != expect) & clear) == 0, op
        areas[op] = sr(res)
    assert abs(sr(A) + sr(B) - areas["union"] - areas["intersection"]) < 5e-3
    assert abs(areas["union"] - areas["intersection"]
               - areas["sym_difference"]) < 5e-3


def test_full_sphere_overlay_containment_no_crossings():
    """Containment / disjoint cases (no edge crossings) on wide bands."""
    from sedona_db_spark.geom.sphere_overlay import spherical_overlay
    from sedona_db_spark.functions.geography import geodesic_area_m2
    big = _lon_band(-140.0, 140.0, -10.0, 40.0, 20.0)
    small = _lon_band(-100.0, 100.0, 5.0, 25.0, 20.0)
    far = _lon_band(-100.0, 100.0, -60.0, -45.0, 20.0)
    inter = spherical_overlay(big, small, "intersection")
    assert abs(geodesic_area_m2(inter) - geodesic_area_m2(small)) < 1e3
    uni = spherical_overlay(big, small, "union")
    assert abs(geodesic_area_m2(uni) - geodesic_area_m2(big)) < 1e3
    assert spherical_overlay(big, far, "intersection").is_empty()
    diff = spherical_overlay(big, small, "difference")
    assert abs(geodesic_area_m2(diff)
               - (geodesic_area_m2(big) - geodesic_area_m2(small))) < 1e6


def test_geography_sql_overlay_spans_hemisphere(spark):
    """The SQL surface no longer raises on hemisphere-spanning geography
    overlay input (the old guard at functions/geography.py)."""
    a_pts = ", ".join(f"{lon} 10" for lon in range(-150, 151, 30))
    a_top = ", ".join(f"{lon} 35" for lon in range(150, -151, -30))
    b_pts = ", ".join(f"{((lon + 180) % 360) - 180} 20"
                      for lon in range(-60, 241, 30))
    b_top = ", ".join(f"{((lon + 180) % 360) - 180} 45"
                      for lon in range(240, -61, -30))
    row = spark.sql(f"""
        SELECT ST_Area(ST_Intersection(
            ST_GeogFromWKT('POLYGON(({a_pts}, {a_top}, -150 10))'),
            ST_GeogFromWKT('POLYGON(({b_pts}, {b_top}, -60 20))'))) AS a
    """).collect()[0]
    assert row["a"] is not None and row["a"] > 0


def test_geography_golden_file(spark):
    """Committed golden values (tests/golden/geography_golden.yml): every
    expected value is closed-form (R*pi fractions, Girard excess,
    perpendicular arcs) or an exact boolean — an engine-independent
    oracle for spherical behavior at antipodes, poles, and the
    antimeridian (mirrors the reference's bigquery_cache.yml pattern)."""
    import os

    import yaml
    path = os.path.join(os.path.dirname(__file__), "golden",
                        "geography_golden.yml")
    with open(path) as f:
        entries = yaml.safe_load(f)
    assert len(entries) >= 25
    fails = []
    for e in entries:
        got = spark.sql(f"SELECT {e['sql']} AS v").collect()[0]["v"]
        tol = e["tol"]
        expect = e["expect"]
        if tol == 0:
            ok = got == expect
        else:
            ok = got is not None and \
                abs(got - expect) <= tol * max(abs(expect), 1.0)
        if not ok:
            fails.append((e["name"], got, expect))
    assert not fails, fails


def test_full_sphere_line_polygon_clip(spark):
    """>180-deg-span LINE x polygon overlay (the last overlay guard):
    clipped + residual lengths partition the total exactly."""
    import numpy as np
    from sedona_db_spark.functions.geography import (
        EARTH_RADIUS_M, geodesic_length_m)
    from sedona_db_spark.geom.core import Geom, LINESTRING, POLYGON
    from sedona_db_spark.geom.sphere_overlay import spherical_line_clip
    line = Geom(LINESTRING, np.array(
        [[float(l), 0.0] for l in range(-150, 151, 30)]))
    ring = np.array([[-60.0, -20.0], [0.0, -20.0], [60.0, -20.0],
                     [60.0, 20.0], [0.0, 20.0], [-60.0, 20.0],
                     [-60.0, -20.0]])
    poly = Geom(POLYGON, [ring])
    li = geodesic_length_m(spherical_line_clip(line, poly, "intersection"))
    ld = geodesic_length_m(spherical_line_clip(line, poly, "difference"))
    assert abs(li / EARTH_RADIUS_M - np.radians(120)) < 1e-6
    assert abs(ld / EARTH_RADIUS_M - np.radians(180)) < 1e-6
    # SQL surface: hemisphere-spanning geography line x polygon no longer
    # raises
    pts = ", ".join(f"{lon} 0" for lon in range(-150, 151, 30))
    row = spark.sql(f"""
        SELECT ST_Length(ST_Intersection(
            ST_GeogFromWKT('LINESTRING({pts})'),
            ST_GeogFromWKT('POLYGON((-60 -20, 0 -20, 60 -20, 60 20,
                                     0 20, -60 20, -60 -20))'))) AS l
    """).collect()[0]
    assert row["l"] is not None and row["l"] > 0


def test_full_sphere_overlay_randomized_membership():
    """Randomized >hemisphere band pairs (irrational-ish offsets keep
    generic position): pointwise membership law checked per op."""
    import numpy as np
    from sedona_db_spark.geom import sphere
    from sedona_db_spark.geom.sphere_overlay import (
        _rings_xyz, spherical_overlay)
    rng = np.random.RandomState(13)

    def member(g, pts):
        parts = _rings_xyz(g)
        return np.array([
            max((sphere.classify_point_poly(p, part) for part in parts),
                default=-1) for p in pts])

    v = rng.standard_normal((1500, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for trial in range(3):
        # B's lon range nested inside A's so the union never girdles the
        # sphere (a 360-degree-wrapping result region is unrepresentable
        # under the smaller-region convention and raises by design —
        # covered by test_full_sphere_overlay_girdling_raises)
        lo1 = -160.0 + trial * 7.3
        A = _lon_band(lo1, lo1 + 290.0, -5.7 + trial, 27.3 + trial, 19.4)
        lo2 = lo1 + 45.7
        B = _lon_band(lo2, lo2 + 198.0, 11.9 - trial, 44.1 - trial, 23.1)
        mA, mB = member(A, v), member(B, v)
        for op, expect in [("intersection", (mA > 0) & (mB > 0)),
                           ("union", (mA > 0) | (mB > 0)),
                           ("difference", (mA > 0) & (mB < 0))]:
            res = spherical_overlay(A, B, op)
            mR = member(res, v)
            clear = (mA != 0) & (mB != 0) & (mR != 0)
            bad = int(np.sum(((mR > 0) != expect) & clear))
            assert bad == 0, (trial, op, bad)


def test_full_sphere_overlay_girdling_representable():
    """Round 6: a union whose longitudes jointly wrap 360 degrees (an
    annulus around the sphere — two non-nesting boundary cycles) is no
    longer a raise: it comes back as the disjoint-part decomposition
    A ⊎ (B−A), a multipolygon whose parts meet along internal seams.
    Membership-sampled against the inputs and area-checked via
    inclusion-exclusion to machine precision."""
    import numpy as np
    from sedona_db_spark.functions.geography import geodesic_area_m2
    from sedona_db_spark.geom import sphere
    from sedona_db_spark.geom.sphere_overlay import spherical_overlay

    A = _lon_band(-160.0, 130.0, -5.7, 27.3, 19.4)
    B = _lon_band(-76.3, 193.7, 11.9, 44.1, 23.1)
    U = spherical_overlay(A, B, "union")
    assert len(list(U.polygons())) >= 2

    def member(g, lon, lat):
        p = sphere.xyz_of(np.array([[lon, lat]]))[0]
        return max((sphere.classify_point_poly(
            p, [sphere.xyz_of(np.asarray(r)[:, :2]) for r in rings])
            for rings in g.polygons()), default=-1)

    rng = np.random.default_rng(3)
    bad = tot = 0
    for _ in range(200):
        lon = float(rng.uniform(-180, 180))
        lat = float(rng.uniform(-85, 85))
        got = member(U, lon, lat)
        if got == 0:
            continue            # on an internal seam: ambiguous by design
        tot += 1
        want = member(A, lon, lat) > 0 or member(B, lon, lat) > 0
        bad += (got > 0) != want
    assert tot > 150 and bad == 0, (bad, tot)
    aU, aI = geodesic_area_m2(U), geodesic_area_m2(
        spherical_overlay(A, B, "intersection"))
    aA, aB = geodesic_area_m2(A), geodesic_area_m2(B)
    assert abs(aU - (aA + aB - aI)) / aU < 1e-12


def test_full_sphere_overlay_orientation_free():
    """Reversing an input ring's traversal direction must not change any
    overlay result (the engine's interior convention is
    orientation-ignored) — a reversed ring used to make the trace
    stitcher silently return EMPTY (round-6 fix: canonicalized ring
    orientation in _rings_xyz)."""
    import numpy as np
    from sedona_db_spark.functions.geography import geodesic_area_m2
    from sedona_db_spark.geom import core
    from sedona_db_spark.geom.core import Geom
    from sedona_db_spark.geom.sphere_overlay import spherical_overlay

    A = _lon_band(-160.0, 130.0, -5.7, 27.3, 19.4)
    Ar = Geom(core.POLYGON,
              [np.asarray(list(A.polygons())[0][0])[::-1].copy()])
    B = _lon_band(-76.3, 193.7, 11.9, 44.1, 23.1)
    for op in ("intersection", "difference"):
        a1 = geodesic_area_m2(spherical_overlay(A, B, op))
        a2 = geodesic_area_m2(spherical_overlay(Ar, B, op))
        assert a1 > 0 and abs(a1 - a2) / a1 < 1e-12, op


def test_left_smaller_girard_exact_random_triangles():
    """Round-6 advisor regression: left_smaller() previously used the
    lon/lat trapezoid line integral, flipping the interior convention on
    ~10% of random simple triangles with edges beyond ~90 deg — which
    inverted classify_point_ring for the whole ring (a point inside a
    1-steradian triangle classified outside, and ST_DistanceSphere
    returned thousands of km instead of 0).  Girard turning-angle excess
    is exact for great-circle edges of any length."""
    import numpy as np
    from sedona_db_spark.geom.sphere import classify_point_ring

    rng = np.random.default_rng(42)
    bad = 0
    tot = 0
    for _ in range(500):
        c = rng.normal(size=3)
        c /= np.linalg.norm(c)
        k = (np.array([0.0, 0.0, 1.0]) if abs(c[2]) < 0.9
             else np.array([0.0, 1.0, 0.0]))
        ex = np.cross(k, c)
        ex /= np.linalg.norm(ex)
        ey = np.cross(c, ex)
        pts = []
        for _j in range(3):
            ang = rng.uniform(0, np.radians(65))
            az = rng.uniform(0, 2 * np.pi)
            pts.append(np.cos(ang) * c
                       + np.sin(ang) * (np.cos(az) * ex + np.sin(az) * ey))
        tri = np.array(pts)
        if np.linalg.norm(np.cross(tri[1] - tri[0], tri[2] - tri[0])) < 1e-3:
            continue
        centroid = tri.sum(axis=0)
        n = np.linalg.norm(centroid)
        if n < 1e-6:
            continue
        centroid /= n
        tot += 1
        if classify_point_ring(centroid, tri) != 1:
            bad += 1
        if classify_point_ring(-centroid, tri) != -1:
            bad += 1
    assert tot > 400
    assert bad == 0, f"{bad} misclassifications in {tot} triangles"


def test_full_sphere_overlay_island_in_hole():
    """Round-6 advisor: depth-2 nesting — difference against a
    polygon-with-hole must emit the island inside the hole as its own
    polygon part, not as a second hole of the outer ring."""
    import numpy as np
    from sedona_db_spark.geom import core, sphere
    from sedona_db_spark.geom.core import Geom
    from sedona_db_spark.geom.sphere_overlay import spherical_overlay

    def poly(*rings):
        return Geom(core.POLYGON, [np.array(r, dtype=float) for r in rings])

    A = poly([[-40, -40], [40, -40], [40, 40], [-40, 40], [-40, -40]])
    B = poly([[-20, -20], [20, -20], [20, 20], [-20, 20], [-20, -20]],
             [[-5, -5], [5, -5], [5, 5], [-5, 5], [-5, -5]])
    res = spherical_overlay(A, B, "difference")
    parts = list(res.polygons())
    assert len(parts) == 2
    assert sorted(len(rings) for rings in parts) == [1, 2]

    def member(g, lon, lat):
        p = sphere.xyz_of(np.array([[lon, lat]]))[0]
        return max((sphere.classify_point_poly(
            p, [sphere.xyz_of(np.asarray(r)[:, :2]) for r in rings])
            for rings in g.polygons()), default=-1)

    assert member(res, 0, 0) > 0        # island (B's hole) is in A-B
    assert member(res, 10, 10) < 0      # B's annulus is not
    assert member(res, 30, 30) > 0      # A outside B is


def test_geography_line_union_polygon_collection(spark):
    """Round 6: hemisphere-spanning line UNION polygon returns a
    GEOMETRYCOLLECTION(polygon, line-outside-polygon) instead of
    raising; the covered line portion is absorbed by the polygon."""
    row = spark.sql("""
      SELECT ST_AsText(ST_Union(
        ST_ToGeography(ST_GeomFromText(
          'LINESTRING (-170 5, -60 5, 60 5, 170 5)')),
        ST_ToGeography(ST_GeomFromText(
          'POLYGON ((-30 -20, 30 -20, 30 20, -30 20, -30 -20))'))
      )) AS wkt
    """).first()
    wkt = row["wkt"]
    assert wkt.startswith("GEOMETRYCOLLECTION")
    assert "POLYGON" in wkt and "LINESTRING" in wkt
    # the line portion inside the polygon (lon -30..30 at lat 5) is gone:
    # no vertex of the remaining line lies strictly inside lon (-29, 29)
    import re
    nums = [float(x) for x in re.findall(r"(-?\d+\.?\d*) -?\d+\.?\d*",
                                         wkt.split("LINESTRING", 1)[1])]
    assert all(not (-29.0 < lon < 29.0) for lon in nums), nums


# ----------------------------------------------------------------------
# Round 9: geography RELATION joins (spherical cell-cover + exact refine)
# ----------------------------------------------------------------------

def test_spherical_cover_contains_arc_samples():
    """The cover's lat/lon bounds must contain every point of each edge
    arc — including the great-circle latitude bulge past both endpoint
    latitudes (the planar bbox would miss it)."""
    import numpy as np
    from sedona_db_spark.geom import core
    from sedona_db_spark.geom.wkt import from_wkt
    from sedona_db_spark.operators.geography_join import spherical_cover

    rng = np.random.RandomState(5)
    for _ in range(200):
        lon1, lon2 = rng.uniform(-180, 180, 2)
        lat1, lat2 = rng.uniform(-85, 85, 2)
        g = from_wkt(f"LINESTRING ({lon1} {lat1}, {lon2} {lat2})")
        cover = spherical_cover(g)
        lat_lo, lat_hi, ivals, full_wrap, npole, spole = cover
        # slerp-sample the minor arc
        from sedona_db_spark.geom.sphere import xyz_of
        ab = xyz_of(np.array([[lon1, lat1], [lon2, lat2]]))
        a, b = ab[0], ab[1]
        ang = math.acos(max(-1.0, min(1.0, float(a @ b))))
        if ang < 1e-12:
            continue
        for t in np.linspace(0.0, 1.0, 33):
            p = (math.sin((1 - t) * ang) * a + math.sin(t * ang) * b) \
                / math.sin(ang)
            p = p / np.linalg.norm(p)
            plat = math.degrees(math.asin(max(-1.0, min(1.0, p[2]))))
            plon = math.degrees(math.atan2(p[1], p[0]))
            assert lat_lo - 1e-6 <= plat <= lat_hi + 1e-6, \
                (lon1, lat1, lon2, lat2, plat, lat_lo, lat_hi)
            if not (full_wrap or npole or spole):
                ok = any(s - 1e-6 <= plon + k <= e + 1e-6
                         for s, e in ivals for k in (-360.0, 0.0, 360.0))
                assert ok, (lon1, lat1, lon2, lat2, plon, ivals)


def test_spherical_cover_lat_bulge_exceeds_endpoints():
    """Concrete bulge case: both endpoints at lat 60, delta-lon 120 —
    the arc's vertex is far north of 60."""
    from sedona_db_spark.geom.wkt import from_wkt
    from sedona_db_spark.operators.geography_join import spherical_cover
    g = from_wkt("LINESTRING (-60 60, 60 60)")
    lat_lo, lat_hi, *_ = spherical_cover(g)
    assert lat_hi > 70.0            # vertex latitude ~ 73.9
    assert lat_lo == 60.0


def test_spherical_cover_pole_polygon_wraps():
    """A polygon whose interior contains the north pole must wrap all
    longitudes (interior points exist at every lon)."""
    from sedona_db_spark.geom.wkt import from_wkt
    from sedona_db_spark.operators.geography_join import spherical_cover
    g = from_wkt("POLYGON ((0 80, 90 80, 180 80, -90 80, 0 80))")
    lat_lo, lat_hi, ivals, full_wrap, npole, spole = spherical_cover(g)
    assert npole and full_wrap and lat_hi == 90.0


def test_geography_relation_join_matches_kernel_truth(spark):
    """geography_relation_join == the per-pair dispatched kernel over
    the cross product, for a mixed bag including antimeridian-crossing
    quads, lines, and points."""
    from sedona_db_spark.operators.geography_join import \
        geography_relation_join
    polys = spark.sql("""
      SELECT n_nationkey AS pid,
             ST_ToGeography(ST_MakeEnvelope(
               CAST((n_nationkey * 37) % 350 AS DOUBLE) - 178.0,
               CAST((n_nationkey * 23) % 150 AS DOUBLE) - 75.0,
               CAST((n_nationkey * 37) % 350 AS DOUBLE) - 178.0 + 8.0,
               CAST((n_nationkey * 23) % 150 AS DOUBLE) - 75.0 + 8.0)) AS g
      FROM nation""")
    pts = spark.sql("""
      SELECT c_custkey AS kid,
             ST_GeogPoint(CAST((c_custkey * 7) % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 11) % 170 AS DOUBLE) - 84.5) AS g
      FROM customer WHERE c_custkey < 400""")
    polys.createOrReplaceTempView("grj_polys")
    pts.createOrReplaceTempView("grj_pts")
    for pred, sqlname in (("intersects", "ST_Intersects"),
                          ("within", "ST_Within")):
        got = sorted(
            (r["kid"], r["pid"]) for r in geography_relation_join(
                pts, polys, "g", "g", predicate=pred).collect())
        want = sorted((r["kid"], r["pid"]) for r in spark.sql(
            f"""SELECT p.kid, q.pid FROM grj_pts p CROSS JOIN grj_polys q
                WHERE {sqlname}(p.g, q.g)""").collect())
        assert got == want and len(want) > 0, pred
    # polygon-vs-polygon (both sides multi-cell covers; pair-dedup must
    # keep multiplicity exact)
    polys2 = polys.selectExpr("pid AS pid2", "g")
    polys2.createOrReplaceTempView("grj_polys2")
    got = sorted((r["pid"], r["pid2"]) for r in geography_relation_join(
        polys, polys2, "g", "g", predicate="intersects").collect())
    want = sorted((r["pid"], r["pid2"]) for r in spark.sql(
        """SELECT a.pid, b.pid2 FROM grj_polys a CROSS JOIN grj_polys2 b
           WHERE ST_Intersects(a.g, b.g)""").collect())
    assert got == want and len(want) >= 25      # at least the diagonal


def test_geography_relation_join_nonpoint_dwithin(spark):
    """Non-point geography ST_DWithin (r8 "What's missing #2"): the
    padded cover join == the kernel over the cross product."""
    from sedona_db_spark.operators.geography_join import \
        geography_relation_join
    polys = spark.sql("""
      SELECT n_nationkey AS pid,
             ST_ToGeography(ST_MakeEnvelope(
               CAST((n_nationkey * 41) % 340 AS DOUBLE) - 175.0,
               CAST((n_nationkey * 13) % 140 AS DOUBLE) - 70.0,
               CAST((n_nationkey * 41) % 340 AS DOUBLE) - 175.0 + 5.0,
               CAST((n_nationkey * 13) % 140 AS DOUBLE) - 70.0 + 5.0)) AS g
      FROM nation""")
    pts = spark.sql("""
      SELECT c_custkey AS kid,
             ST_GeogPoint(CAST((c_custkey * 3) % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 17) % 160 AS DOUBLE) - 79.5) AS g
      FROM customer WHERE c_custkey < 400""")
    polys.createOrReplaceTempView("grj_dw_polys")
    pts.createOrReplaceTempView("grj_dw_pts")
    got = sorted((r["kid"], r["pid"]) for r in geography_relation_join(
        pts, polys, "g", "g", distance_m=400_000.0).collect())
    want = sorted((r["kid"], r["pid"]) for r in spark.sql(
        """SELECT p.kid, q.pid FROM grj_dw_pts p CROSS JOIN grj_dw_polys q
           WHERE ST_DWithin(p.g, q.g, 400000.0)""").collect())
    assert got == want and len(want) > 0


def test_sql_geography_relation_join_routes_native(spark):
    """The SQL front door routes geography relation predicates through
    the cell-cover join (r8 verdict #1): plan has no
    BroadcastNestedLoopJoin / CartesianProduct, and the full join-type
    lattice works (vanilla ERRORS on outer/semi/anti here)."""
    spark.sql("""
      SELECT n_nationkey AS pid,
             ST_ToGeography(ST_MakeEnvelope(
               CAST((n_nationkey * 29) % 340 AS DOUBLE) - 172.0,
               CAST((n_nationkey * 17) % 150 AS DOUBLE) - 75.0,
               CAST((n_nationkey * 29) % 340 AS DOUBLE) - 166.0,
               CAST((n_nationkey * 17) % 150 AS DOUBLE) - 69.0)) AS g
      FROM nation""").createOrReplaceTempView("grj_sql_polys")
    spark.sql("""
      SELECT c_custkey AS kid,
             ST_GeogPoint(CAST((c_custkey * 7) % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 11) % 170 AS DOUBLE) - 84.5) AS g
      FROM customer WHERE c_custkey < 500""").createOrReplaceTempView(
          "grj_sql_pts")
    inner = spark.sql("""SELECT p.kid, q.pid FROM grj_sql_pts p
                         JOIN grj_sql_polys q ON ST_Intersects(p.g, q.g)""")
    assert getattr(inner, "_sedona_rewritten_sql", None) is not None
    plan = inner._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = sorted((r["kid"], r["pid"]) for r in inner.collect())
    want = sorted((r["kid"], r["pid"]) for r in spark.sql(
        """SELECT p.kid, q.pid FROM grj_sql_pts p CROSS JOIN grj_sql_polys q
           WHERE ST_Intersects(p.g, q.g)""").collect())
    assert got == want and len(want) > 0
    n_inner = len(got)
    matched_l = len({k for k, _ in got})
    n_l = spark.table("grj_sql_pts").count()
    left = spark.sql("""SELECT p.kid, q.pid FROM grj_sql_pts p
                        LEFT JOIN grj_sql_polys q
                        ON ST_Intersects(p.g, q.g)""")
    assert getattr(left, "_sedona_rewritten_sql", None) is not None
    assert left.count() == n_inner + (n_l - matched_l)
    semi = spark.sql("""SELECT p.kid FROM grj_sql_pts p LEFT SEMI JOIN
                        grj_sql_polys q ON ST_Intersects(p.g, q.g)""")
    anti = spark.sql("""SELECT p.kid FROM grj_sql_pts p LEFT ANTI JOIN
                        grj_sql_polys q ON ST_Intersects(p.g, q.g)""")
    assert semi.count() == matched_l
    assert anti.count() == n_l - matched_l
    # non-point dwithin through SQL now routes native too
    dw = spark.sql("""SELECT p.kid, q.pid FROM grj_sql_pts p
                      JOIN grj_sql_polys q ON ST_DWithin(p.g, q.g, 250000.0)""")
    assert getattr(dw, "_sedona_rewritten_sql", None) is not None
    got_dw = sorted((r["kid"], r["pid"]) for r in dw.collect())
    want_dw = sorted((r["kid"], r["pid"]) for r in spark.sql(
        """SELECT p.kid, q.pid FROM grj_sql_pts p CROSS JOIN grj_sql_polys q
           WHERE ST_DWithin(p.g, q.g, 250000.0)""").collect())
    assert got_dw == want_dw and len(want_dw) > 0


def test_geography_relation_join_seam_and_pole(spark):
    """Adversarial cover cases: a polygon genuinely CROSSING the
    antimeridian (planar lon 176..184), one hugging the north pole, and
    points on both sides of the seam — native join == kernel truth."""
    polys = spark.sql("""
      SELECT 1 AS pid, ST_ToGeography(ST_MakeEnvelope(176.0, 10.0,
                                                      184.0, 18.0)) AS g
      UNION ALL
      SELECT 2, ST_ToGeography(ST_MakeEnvelope(-30.0, 82.0, 30.0, 88.0))
      UNION ALL
      SELECT 3, ST_ToGeography(ST_GeomFromText(
        'POLYGON ((0 80, 120 80, -120 80, 0 80))'))
    """)
    pts = spark.sql("""
      SELECT c_custkey AS kid,
             ST_GeogPoint(CAST((c_custkey * 13) % 360 AS DOUBLE) - 179.7,
                          CAST((c_custkey * 5) % 176 AS DOUBLE) - 87.7) AS g
      FROM customer WHERE c_custkey < 400
      UNION ALL SELECT 100001, ST_GeogPoint(179.5, 14.3)
      UNION ALL SELECT 100002, ST_GeogPoint(-179.5, 14.3)
      UNION ALL SELECT 100003, ST_GeogPoint(45.0, 89.2)
    """)
    polys.createOrReplaceTempView("grj_seam_polys")
    pts.createOrReplaceTempView("grj_seam_pts")
    from sedona_db_spark.operators.geography_join import \
        geography_relation_join
    got = sorted((r["kid"], r["pid"]) for r in geography_relation_join(
        pts, polys, "g", "g", predicate="intersects").collect())
    want = sorted((r["kid"], r["pid"]) for r in spark.sql(
        """SELECT p.kid, q.pid FROM grj_seam_pts p CROSS JOIN grj_seam_polys q
           WHERE ST_Intersects(p.g, q.g)""").collect())
    assert got == want and len(want) > 0
    # the seam-crossing polygon matches the explicit probes on BOTH
    # sides of 180, and the pole triangle catches the near-pole probe
    assert (100001, 1) in want and (100002, 1) in want
    assert (100003, 3) in want


def test_near_pole_dwithin_pad_not_clamped(spark):
    """Round-9 review: the lon pad for a dwithin candidate cut used a
    band latitude clamped at 88 deg, under-padding the 88..90 band —
    pairs genuinely within distance were silently dropped.  Two points
    at lat 89.5 separated by 3 deg of longitude are ~2.9 km apart; a
    3 km dwithin join must find them (the clamped pad was ~0.8 deg)."""
    spark.sql("""
      SELECT 1 AS ka, ST_GeogPoint(0.0, 89.5) AS g
    """).createOrReplaceTempView("np_a")
    spark.sql("""
      SELECT 2 AS kb, ST_GeogPoint(3.0, 89.5) AS g
    """).createOrReplaceTempView("np_b")
    df = spark.sql("""
      SELECT a.ka, b.kb FROM np_a a JOIN np_b b
      ON ST_DWithin(a.g, b.g, 3000.0)
    """)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert df.count() == 1

    # non-point twin through the cell-cover join: point vs tiny quad,
    # ~4.7 km apart at lat 89.2, radius 5 km
    spark.sql("""
      SELECT 1 AS ka, ST_GeogPoint(0.0, 89.2) AS g
    """).createOrReplaceTempView("np_c")
    spark.sql("""
      SELECT 2 AS kb,
             ST_ToGeography(ST_MakeEnvelope(3.0, 89.2, 3.1, 89.21)) AS g
    """).createOrReplaceTempView("np_d")
    df2 = spark.sql("""
      SELECT a.ka, b.kb FROM np_c a JOIN np_d b
      ON ST_DWithin(a.g, b.g, 5000.0)
    """)
    assert getattr(df2, "_sedona_rewritten_sql", None) is not None
    assert df2.count() == 1


def test_pole_to_pole_edge_covers_all_longitudes():
    """Round-9 review: a pole-to-pole arc's endpoints are antipodal
    (any meridian fits), and the old cover emitted NO longitude
    interval for it — mid-latitude candidates were dropped.  The cover
    must now wrap every longitude at every latitude row."""
    import math as _math

    from sedona_db_spark.geom.wkt import from_wkt
    from sedona_db_spark.operators.geography_join import (
        _cover_cells, spherical_cover)

    g = from_wkt("LINESTRING (10 90, 10 -90)")
    cover = spherical_cover(g)
    lat_lo, lat_hi, ivals, full_wrap, npole, spole = cover
    assert npole and spole and lat_lo == -90.0 and lat_hi == 90.0
    cell = 10.0
    ncx = int(_math.ceil(360.0 / cell))
    ncy = int(_math.ceil(180.0 / cell))
    cells = set(_cover_cells(cover, 180.0 / ncy, 360.0 / ncx, ncx, ncy,
                             0.0, 200_000))
    # the equator row cell at lon 135 (far from meridian 10) is covered
    cy = int((0.0 + 90.0) // (180.0 / ncy))
    cx = int((135.0 + 180.0) // (360.0 / ncx)) % ncx
    assert cy * ncx + cx in cells
    assert len(cells) == ncx * ncy     # full wrap at every row


def test_geography_relation_join_rejects_unknown_how(spark):
    """Round-9 review: an unknown join type must fail loud, not fall
    through the join-mode lattice (join_mode_from_inner) to silent
    inner-join semantics."""
    import pytest as _pytest

    from sedona_db_spark.operators.geography_join import (
        geography_relation_join)
    a = spark.sql("SELECT 1 AS id, ST_GeogPoint(10.0, 20.0) AS geog")
    with _pytest.raises(NotImplementedError, match="unsupported spatial join"):
        geography_relation_join(a, a, "geog", "geog", "intersects",
                                how="cross")


def test_dwithin_polar_branch_bounded_and_correct():
    """Round-9 review: a near-pole probe row at a tiny (radius-derived)
    grid would silently explode to ALL ~400k longitude cells.  Rows in
    that polar sliver now take a bounded cross-join branch against the
    polar subset of the build side (every longitude is a genuine
    candidate there): matches within distance are found — including
    across a 150-degree longitude gap, where the old clamped pad
    dropped the pair — and mid-latitude rows are unaffected."""
    from sedona_db_spark.operators.geography_join import (
        geography_dwithin_join)
    from sedona_db_spark.session import get_spark
    spark = get_spark("t_fanout")
    polar = spark.sql("""
      SELECT 1 AS pid, 0.0D AS plon, 89.9999D AS plat
      UNION ALL SELECT 2, 150.0D, 89.99985D
    """)
    build = spark.sql("""
      SELECT 10 AS bid, 0.001D AS blon, 89.9999D AS blat
      UNION ALL SELECT 20, -120.0D, 89.99988D
    """)
    out = geography_dwithin_join(build, polar, 100.0,
                                 build_lon="blon", build_lat="blat",
                                 probe_lon="plon", probe_lat="plat")
    got = {(r["pid"], r["bid"]) for r in out.collect()}
    # every polar point here is within ~35 m of the pole, so all pairs
    # are within 100 m regardless of longitude
    assert got == {(1, 10), (1, 20), (2, 10), (2, 20)}
    # mid-latitude rows with the same tiny radius are unaffected
    a = spark.sql("SELECT 1 AS pid, 10.0D AS plon, 45.0D AS plat")
    b = spark.sql("SELECT 2 AS bid, 10.0005D AS blon, 45.0D AS blat")
    got2 = geography_dwithin_join(b, a, 100.0,
                                  build_lon="blon", build_lat="blat",
                                  probe_lon="plon", probe_lat="plat").collect()
    assert len(got2) == 1

    # polar-band BOUNDARY pair (review pass 3): a probe just inside the
    # polar sliver matching a build row up to 2 lat-pads below the cut
    # (one pad for the probe's own slack, one for the match distance) —
    # a single-pad reach filter dropped this pair
    import math as _math
    from sedona_db_spark.operators.geography_join import (
        M_PER_DEG, R_EARTH_M)
    dist = 100.0
    cell = dist / M_PER_DEG
    ncx = int(_math.ceil(360.0 / cell))
    lon_cell = 360.0 / ncx
    x_half = _math.radians(min(8192 * lon_cell / 2.0, 179.9)) / 2.0
    cos_cut = _math.sin((dist / R_EARTH_M) / 2.0) / _math.sin(x_half)
    band_cut = _math.degrees(_math.acos(cos_cut))
    plat = band_cut - 0.5 * cell          # polar: plat + cell >= cut
    blat = plat - 0.9 * cell              # ~90 m away, below cut - pad
    pa = spark.sql(f"SELECT 1 AS pid, 0.0D AS plon, {plat}D AS plat")
    ba = spark.sql(f"SELECT 2 AS bid, 0.0D AS blon, {blat}D AS blat")
    got3 = geography_dwithin_join(ba, pa, dist,
                                  build_lon="blon", build_lat="blat",
                                  probe_lon="plon", probe_lat="plat").collect()
    assert len(got3) == 1, (plat, blat, band_cut)


def test_geography_skew_salting_bounds_task_input(spark):
    """Round 10 (r9 verdict #6): clustered probe points on an
    extent-scaled relation-join grid — one/two hot cells — get
    two-level (cell, salt) keys: the sampled histogram detects the hot
    cells, probe rows take ONE content-derived salt, build rows
    replicate across that cell's salt space.  Pins: (a) results
    identical with salting off, (b) the hot map fires with >= 2 salts,
    (c) max probe rows per join key drops to ~hot/salts.  (dwithin
    joins scale their grid from the radius and no longer concentrate a
    cluster into one cell — the round-10 bench catch.)"""
    from pyspark.sql import functions as F

    from sedona_db_spark.operators.geography_join import (
        _cover_cells_udf, geography_relation_join)
    pts = spark.sql("""
      SELECT id AS ka, ST_GeogFromWKT(concat('POINT (',
               10.005 + CAST(id % 64 AS DOUBLE) * 0.01, ' ',
               45.005 + CAST(CAST(floor(id / 64) AS INT) % 40
                             AS DOUBLE) * 0.01, ')')) AS geog
      FROM range(2500)
    """)
    polys = spark.sql("""
      SELECT CAST(id AS INT) AS poly_id, ST_GeogFromWKT(concat(
               'POLYGON ((', 10 + 2 * id, ' 45, ', 11 + 2 * id, ' 45, ',
               11 + 2 * id, ' 46, ', 10 + 2 * id, ' 46, ',
               10 + 2 * id, ' 45))')) AS pgeog
      FROM range(6)
    """)
    key = "spark.sedona_db.geography_join.skew_target_rows"
    try:
        spark.conf.set(key, "300")
        salted = geography_relation_join(pts, polys, left_geom="geog",
                                         right_geom="pgeog",
                                         predicate="intersects")
        hot = getattr(salted, "_sedona_geo_skew_salts", {})
        assert hot and max(hot.values()) >= 2, hot
        got = sorted((r["ka"], r["poly_id"]) for r in salted.collect())
        # every point sits >= 5 mdeg inside polygon 0's box (edge bulge
        # < 1 mdeg), so membership is the planar box test
        want = sorted((i, 0) for i in range(2500)
                      if 10.005 + (i % 64) * 0.01 < 11.0)
        assert got == want and len(got) > 0
        # (c) bounded max task input: replicate the operator's salting
        # formula over the probe side and measure the largest key group
        cover = _cover_cells_udf(1.0)
        exploded = pts.withColumn("__gc", F.explode(cover(F.col("geog"))))
        nsalt = F.create_map(*[x for c, sl in sorted(hot.items())
                               for x in (F.lit(c), F.lit(sl))])[F.col("__gc")]
        keyed = exploded.withColumn(
            "__salt", F.when(nsalt.isNotNull(),
                             F.pmod(F.xxhash64(F.col("geog")), nsalt))
                       .otherwise(F.lit(0)))
        sizes = keyed.groupBy("__gc", "__salt").count()
        rows = {(r["__gc"], r["__salt"]): r["count"]
                for r in sizes.collect()}
        hot_total = sum(v for (c, _s), v in rows.items() if c in hot)
        hot_max = max(v for (c, _s), v in rows.items() if c in hot)
        ns = max(hot.values())
        assert hot_max <= (hot_total / ns) * 3 + 64, (hot_max, hot_total, ns)
        spark.conf.set("spark.sedona_db.geography_join.skew_salting", "off")
        plain = geography_relation_join(pts, polys, left_geom="geog",
                                        right_geom="pgeog",
                                        predicate="intersects")
        assert getattr(plain, "_sedona_geo_skew_salts", None) == {}
        want2 = sorted((r["ka"], r["poly_id"]) for r in plain.collect())
        assert got == want2
    finally:
        spark.conf.unset(key)
        spark.conf.unset("spark.sedona_db.geography_join.skew_salting")


def test_geography_dwithin_grid_scales_with_radius(spark):
    """Round 10 regression pin (the 195s bench catch): a point dwithin
    relation join must size its grid from the RADIUS, never the old
    0.25-deg floor (~11x a 2.5km radius -> ~56M candidate pairs on a
    clustered 15k-point join); point relation joins with no radius
    keep the 0.25-deg fallback."""
    from sedona_db_spark.operators.geography_join import (
        M_PER_DEG, geography_relation_join)
    pts = spark.sql("""
      SELECT id, ST_GeogFromWKT(concat('POINT (',
               10.0 + CAST(id % 10 AS DOUBLE) * 0.01, ' ',
               45.0 + CAST(CAST(floor(id / 10) AS INT) % 10
                           AS DOUBLE) * 0.01, ')')) AS geog
      FROM range(100)
    """)
    j = geography_relation_join(pts, pts.selectExpr("id AS id2", "geog"),
                                left_geom="geog", right_geom="geog",
                                distance_m=2500.0)
    cell = getattr(j, "_sedona_geo_cell_deg", None)
    assert cell is not None
    assert abs(cell - 2500.0 / M_PER_DEG) < 1e-9, cell
    r = geography_relation_join(pts, pts.selectExpr("id AS id2", "geog"),
                                left_geom="geog", right_geom="geog",
                                predicate="intersects")
    assert abs(getattr(r, "_sedona_geo_cell_deg") - 0.25) < 1e-9


def test_vectorized_haversine_matches_scalar():
    """Round 10 guard for the _pair_metric all-point fast path: the
    vectorized haversine must agree with the scalar kernel formula on
    random global pairs (same radius, same formula — any drift here
    would silently move dwithin boundaries)."""
    import numpy as np

    from sedona_db_spark.functions.geography import (_haversine_m_vec,
                                                     haversine_m)
    rng = np.random.RandomState(20260816)
    lon1 = rng.uniform(-180, 180, 2000)
    lat1 = rng.uniform(-89.9, 89.9, 2000)
    lon2 = lon1 + rng.uniform(-2, 2, 2000)
    lat2 = np.clip(lat1 + rng.uniform(-2, 2, 2000), -89.95, 89.95)
    vec = _haversine_m_vec(lon1, lat1, lon2, lat2)
    for i in range(0, 2000, 37):
        s = haversine_m(lon1[i], lat1[i], lon2[i], lat2[i])
        assert abs(vec[i] - s) <= max(1e-6, 1e-12 * s), (i, vec[i], s)
    # antipodal-ish and identical-point edges
    assert _haversine_m_vec(np.array([0.0]), np.array([0.0]),
                            np.array([0.0]), np.array([0.0]))[0] == 0.0
    big = _haversine_m_vec(np.array([0.0]), np.array([0.0]),
                           np.array([180.0]), np.array([0.0]))[0]
    assert abs(big - haversine_m(0.0, 0.0, 180.0, 0.0)) < 1e-6


def test_k_dwithin_sphere_fast_and_slow_paths_agree(spark):
    """The tagged-point vectorized dwithin batch must give the same
    booleans as the per-row path (forced by a null in the batch)."""
    import pandas as pd

    from sedona_db_spark.functions.geography import k_dwithin_sphere
    rows = spark.sql("""
      SELECT ST_AsEWKB(ST_GeogFromWKT(concat('POINT (',
               CAST(id % 36 AS DOUBLE) * 10.0 - 175.0, ' ',
               CAST(CAST(floor(id / 36) AS INT) AS DOUBLE) * 10.0 - 85.0,
             ')'))) AS g
      FROM range(600)
    """).collect()
    vals = [bytes(r["g"]) for r in rows]
    s1 = pd.Series(vals)
    s2 = pd.Series(vals[1:] + vals[:1])
    fast = k_dwithin_sphere(s1, s2, 1_500_000.0)
    slow = k_dwithin_sphere(pd.Series(vals + [None]),
                            pd.Series((vals[1:] + vals[:1]) + [None]),
                            1_500_000.0)
    assert list(fast) == list(slow)[:600]


def test_batched_spherical_classifier_matches_scalar():
    """r11 lever #1: classify_points_ring/poly_batch must reproduce the
    scalar on-arc/winding/parity procedure exactly — randomized rings
    (small, regional, hemisphere-spanning), exact ring vertices and arc
    midpoints (boundary rows), and holed polygons."""
    import numpy as np
    from sedona_db_spark.geom import sphere as S

    rng = np.random.default_rng(1234)
    for trial in range(25):
        nv = int(rng.integers(3, 9))
        scale = float(rng.choice([0.5, 5.0, 40.0, 110.0]))
        lon0, lat0 = rng.uniform(-180, 180), rng.uniform(-70, 70)
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        rad = scale * (0.5 + rng.uniform(0, 1, nv))
        ring = S.xyz_of(np.column_stack([
            lon0 + rad * np.cos(ang),
            np.clip(lat0 + rad * np.sin(ang), -89.5, 89.5)]))
        P = np.vstack([
            S.xyz_of(np.column_stack([rng.uniform(-180, 180, 120),
                                      rng.uniform(-89, 89, 120)])),
            ring])
        a, b = S.ring_edges(ring)
        mids = a + b
        keep = np.linalg.norm(mids, axis=1) > 1e-12
        P = np.vstack([P, mids[keep] /
                       np.linalg.norm(mids[keep], axis=1, keepdims=True)])
        batch = S.classify_points_ring_batch(P, ring)
        scalar = np.array([S.classify_point_ring(P[i], ring)
                           for i in range(len(P))], dtype=np.int8)
        assert (batch == scalar).all(), \
            f"trial {trial}: {np.nonzero(batch != scalar)[0][:5]}"

    # holed polygon: hole boundary -> 0, in-hole -> -1, shell-only -> 1
    shell = S.xyz_of(np.array(
        [[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]], float))
    hole = S.xyz_of(np.array(
        [[3, 3], [5, 3], [5, 5], [3, 5], [3, 3]], float))
    P = np.vstack([S.xyz_of(np.column_stack([rng.uniform(-2, 10, 300),
                                             rng.uniform(-2, 10, 300)])),
                   shell, hole])
    batch = S.classify_points_poly_batch(P, [shell, hole])
    scalar = np.array([S.classify_point_poly(P[i], [shell, hole])
                       for i in range(len(P))], dtype=np.int8)
    assert (batch == scalar).all()


def test_spherical_pred_fast_path_matches_scalar_loop():
    """The _sph_point_poly_fast batch route must agree with the per-pair
    scalar loop for every predicate over a mixed polygon panel (plain,
    holed, multipolygon), both argument orders for intersects."""
    import numpy as np
    import pandas as pd
    from sedona_db_spark.functions import geography as G
    from sedona_db_spark.geom import core, wkt as W

    def geog_wkb(w):
        g = W.from_wkt(w)
        g.spherical = True
        return core.to_wkb(g)

    rng = np.random.default_rng(99)
    polys = [geog_wkb("POLYGON ((10 45, 11 45, 11 46, 10 46, 10 45))"),
             geog_wkb("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0),"
                      " (3 3, 5 3, 5 5, 3 5, 3 3))"),
             geog_wkb("MULTIPOLYGON (((20 -10, 24 -10, 24 -6, 20 -6,"
                      " 20 -10)), ((30 0, 33 0, 33 3, 30 3, 30 0)))")]
    n = 600
    s_pt = pd.Series([geog_wkb(
        f"POINT ({rng.uniform(-5, 35):.6f} {rng.uniform(-15, 50):.6f})")
        for _ in range(n)])
    s_poly = pd.Series([polys[i % len(polys)] for i in range(n)])
    for pred in ("intersects", "contains", "within", "covers",
                 "covered_by"):
        flip, _ = G._SPH_PT_POLY[pred]
        a1, a2 = (s_pt, s_poly) if flip is True else (s_poly, s_pt)
        fast = G._sph_point_poly_fast(a1, a2, pred)
        assert fast is not None, f"{pred}: fast path must engage"
        kern = G._spherical_pred_kernel(pred)
        orig = G._sph_point_poly_fast
        G._sph_point_poly_fast = lambda *a, **k: None
        try:
            slow = kern(a1, a2)
        finally:
            G._sph_point_poly_fast = orig
        assert all(bool(fast[i]) == bool(slow[i]) for i in range(n)), pred
    # intersects is symmetric: flipped argument order, same verdicts
    f1 = G._sph_point_poly_fast(s_poly, s_pt, "intersects")
    f2 = G._sph_point_poly_fast(s_pt, s_poly, "intersects")
    assert (f1.to_numpy() == f2.to_numpy()).all()


def test_parity_crossing_scale_free_tiny_rings():
    """r11: the parity fallback must detect crossings at sub-milliradian
    scales (the absolute _EPS_DET gate swallowed genuine crossings on
    ~500 m rings, classifying nearby OUTSIDE points as inside — latent
    until the batched fast path routed tiny rings through the global
    classifier).  Sweep ring sizes across five orders of magnitude."""
    import numpy as np
    from sedona_db_spark.geom import sphere as S

    for s in (0.0005, 0.005, 0.05, 0.5, 5.0):
        ring = S.xyz_of(np.array(
            [[10, 5], [10 + s, 5], [10 + s, 5 + s], [10, 5 + s],
             [10, 5]], float))
        inside = S.xyz_of(np.array([[10 + s / 2, 5 + s / 2]], float))
        outside = S.xyz_of(np.array(
            [[10 + 3 * s, 5 + 3 * s], [10 - 2 * s, 5 + s / 2]], float))
        assert S.classify_point_ring(inside[0], ring) == 1, s
        for i in range(len(outside)):
            assert S.classify_point_ring(outside[i], ring) == -1, (s, i)
        batch = S.classify_points_ring_batch(
            np.vstack([inside, outside]), ring)
        assert list(batch) == [1, -1, -1], (s, batch)


# ----------------------------------------------------------------------
# round 12: certified-shadow probe side of the geography relation join
# ----------------------------------------------------------------------


def test_geog_cert_relation_join_matches_kernel_path(spark):
    """With a live geography point certificate, the relation join's
    probe side (cover cell, salt, refine input) computes from the
    shadow doubles — rows must equal the uncertified kernel path
    exactly, and the probe side must carry no Python node."""
    import re

    from pyspark.sql import functions as F

    from sedona_db_spark.operators.geography_join import \
        geography_relation_join
    from sedona_db_spark.plans.sql_rewrite import (
        certify_geog_point_view, geog_shadow_xy_for_view)
    pts = spark.sql("""
      SELECT id AS ka,
             CASE WHEN id = 7 THEN NULL
                  ELSE 10.05 + CAST(id % 37 AS DOUBLE) * 0.11 END AS glon,
             CASE WHEN id = 7 THEN NULL
                  ELSE 44.95 + CAST(id % 53 AS DOUBLE) * 0.07 END AS glat,
             CASE WHEN id = 7 THEN NULL
                  ELSE ST_GeogFromWKT(concat('POINT (',
                    10.05 + CAST(id % 37 AS DOUBLE) * 0.11, ' ',
                    44.95 + CAST(id % 53 AS DOUBLE) * 0.07, ')')) END AS geog
      FROM range(400)
    """)
    pts.createOrReplaceTempView("t_geog_cert_pts")
    certify_geog_point_view(spark, "t_geog_cert_pts",
                            {"geog": ("glon", "glat")})
    xy = geog_shadow_xy_for_view(spark, "t_geog_cert_pts", "geog")
    assert xy == ("glon", "glat")
    polys = spark.sql("""
      SELECT CAST(id AS INT) AS pid, ST_GeogFromWKT(concat(
               'POLYGON ((', 10 + id, ' 45, ', 12 + id, ' 45, ',
               12 + id, ' 47, ', 10 + id, ' 47, ', 10 + id, ' 45))'))
             AS pgeog
      FROM range(4)
    """)
    v = spark.table("t_geog_cert_pts")
    fast = geography_relation_join(v, polys, left_geom="geog",
                                   right_geom="pgeog",
                                   predicate="intersects",
                                   left_lonlat=xy) \
        .select("ka", "pid")
    slow = geography_relation_join(v, polys, left_geom="geog",
                                   right_geom="pgeog",
                                   predicate="intersects") \
        .select("ka", "pid")
    got = sorted((r["ka"], r["pid"]) for r in fast.collect())
    want = sorted((r["ka"], r["pid"]) for r in slow.collect())
    assert got == want and len(got) > 0
    # probe side pure codegen: the only Python nodes left are the
    # build-side cover and the refine (cut at the Initial Plan section
    # — an executed AdaptiveSparkPlan prints both copies)
    plan = fast._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert len(re.findall(r"ArrowEvalPython|BatchEvalPython", plan)) <= 2


def test_geog_cert_refuses_pole_and_mismatch(spark):
    """Certification fails loud on pole-band points and on shadows that
    do not bit-equal the geography coordinates."""
    import pytest as _pytest

    from sedona_db_spark.plans.sql_rewrite import certify_geog_point_view
    spark.sql("""
      SELECT 89.9999999999 AS glat, 10.0 AS glon,
             ST_GeogFromWKT('POINT (10.0 89.9999999999)') AS geog
    """).createOrReplaceTempView("t_geog_pole")
    with _pytest.raises(ValueError):
        certify_geog_point_view(spark, "t_geog_pole",
                                {"geog": ("glon", "glat")})
    spark.sql("""
      SELECT 10.0 AS glon, 45.0 AS glat,
             ST_GeogFromWKT('POINT (10.5 45.0)') AS geog
    """).createOrReplaceTempView("t_geog_bad")
    with _pytest.raises(ValueError):
        certify_geog_point_view(spark, "t_geog_bad",
                                {"geog": ("glon", "glat")})


def test_synth_geog_points_byte_identical(spark):
    """_synth_geog_points reproduces the constructor's bytes exactly
    (and NULL for NULL shadows)."""
    import pandas as pd

    from sedona_db_spark.functions.geography import _synth_geog_points
    rows = spark.sql("""
      SELECT ST_GeogFromWKT(concat('POINT (', x, ' ', y, ')')) AS g,
             x, y FROM VALUES (10.05, -45.5), (-179.99, 0.0),
             (0.125, 89.5) AS t(x, y)
    """).collect()
    lon = pd.Series([r["x"] for r in rows] + [None])
    lat = pd.Series([r["y"] for r in rows] + [None])
    synth = _synth_geog_points(lon, lat)
    for i, r in enumerate(rows):
        assert bytes(synth[i]) == bytes(r["g"]), i
    assert synth[len(rows)] is None
