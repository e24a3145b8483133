"""ST_* functions through the SQL surface (registered pandas UDFs)."""

import math

import pytest


def one(spark, expr):
    return spark.sql(f"SELECT {expr} AS v").first()["v"]


CASES = [
    ("ST_AsText(ST_Point(1.0, 2.0))", "POINT (1 2)"),
    ("ST_X(ST_Point(1.5, 2.0))", 1.5),
    ("ST_Y(ST_Point(1.5, 2.0))", 2.0),
    ("ST_AsText(ST_GeomFromWKT('LINESTRING (0 0, 1 1)'))", "LINESTRING (0 0, 1 1)"),
    ("ST_GeometryType(ST_Point(0.0, 0.0))", "ST_Point"),
    ("ST_Area(ST_MakeEnvelope(0.0, 0.0, 4.0, 3.0))", 12.0),
    ("ST_Perimeter(ST_MakeEnvelope(0.0, 0.0, 4.0, 3.0))", 14.0),
    ("ST_Length(ST_GeomFromWKT('LINESTRING (0 0, 3 4)'))", 5.0),
    ("ST_Distance(ST_Point(0.0, 0.0), ST_Point(3.0, 4.0))", 5.0),
    ("ST_Intersects(ST_MakeEnvelope(0.0,0.0,2.0,2.0), ST_Point(1.0,1.0))", True),
    ("ST_Contains(ST_MakeEnvelope(0.0,0.0,2.0,2.0), ST_Point(0.0,1.0))", False),
    ("ST_Covers(ST_MakeEnvelope(0.0,0.0,2.0,2.0), ST_Point(0.0,1.0))", True),
    ("ST_DWithin(ST_Point(0.0,0.0), ST_Point(3.0,4.0), 5.0)", True),
    ("ST_IsEmpty(ST_GeomFromWKT('POINT EMPTY'))", True),
    ("ST_NPoints(ST_GeomFromWKT('LINESTRING (0 0, 1 1, 2 2)'))", 3),
    ("ST_NumGeometries(ST_GeomFromWKT('MULTIPOINT ((1 1), (2 2))'))", 2),
    ("ST_AsText(ST_StartPoint(ST_GeomFromWKT('LINESTRING (5 5, 9 9)')))", "POINT (5 5)"),
    ("ST_AsText(ST_EndPoint(ST_GeomFromWKT('LINESTRING (5 5, 9 9)')))", "POINT (9 9)"),
    ("ST_Dimension(ST_GeomFromWKT('POLYGON ((0 0, 1 0, 1 1, 0 0))'))", 2),
    # GEOS envelope ring order: CW from (xmin, ymin) going up
    # (python/sedonadb tests/functions test_st_envelope)
    ("ST_AsText(ST_Envelope(ST_GeomFromWKT('LINESTRING (0 0, 2 3)')))",
     "POLYGON ((0 0, 0 3, 2 3, 2 0, 0 0))"),
    ("ST_AsText(ST_Centroid(ST_MakeEnvelope(0.0,0.0,4.0,4.0)))", "POINT (2 2)"),
    ("ST_AsText(ST_Translate(ST_Point(1.0,1.0), 2.0, 3.0))", "POINT (3 4)"),
    ("ST_AsText(ST_FlipCoordinates(ST_Point(1.0,2.0)))", "POINT (2 1)"),
    ("ST_IsValid(ST_GeomFromWKT('POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))'))", False),
    ("ST_SRID(ST_SetSRID(ST_Point(1.0,1.0), 3857))", 3857),
    ("ST_AsText(ST_Reverse(ST_GeomFromWKT('LINESTRING (0 0, 1 1, 2 2)')))",
     "LINESTRING (2 2, 1 1, 0 0)"),
    ("ST_NumInteriorRings(ST_GeomFromWKT("
     "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))'))", 1),
    ("ST_AsText(ST_GeometryN(ST_GeomFromWKT('MULTIPOINT ((1 1), (2 2))'), 2))", "POINT (2 2)"),
    ("ST_AsText(ST_PointN(ST_GeomFromWKT('LINESTRING (0 0, 1 1, 2 2)'), 2))", "POINT (1 1)"),
    ("ST_AsText(ST_LineInterpolatePoint(ST_GeomFromWKT('LINESTRING (0 0, 10 0)'), 0.3))",
     "POINT (3 0)"),
    ("ST_LineLocatePoint(ST_GeomFromWKT('LINESTRING (0 0, 10 0)'), ST_Point(3.0, 5.0))", 0.3),
    ("ST_HasZ(ST_GeomFromWKT('POINT Z (1 2 3)'))", True),
    ("ST_HasZ(ST_Point(1.0, 2.0))", False),
]


@pytest.mark.parametrize("expr,expected", CASES)
def test_sql_function(spark, expr, expected):
    v = one(spark, expr)
    if isinstance(expected, float):
        assert v == pytest.approx(expected, abs=1e-9)
    else:
        assert v == expected


def test_null_in_null_out(spark):
    row = spark.sql("""
      SELECT ST_Area(ST_GeomFromWKT(NULL)) AS a,
             ST_Distance(NULL, ST_Point(1.0, 2.0)) AS d,
             ST_X(NULL) AS x,
             ST_Intersects(NULL, ST_Point(1.0, 2.0)) AS i
    """).first()
    assert row["a"] is None and row["d"] is None and row["x"] is None and row["i"] is None


def test_constructors_null_and_nan_in_null_out(spark):
    """A NULL double reaches the kernels as NaN, so the point and
    envelope constructors answer NULL for both (an envelope used to
    come back as a NaN-cornered polygon that joins disagreed on)."""
    row = spark.sql("""
      SELECT ST_MakeEnvelope(CAST(NULL AS DOUBLE), 0.0D, 1.0D, 1.0D) AS en,
             ST_MakeEnvelope(0.0D, 0.0D, double('NaN'), 1.0D) AS ei,
             ST_Point(double('NaN'), 1.0D) AS p,
             ST_GeogPoint(CAST(NULL AS DOUBLE), 1.0D) AS g
    """).first()
    assert all(row[c] is None for c in ("en", "ei", "p", "g"))


def test_astext_non_finite_coordinates(spark):
    """ST_AsText prints a non-finite coordinate as repr does (inf,
    -inf, nan) instead of raising in int(): ±inf through the point
    constructor, NaN through a hand-built LINESTRING WKB (a NaN point is
    POINT EMPTY, so the vertex has to sit in a line)."""
    import struct
    line = (b"\x01\x02\x00\x00\x00\x02\x00\x00\x00"
            + struct.pack("<4d", 0.0, 0.0, math.nan, 1.0))
    row = spark.sql(f"""
      SELECT ST_AsText(ST_Point(double('Infinity'), 1.0D)) AS pinf,
             ST_AsText(ST_Point(2.5D, double('-Infinity'))) AS ninf,
             ST_AsText(ST_GeomFromWKB(X'{line.hex()}')) AS nan
    """).first()
    assert row["pinf"] == "POINT (inf 1)"
    assert row["ninf"] == "POINT (2.5 -inf)"
    assert row["nan"] == "LINESTRING (0 0, nan 1)"


def test_buffer_and_hull(spark):
    v = one(spark, "ST_Area(ST_Buffer(ST_Point(0.0,0.0), 1.0))")
    assert abs(v - math.pi) / math.pi < 0.01  # 32-gon underestimates by ~0.64%
    v = one(spark, "ST_Area(ST_ConvexHull(ST_GeomFromWKT("
            "'MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))')))")
    assert v == 16.0


def test_geojson(spark):
    import json
    v = json.loads(one(spark, "ST_AsGeoJSON(ST_Point(1.0, 2.0))"))
    assert v == {"type": "Point", "coordinates": [1.0, 2.0]}


def test_st_namespace():
    from sedona_db_spark.functions import st
    fn = st.intersects
    assert fn.__name__ == "ST_Intersects"
    with __import__("pytest").raises(AttributeError):
        st.nosuchfunction


def test_distance_point_vs_linestring_ragged_fast_path(spark):
    """Round 5: uniform point-vs-linestring batches route through the
    ragged batch decoder (no per-row Python objects); results match the
    per-row geometry path exactly."""
    rows = spark.sql("""
      SELECT ST_Distance(ST_Point(5.0, 5.0),
                         ST_GeomFromText('LINESTRING(0 0, 10 0)')) AS d1,
             ST_Distance(ST_GeomFromText('LINESTRING(0 0, 10 0)'),
                         ST_Point(20.0, 0.0)) AS d2,
             ST_Distance(ST_Point(5.0, 0.0),
                         ST_GeomFromText('LINESTRING(0 0, 10 0)')) AS d3
    """).collect()[0]
    assert rows["d1"] == 5.0 and rows["d2"] == 10.0 and rows["d3"] == 0.0
