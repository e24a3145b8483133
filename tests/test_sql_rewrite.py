"""SQL-level spatial join planning (round 7, verdict item #1/#2).

The session's SQL front door must plan ``JOIN ... ON ST_Pred(...)`` through
the engine's spatial join operators (reference optimizer.rs:197-415), not
Spark's default pair-explosion plan (condition-less BroadcastNestedLoopJoin
+ per-pair Python filter).
"""

import re
import warnings

import pytest
from pyspark.sql import functions as F


def _prep(spark):
    import __spark_entry__ as E
    E._prep(spark, "/root/testdata/sf0.001")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_no_pair_explosion(df):
    """The anti-pattern is a CONDITION-LESS nested-loop join (all pairs
    materialized, Python filter above).  The operator's broadcast path may
    legitimately use a BNLJ whose join condition carries the bbox prune."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            tail = ln.split("BroadcastNestedLoopJoin", 1)[1].rstrip()
            assert not tail.endswith(("Inner", "BuildRight", "BuildLeft",
                                      "LeftOuter")), f"unconditioned BNLJ: {ln}"


def _vanilla(spark, q):
    from pyspark.sql.session import SparkSession
    return SparkSession.sql.__get__(spark)(q)


INNER_Q = """
  SELECT c.c_custkey, n.n_nationkey
  FROM cust_pts c JOIN nation_boxes n
  ON ST_Contains(n.geom, c.geom)
"""


def test_inner_join_rewrite_matches_vanilla(spark):
    _prep(spark)
    df = spark.sql(INNER_Q)
    _assert_no_pair_explosion(df)
    got = _rows(df, ["c_custkey", "n_nationkey"])
    want = _rows(_vanilla(spark, INNER_Q), ["c_custkey", "n_nationkey"])
    assert got == want and len(got) > 0


def test_reversed_args_and_within(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c JOIN nation_boxes n
      ON ST_Within(c.geom, n.geom)
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    assert _rows(df, ["c_custkey", "n_nationkey"]) == \
        _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])


def test_left_join_rewrite(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 800) c
      LEFT JOIN nation_boxes n ON ST_Within(c.geom, n.geom)
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    from sedona_db_spark.operators.spatial_join import spatial_join
    cust = spark.table("cust_pts").filter("c_custkey < 800")
    boxes = spark.table("nation_boxes")
    twin = spatial_join(cust, boxes, predicate="within", how="left") \
        .select("c_custkey", "n_nationkey")
    assert _rows(df, ["c_custkey", "n_nationkey"]) == \
        _rows(twin, ["c_custkey", "n_nationkey"])


def test_left_join_reversed_predicate_transposes(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 800) c
      LEFT JOIN nation_boxes n ON ST_Contains(n.geom, c.geom)
    """
    qref = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 800) c
      LEFT JOIN nation_boxes n ON ST_Within(c.geom, n.geom)
    """
    assert _rows(spark.sql(q), ["c_custkey", "n_nationkey"]) == \
        _rows(spark.sql(qref), ["c_custkey", "n_nationkey"])


def test_comma_where_form(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c, nation_boxes n
      WHERE ST_Contains(n.geom, c.geom) AND c.c_custkey < 200
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    want = [r for r in _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
            if r[0] < 200]
    assert _rows(df, ["c_custkey", "n_nationkey"]) == want


def test_extra_on_conjunct_moves_to_where(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c JOIN nation_boxes n
      ON ST_Contains(n.geom, c.geom) AND c.c_custkey < 200 AND n.n_nationkey >= 0
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    want = [r for r in _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
            if r[0] < 200]
    assert _rows(df, ["c_custkey", "n_nationkey"]) == want


def test_equi_key_conjunct_declines_to_hash_join(spark):
    """Reference optimizer.rs:253-257: an equi-key conjunct means Spark's
    hash join + post-filter is the right plan — the rewrite must decline."""
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c JOIN nation_boxes n
      ON c.c_nationkey = n.n_nationkey AND ST_Contains(n.geom, c.geom)
    """
    df = spark.sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    # correctness unchanged
    want = [r for r in _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])]
    got = _rows(df, ["c_custkey", "n_nationkey"])
    assert set(got) <= set(want)


def test_dwithin_join_rewrite(spark):
    _prep(spark)
    q = """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 60) a
      JOIN (SELECT * FROM cust_pts WHERE c_custkey >= 60 AND c_custkey < 120) b
      ON ST_DWithin(a.geom, b.geom, 2.0)
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    from sedona_db_spark.operators.spatial_join import spatial_join
    a = spark.table("cust_pts").filter("c_custkey < 60")
    b = spark.table("cust_pts").filter("c_custkey >= 60 AND c_custkey < 120")
    twin = spatial_join(a, b, distance=2.0, predicate="intersects") \
        .select(F.col("c_custkey").alias("ka"),
                F.col("right_c_custkey").alias("kb"))
    assert _rows(df, ["ka", "kb"]) == _rows(twin, ["ka", "kb"])
    assert len(df.take(1)) == 1


def test_knn_join_rewrite(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey, round(knn_distance, 6) AS dist
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 300) c
      JOIN (SELECT n_nationkey,
                   ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                            CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 + 10.0) AS geom
            FROM nation) n
      ON ST_KNN(c.geom, n.geom, 3, false)
    """
    df = spark.sql(q)
    from sedona_db_spark.operators.knn_join import knn_join
    queries = spark.table("cust_pts").filter("c_custkey < 300")
    objects = _vanilla(spark, """
      SELECT n_nationkey,
             ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                      CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 + 10.0) AS geom
      FROM nation""")
    twin = knn_join(queries, objects, k=3) \
        .select("c_custkey", "n_nationkey", F.round("knn_distance", 6).alias("dist"))
    assert _rows(df, ["c_custkey", "n_nationkey", "dist"]) == \
        _rows(twin, ["c_custkey", "n_nationkey", "dist"])


def test_knn_object_side_filter_after_neighbor_selection(spark):
    """Reference pushdown semantics (optimizer.rs:417-555): an object-side
    predicate must filter the k chosen neighbors, NOT restrict the object
    set before selection."""
    _prep(spark)
    base = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 50) c
      JOIN (SELECT n_nationkey,
                   ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                            CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 + 10.0) AS geom
            FROM nation) n
      ON ST_KNN(c.geom, n.geom, 3, false)
    """
    filtered = base + " WHERE n.n_nationkey < 8"
    got = _rows(spark.sql(filtered), ["c_custkey", "n_nationkey"])
    # post-filter of the unfiltered neighbor set — NOT knn over objects<8
    want = [r for r in _rows(spark.sql(base), ["c_custkey", "n_nationkey"])
            if r[1] < 8]
    assert got == want
    # and it must differ from the pre-filtered-object-side interpretation
    # for at least one query point (objects 8.. are someone's neighbor)
    all_rows = _rows(spark.sql(base), ["c_custkey", "n_nationkey"])
    assert any(r[1] >= 8 for r in all_rows)


def test_query_side_filter_above_knn(spark):
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c
      JOIN (SELECT n_nationkey,
                   ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                            CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 + 10.0) AS geom
            FROM nation) n
      ON ST_KNN(c.geom, n.geom, 3, false)
      WHERE c.c_custkey < 20
    """
    df = spark.sql(q)
    got = _rows(df, ["c_custkey", "n_nationkey"])
    assert len(got) > 0
    assert all(r[0] < 20 for r in got)
    assert len({r[0] for r in got}) * 3 == len(got)


def test_star_expansion_and_aggregation_above(spark):
    _prep(spark)
    q = """
      SELECT n.n_nationkey, count(*) AS n_pts, round(sum(c.c_acctbal), 2) AS bal
      FROM cust_pts c JOIN nation_boxes n ON ST_Contains(n.geom, c.geom)
      GROUP BY n.n_nationkey
      ORDER BY n.n_nationkey
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    want = (_vanilla(spark, q)).collect()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in want]
    # a.* / b.* expansion
    q2 = """
      SELECT n.* FROM cust_pts c JOIN nation_boxes n
      ON ST_Contains(n.geom, c.geom) WHERE c.c_custkey = 1
    """
    df2 = spark.sql(q2)
    assert "n_nationkey" in df2.columns and df2.count() >= 0


def test_vanilla_sql_unaffected(spark):
    _prep(spark)
    # scalar ST_ use (no join) keeps the vanilla path
    df = spark.sql("SELECT ST_AsText(ST_Point(1.0, 2.0)) AS wkt")
    assert df.collect()[0][0] == "POINT (1 2)"
    # plain relational SQL untouched
    assert spark.sql("SELECT count(*) AS n FROM nation").collect()[0][0] == 25


def test_rewrite_is_idempotent_per_query_text(spark):
    _prep(spark)
    a = _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
    b = _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
    assert a == b
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("__sedona_sql_join_")]
    # same SQL text reuses one deterministic view name
    assert len([v for v in views]) == len(set(views))


def test_scalar_peephole_distance_sphere(spark):
    """Round 7: ST_DistanceSphere/ST_Distance over two directly
    constructed ST_Point(x, y) calls plan as native codegen arithmetic
    (no WKB build, no Arrow/python stage), value-equivalent to the
    kernels and NULL-in-NULL-out (the clamp is a CASE because Spark's
    LEAST ignores NULL arguments)."""
    import numpy as np
    import pyspark.sql.functions as F

    from sedona_db_spark.functions import get_udf
    from sedona_db_spark.plans.sql_rewrite import rewrite_calls

    s = rewrite_calls(
        spark,
        "SELECT ST_DistanceSphere(ST_Point(a - 1.0, b), ST_Point(0.0, 0.0))"
        " FROM t")
    assert s is not None and "ASIN" in s and "ST_DistanceSphere" not in s
    assert "LEAST" not in s                   # NULL-swallowing clamp banned
    assert rewrite_calls(
        spark, "SELECT ST_DistanceSphere(a.geom, b.geom) FROM t") is None
    assert rewrite_calls(spark, "SELECT ST_Buffer(g, 1.0) FROM t") is None
    e = rewrite_calls(
        spark,
        "SELECT ST_Distance(ST_Point(x1, y1), ST_Point(x2, y2)) FROM t")
    assert e is not None and "SQRT" in e and "ASIN" not in e

    df = spark.range(0, 5000).selectExpr(
        "CAST(id AS DOUBLE) % 360.0 - 180.0 AS lon1",
        "CAST(id * 7 % 170 AS DOUBLE) - 85.0 AS lat1",
        "CAST(id * 13 % 360 AS DOUBLE) - 180.0 AS lon2",
        "CAST(id * 29 % 170 AS DOUBLE) - 85.0 AS lat2",
        "CASE WHEN id % 997 = 0 THEN NULL ELSE 1.0 END AS nl")
    df.createOrReplaceTempView("peep_coords")
    native = spark.sql(
        "SELECT ST_DistanceSphere(ST_Point(lon1 * nl, lat1),"
        " ST_Point(lon2, lat2)) AS d FROM peep_coords")
    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan
    a = [r["d"] for r in native.collect()]
    pt = get_udf("ST_Point")
    dsp = get_udf("ST_DistanceSphere")
    b = [r["d"] for r in df.select(
        dsp(pt(F.expr("lon1 * nl"), F.col("lat1")),
            pt(F.col("lon2"), F.col("lat2"))).alias("d")).collect()]
    assert sum(v is None for v in a) == sum(v is None for v in b) > 0
    va = np.array([v for v in a if v is not None])
    vb = np.array([v for v in b if v is not None])
    assert np.max(np.abs(va - vb)) < 1e-6     # meters

    ne = spark.sql(
        "SELECT ST_Distance(ST_Point(lon1 * nl, lat1),"
        " ST_Point(lon2, lat2)) AS d FROM peep_coords")
    assert "Python" not in ne._jdf.queryExecution().executedPlan().toString()
    ae = [r["d"] for r in ne.collect()]
    dst = get_udf("ST_Distance")
    be = [r["d"] for r in df.select(
        dst(pt(F.expr("lon1 * nl"), "lat1"),
            pt("lon2", "lat2")).alias("d")).collect()]
    assert sum(v is None for v in ae) == sum(v is None for v in be) > 0
    va = np.array([v for v in ae if v is not None])
    vb = np.array([v for v in be if v is not None])
    assert np.max(np.abs(va - vb)) < 1e-9


def test_knn_self_join_doc_shape(spark):
    """The reference's sql-joins.md KNN example is a SELF join with
    aliases (cities_l/cities_r over one table); the rewrite must route
    it through knn_join with the right-side columns disambiguated."""
    spark.sql("""
      SELECT id, concat('city_', id) AS name,
             ST_Point(CAST(id % 10 AS DOUBLE), CAST(id DIV 10 AS DOUBLE))
               AS geometry
      FROM range(50) t(id)""").createOrReplaceTempView("cities_self")
    df = spark.sql("""
      SELECT cities_l.name AS city, cities_r.name AS nearest_neighbor
      FROM cities_self AS cities_l
      INNER JOIN cities_self AS cities_r
        ON ST_KNN(cities_l.geometry, cities_r.geometry, 3, false)
    """)
    rows = df.collect()
    assert len(rows) == 150                      # 50 queries x k=3
    # every query's neighbor set includes itself at distance 0 (the
    # operator semantics for self joins); each city appears as a query
    by_city = {}
    for r in rows:
        by_city.setdefault(r["city"], []).append(r["nearest_neighbor"])
    assert len(by_city) == 50
    assert all(c in ns for c, ns in by_city.items())


def test_scalar_peephole_dwithin(spark):
    """ST_DWithin over two constructed points -> native comparison
    (no python stage), boolean+NULL equivalent to the kernel."""
    import pyspark.sql.functions as F

    from sedona_db_spark.functions import get_udf
    from sedona_db_spark.plans.sql_rewrite import rewrite_calls

    s = rewrite_calls(
        spark,
        "SELECT ST_DWithin(ST_Point(a, b), ST_Point(c, d), 5.0) FROM t")
    assert s is not None and "<=" in s and "ST_DWithin" not in s
    assert rewrite_calls(
        spark, "SELECT ST_DWithin(g1, g2, 5.0) FROM t") is None

    df = spark.range(0, 3000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x1", "CAST(id % 37 AS DOUBLE) AS y1",
        "CAST(id % 91 AS DOUBLE) AS x2", "CAST(id % 53 AS DOUBLE) AS y2",
        "CASE WHEN id % 499 = 0 THEN NULL ELSE 1.0 END AS nl")
    df.createOrReplaceTempView("dw_pts")
    native = spark.sql(
        "SELECT ST_DWithin(ST_Point(x1 * nl, y1), ST_Point(x2, y2), 20.0)"
        " AS w FROM dw_pts")
    assert "Python" not in \
        native._jdf.queryExecution().executedPlan().toString()
    a = [r["w"] for r in native.collect()]
    pt, dw = get_udf("ST_Point"), get_udf("ST_DWithin")
    b = [r["w"] for r in df.select(
        dw(pt(F.expr("x1 * nl"), "y1"), pt("x2", "y2"),
           F.lit(20.0)).alias("w")).collect()]
    assert a == b
    assert (sum(v is None for v in a) > 0 and sum(v is True for v in a) > 0
            and sum(v is False for v in a) > 0)


def test_dwithin_peephole_boundary_epsilon(spark):
    """Review finding: the peephole must keep the kernel's r <= d + 1e-12
    boundary tolerance — an exact-radius pair whose float distance lands
    one ulp above d is TRUE on both paths."""
    import pyspark.sql.functions as F

    from sedona_db_spark.functions import get_udf

    # sqrt(0.1^2 + 0.2^2) = 0.22360679774997896; d one ulp below it —
    # a naive <= is FALSE, the kernel's epsilon makes it TRUE
    d_edge = 0.22360679774997894
    df = spark.sql("SELECT 0.1D AS dx, 0.2D AS dy")
    df.createOrReplaceTempView("eps_pt")
    native = spark.sql(
        "SELECT ST_DWithin(ST_Point(0.0D, 0.0D), ST_Point(dx, dy), "
        f"{d_edge!r}D) AS w FROM eps_pt").first()["w"]
    pt, dw = get_udf("ST_Point"), get_udf("ST_DWithin")
    kern = df.select(dw(pt(F.lit(0.0), F.lit(0.0)), pt("dx", "dy"),
                        F.lit(d_edge)).alias("w")).first()["w"]
    assert native is True and kern is True


def _mk_cmp_views(spark):
    spark.sql("SELECT 1 AS qid, ST_Point(0.0D, 0.0D) AS geom") \
        .createOrReplaceTempView("cmp_q")
    spark.sql("""
      SELECT id2, ST_Point(x, y) AS geom FROM VALUES
        (10, 3.0D, 4.0D),        -- distance exactly 5
        (11, 0.0D, 5.0D),        -- distance exactly 5
        (12, 0.0D, 5.00001D),    -- just outside
        (13, 1.0D, 1.0D)         -- well inside
      AS t(id2, x, y)
    """).createOrReplaceTempView("cmp_o")


def test_distance_comparison_join_rewrite(spark):
    """ST_Distance(a,b) <= d in a join condition plans through the
    distance join (reference utils.rs parse_distance_predicate) with the
    original comparison surviving as an exact refine."""
    _prep(spark)
    _mk_cmp_views(spark)
    q = """
      SELECT a.qid, b.id2 FROM cmp_q a JOIN cmp_o b
      ON ST_Distance(a.geom, b.geom) <= 5.0
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    got = _rows(df, ["qid", "id2"])
    assert got == [(1, 10), (1, 11), (1, 13)]
    assert got == _rows(_vanilla(spark, q), ["qid", "id2"])


def test_distance_comparison_strict_boundary(spark):
    """Strict < excludes the exact-radius pairs the inclusive <= keeps —
    the refine preserves the comparison operator exactly (the reference
    folds Lt and LtEq together; this engine stays bit-faithful to SQL)."""
    _prep(spark)
    _mk_cmp_views(spark)
    q = """
      SELECT a.qid, b.id2 FROM cmp_q a JOIN cmp_o b
      ON ST_Distance(a.geom, b.geom) < 5.0
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    assert _rows(df, ["qid", "id2"]) == [(1, 13)]


def test_distance_comparison_reversed_literal_first(spark):
    """d >= ST_Distance(a,b) (literal first, Gt/GtEq) matches too."""
    _prep(spark)
    _mk_cmp_views(spark)
    q = """
      SELECT a.qid, b.id2 FROM cmp_q a, cmp_o b
      WHERE 5.0 >= ST_Distance(a.geom, b.geom)
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    got = _rows(df, ["qid", "id2"])
    assert got == [(1, 10), (1, 11), (1, 13)]
    assert got == _rows(_vanilla(spark, q), ["qid", "id2"])


def test_distance_comparison_with_extra_conjunct(spark):
    """A non-spatial ON conjunct co-exists with the comparison form."""
    _prep(spark)
    q = """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 60) a
      JOIN (SELECT * FROM cust_pts WHERE c_custkey < 60) b
      ON ST_Distance(a.geom, b.geom) < 2.0 AND a.c_custkey < b.c_custkey
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    got = _rows(df, ["ka", "kb"])
    assert got == _rows(_vanilla(spark, q), ["ka", "kb"])
    assert len(got) > 0


CHAIN_Q = """
  SELECT t.n_name, count(*) AS n_pts
  FROM nation t
  JOIN nation_boxes n ON t.n_nationkey = n.n_nationkey
  JOIN cust_pts c ON ST_Contains(n.geom, c.geom)
  GROUP BY t.n_name
"""


def test_chain_rewrite_three_tables(spark):
    """dim equi-join + spatial join in one FROM chain: the spatial pair
    plans through the operator, the equi join survives as a hash join."""
    _prep(spark)
    df = spark.sql(CHAIN_Q)
    _assert_no_pair_explosion(df)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["n_name", "n_pts"])
    want = _rows(_vanilla(spark, CHAIN_Q), ["n_name", "n_pts"])
    assert got == want and len(got) > 0


def test_chain_rewrite_where_form_and_order(spark):
    """Comma-form chain; spatial pair NOT adjacent in the FROM list."""
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey, t.n_name
      FROM cust_pts c, nation t, nation_boxes n
      WHERE ST_Within(c.geom, n.geom) AND t.n_nationkey = n.n_nationkey
        AND c.c_custkey < 300
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["c_custkey", "n_nationkey", "n_name"])
    assert got == _rows(_vanilla(spark, q), ["c_custkey", "n_nationkey", "n_name"])
    assert len(got) > 0


def test_chain_equi_key_on_spatial_pair_declines(spark):
    """An equi key between the spatial pair itself -> hash join wins,
    whole rewrite declines (reference optimizer.rs:253-257)."""
    _prep(spark)
    q = """
      SELECT count(*) AS n
      FROM nation t
      JOIN nation_boxes n ON t.n_nationkey = n.n_nationkey
      JOIN cust_pts c ON ST_Contains(n.geom, c.geom)
         AND n.n_nationkey = c.c_custkey
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None
    assert df.first()["n"] == _vanilla(spark, q).first()["n"]


def test_chain_outer_join_declines(spark):
    _prep(spark)
    q = """
      SELECT count(*) AS n
      FROM nation t
      LEFT JOIN nation_boxes n ON t.n_nationkey = n.n_nationkey
      JOIN cust_pts c ON ST_Contains(n.geom, c.geom)
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None
    assert df.first()["n"] == _vanilla(spark, q).first()["n"]


def test_chain_distance_comparison_form(spark):
    _prep(spark)
    q = """
      SELECT t.n_name, b.c_custkey
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 25) q1
      JOIN (SELECT * FROM cust_pts WHERE c_custkey >= 25 AND c_custkey < 60) b
        ON ST_Distance(q1.geom, b.geom) < 2.0
      JOIN nation t ON t.n_nationkey = b.c_custkey % 25
    """
    df = spark.sql(q)
    _assert_no_pair_explosion(df)
    got = _rows(df, ["n_name", "c_custkey"])
    assert got == _rows(_vanilla(spark, q), ["n_name", "c_custkey"])
    assert len(got) > 0


def test_geography_dwithin_sql_join_routes_spherically(spark):
    """Geography-tagged columns through the SQL front door must NOT get
    the planar distance join (degree-space bboxes + planar refine are
    numerically wrong for meters): point dwithin routes to the
    native geography join, refined by the SAME dispatched kernel vanilla
    runs — results identical to vanilla."""
    _prep(spark)
    spark.sql("""
      SELECT c_custkey AS ka,
             ST_GeogPoint(CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.5,
                          CAST((c_custkey * 7) % 160 AS DOUBLE) - 80.0 + 0.5) AS g
      FROM customer WHERE c_custkey < 120
    """).createOrReplaceTempView("geo_a")
    spark.sql("""
      SELECT c_custkey AS kb,
             ST_GeogPoint(CAST((c_custkey * 13) % 360 AS DOUBLE) - 180.0 + 0.5,
                          CAST((c_custkey * 29) % 160 AS DOUBLE) - 80.0 + 0.5) AS g
      FROM customer WHERE c_custkey < 120
    """).createOrReplaceTempView("geo_b")
    q = """
      SELECT a.ka, b.kb FROM geo_a a JOIN geo_b b
      ON ST_DWithin(a.g, b.g, 1000000.0)
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, q), ["ka", "kb"])
    assert got == want and len(got) > 0
    # spherical correctness is pinned by the vanilla comparison above:
    # vanilla evaluates the dispatched (spherical) kernel per pair


def test_geography_predicate_join_routes_native(spark):
    """Round 9 (r8 verdict #1): tagged values with a topological
    predicate route through the spherical cell-cover join — never the
    planar operator, never vanilla's BroadcastNestedLoopJoin pair
    explosion — with kernel-identical results."""
    _prep(spark)
    spark.sql("""
      SELECT n_nationkey AS k,
             ST_ToGeography(ST_Point(CAST(n_nationkey AS DOUBLE),
                                     CAST(n_nationkey AS DOUBLE))) AS g
      FROM nation
    """).createOrReplaceTempView("geo_pts")
    q = """
      SELECT a.k AS ka, b.k AS kb FROM geo_pts a JOIN geo_pts b
      ON ST_Intersects(a.g, b.g)
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = _rows(df, ["ka", "kb"])
    assert got == [(k, k) for k in range(25)]


def test_planar_operator_rejects_geography_loud(spark):
    """Direct spatial_join on tagged values must fail LOUD, not return
    planar-wrong pairs."""
    import pytest as _pytest

    from sedona_db_spark.operators.spatial_join import spatial_join
    _prep(spark)
    a = spark.sql("SELECT 1 AS id, ST_GeogPoint(10.0D, 20.0D) AS geom")
    b = spark.sql("SELECT 2 AS id2, ST_GeogPoint(11.0D, 20.0D) AS geom")
    out = spatial_join(a, b, distance=50000.0)
    with _pytest.raises(Exception, match="geography|spherical"):
        out.collect()


# ----------------------------------------------------------------------
# round 8: full join-type lattice through the SQL front door (reference
# SpatialJoinExec join types, rust/sedona-spatial-join/src/exec.rs:235-240).
# Vanilla Spark cannot even plan these shapes (UNSUPPORTED_FEATURE
# PYTHON_UDF_IN_ON_CLAUSE for outer joins over a UDF predicate), so the
# oracle is the arithmetic point-in-box twin of the fixture geometry.
# ----------------------------------------------------------------------

_LAT_L = ("(SELECT * FROM cust_pts WHERE c_custkey < 800) c")
_LAT_R = ("(SELECT * FROM nation_boxes WHERE n_nationkey < 20) n")
_ARITH_L = ("(SELECT c_custkey, abs(c_acctbal) % 100.0 AS px,"
            " (c_custkey % 1000) / 10.0 AS py"
            " FROM customer WHERE c_custkey < 800) c")
_ARITH_R = ("(SELECT n_nationkey, CAST(n_nationkey % 5 AS DOUBLE) * 20.0 AS x0,"
            " CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 AS y0"
            " FROM nation WHERE n_nationkey < 20) n")
_ARITH_COND = ("c.px > n.x0 AND c.px < n.x0 + 20.0 AND"
               " c.py > n.y0 AND c.py < n.y0 + 20.0")


def _rows_nullsafe(df, cols):
    return sorted(tuple((r[c] is None, r[c] if r[c] is not None else 0)
                        for c in cols) for r in df.collect())


@pytest.mark.parametrize("kw", ["RIGHT JOIN", "RIGHT OUTER JOIN",
                                "FULL JOIN", "FULL OUTER JOIN"])
def test_outer_lattice_join_rewrite(spark, kw):
    _prep(spark)
    q = (f"SELECT c.c_custkey, n.n_nationkey FROM {_LAT_L} {kw} {_LAT_R} "
         "ON ST_Within(c.geom, n.geom)")
    oq = (f"SELECT c.c_custkey, n.n_nationkey FROM {_ARITH_L} {kw} {_ARITH_R} "
          f"ON {_ARITH_COND}")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows_nullsafe(df, ["c_custkey", "n_nationkey"]) == \
        _rows_nullsafe(_vanilla(spark, oq), ["c_custkey", "n_nationkey"])


@pytest.mark.parametrize("kw,exists", [("LEFT SEMI JOIN", "EXISTS"),
                                       ("SEMI JOIN", "EXISTS"),
                                       ("LEFT ANTI JOIN", "NOT EXISTS"),
                                       ("ANTI JOIN", "NOT EXISTS")])
def test_semi_anti_lattice_join_rewrite(spark, kw, exists):
    _prep(spark)
    q = (f"SELECT c.c_custkey FROM {_LAT_L} {kw} {_LAT_R} "
         "ON ST_Within(c.geom, n.geom)")
    oq = (f"SELECT c.c_custkey FROM {_ARITH_L} WHERE {exists} "
          f"(SELECT 1 FROM {_ARITH_R} WHERE {_ARITH_COND})")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows_nullsafe(df, ["c_custkey"]) == \
        _rows_nullsafe(_vanilla(spark, oq), ["c_custkey"])


def test_lattice_right_join_reversed_predicate_transposes(spark):
    _prep(spark)
    q = (f"SELECT c.c_custkey, n.n_nationkey FROM {_LAT_L} RIGHT JOIN "
         f"{_LAT_R} ON ST_Contains(n.geom, c.geom)")
    oq = (f"SELECT c.c_custkey, n.n_nationkey FROM {_ARITH_L} RIGHT JOIN "
          f"{_ARITH_R} ON {_ARITH_COND}")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows_nullsafe(df, ["c_custkey", "n_nationkey"]) == \
        _rows_nullsafe(_vanilla(spark, oq), ["c_custkey", "n_nationkey"])


def test_lattice_extra_on_conjunct_refines_inner(spark):
    """Round 10 (was a blanket decline through r9): outer/semi/anti
    modes with extra non-spatial ON conjuncts refine the inner core
    before the row-id lattice bookkeeping — semantically ON (c1 AND
    c2), verified against the arithmetic form."""
    _prep(spark)
    q = (f"SELECT c.c_custkey FROM {_LAT_L} LEFT ANTI JOIN {_LAT_R} "
         "ON ST_Within(c.geom, n.geom) AND n.n_nationkey > 2")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = sorted(r["c_custkey"] for r in df.collect())
    want = sorted(r["c_custkey"] for r in spark.sql(
        f"SELECT c.c_custkey FROM {_ARITH_L} LEFT ANTI JOIN {_ARITH_R} "
        f"ON {_ARITH_COND} AND n.n_nationkey > 2").collect())
    assert got == want and len(got) > 0


# ----------------------------------------------------------------------
# round 8: column-valued distance (reference DistancePredicate
# distance_side, rust/sedona-expr/src/spatial_predicate.rs:44-99)
# ----------------------------------------------------------------------

def _prep_radius_views(spark):
    _prep(spark)
    spark.sql("""
      SELECT c_custkey, geom, (c_custkey % 7) * 2.0 AS radius
      FROM cust_pts WHERE c_custkey < 400
    """).createOrReplaceTempView("pts_r")
    spark.sql("""
      SELECT s_suppkey, ST_Point(abs(s_acctbal) % 100.0,
                                 (s_suppkey % 1000) / 10.0) AS geom
      FROM supplier
    """).createOrReplaceTempView("sup_pts")


def test_dwithin_column_radius_join(spark):
    _prep_radius_views(spark)
    q = """SELECT a.c_custkey, b.s_suppkey FROM pts_r a JOIN sup_pts b
           ON ST_DWithin(a.geom, b.geom, a.radius)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    got = _rows(df, ["c_custkey", "s_suppkey"])
    want = _rows(_vanilla(spark, q), ["c_custkey", "s_suppkey"])
    assert got == want and len(got) > 0


def test_distance_comparison_column_bound(spark):
    _prep_radius_views(spark)
    q = """SELECT a.c_custkey, b.s_suppkey FROM pts_r a JOIN sup_pts b
           ON ST_Distance(a.geom, b.geom) < a.radius"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows(df, ["c_custkey", "s_suppkey"]) == \
        _rows(_vanilla(spark, q), ["c_custkey", "s_suppkey"])


def test_dwithin_radius_on_right_side(spark):
    """Radius owned by the RIGHT relation maxes over that side."""
    _prep_radius_views(spark)
    q = """SELECT a.s_suppkey, b.c_custkey FROM sup_pts a JOIN pts_r b
           ON ST_DWithin(a.geom, b.geom, b.radius)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert _rows(df, ["s_suppkey", "c_custkey"]) == \
        _rows(_vanilla(spark, q), ["s_suppkey", "c_custkey"])


def test_dwithin_radius_both_sides_declines(spark):
    """A radius expression referencing BOTH sides has no owning relation
    to max over -> vanilla planning."""
    _prep_radius_views(spark)
    q = """SELECT a.c_custkey, b.s_suppkey FROM pts_r a JOIN sup_pts b
           ON ST_DWithin(a.geom, b.geom, a.radius + b.s_suppkey)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None


# ----------------------------------------------------------------------
# round 8: raster-vs-geometry join routing (reference join eligibility,
# rust/sedona-expr/src/spatial_predicate.rs:203-205)
# ----------------------------------------------------------------------

def _prep_rasters(spark):
    _prep(spark)
    from pyspark.sql import functions as F

    from sedona_db_spark.functions import raster as rs
    boxes = spark.table("nation_boxes")
    boxes.select("n_nationkey",
                 rs.as_raster(F.col("geom"), 8, 8, F.lit(1.0)).alias("rast")
                 ).createOrReplaceTempView("nation_rasters")


def test_raster_geom_join_rewrite(spark):
    """RS_Contains(r, g) joins through the native spatial join on the
    materialized footprint — exact (RS_Pred(r,g) is DEFINED as
    ST_Pred(RS_Envelope(r), g)), no nested loop."""
    _prep_rasters(spark)
    q = """SELECT r.n_nationkey, c.c_custkey
           FROM nation_rasters r JOIN cust_pts c
           ON RS_Contains(r.rast, c.geom)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    got = _rows(df, ["n_nationkey", "c_custkey"])
    want = _rows(_vanilla(spark, q), ["n_nationkey", "c_custkey"])
    assert got == want and len(got) > 0


def test_raster_geom_join_raster_on_right(spark):
    """Raster on the RIGHT relation transposes the predicate so the
    operator keeps SQL-side order."""
    _prep_rasters(spark)
    q = """SELECT c.c_custkey, r.n_nationkey
           FROM cust_pts c JOIN nation_rasters r
           ON RS_Contains(r.rast, c.geom)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows(df, ["c_custkey", "n_nationkey"]) == \
        _rows(_vanilla(spark, q), ["c_custkey", "n_nationkey"])


def test_raster_geom_semi_join(spark):
    """RS join composes with the round-8 join-type lattice: every
    customer point inside SOME raster footprint, emitted once."""
    _prep_rasters(spark)
    q = """SELECT c.c_custkey
           FROM (SELECT * FROM cust_pts WHERE c_custkey < 800) c
           LEFT SEMI JOIN nation_rasters r ON RS_Contains(r.rast, c.geom)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = [r["c_custkey"] for r in df.collect()]
    assert len(got) == len(set(got)) > 0
    # oracle: strict point-in-box arithmetic over the same tiling
    want = spark.sql("""
      SELECT c_custkey FROM (
        SELECT c_custkey, abs(c_acctbal) % 100.0 AS px,
               (c_custkey % 1000) / 10.0 AS py
        FROM customer WHERE c_custkey < 800) c
      WHERE EXISTS (
        SELECT 1 FROM (
          SELECT CAST(n_nationkey % 5 AS DOUBLE) * 20.0 AS x0,
                 CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 AS y0
          FROM nation) n
        WHERE c.px > n.x0 AND c.px < n.x0 + 20.0
          AND c.py > n.y0 AND c.py < n.y0 + 20.0)
    """)
    assert sorted(got) == sorted(r["c_custkey"] for r in want.collect())


# ----------------------------------------------------------------------
# round 8: spatial WHERE [NOT] EXISTS -> semi/anti spatial join
# ----------------------------------------------------------------------

_EX_ORACLE_L = ("(SELECT c_custkey, abs(c_acctbal) % 100.0 AS px,"
                " (c_custkey % 1000) / 10.0 AS py FROM customer) c")
_EX_ORACLE_R = ("(SELECT n_nationkey,"
                " CAST(n_nationkey % 5 AS DOUBLE) * 20.0 AS x0,"
                " CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 AS y0"
                " FROM nation) n")
_EX_COND = ("c.px > n.x0 AND c.px < n.x0 + 20.0 AND"
            " c.py > n.y0 AND c.py < n.y0 + 20.0")


@pytest.mark.parametrize("kw", ["EXISTS", "NOT EXISTS"])
def test_spatial_exists_rewrite(spark, kw):
    _prep(spark)
    q = f"""SELECT c.c_custkey FROM cust_pts c
            WHERE c.c_custkey < 800 AND {kw} (
              SELECT 1 FROM nation_boxes n
              WHERE ST_Within(c.geom, n.geom) AND n.n_nationkey < 20)"""
    oq = f"""SELECT c.c_custkey FROM {_EX_ORACLE_L}
             WHERE c.c_custkey < 800 AND {kw} (
               SELECT 1 FROM {_EX_ORACLE_R}
               WHERE {_EX_COND} AND n.n_nationkey < 20)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    assert _rows(df, ["c_custkey"]) == \
        _rows(_vanilla(spark, oq), ["c_custkey"])


def test_spatial_exists_outer_refs_survive(spark):
    """Other outer conjuncts / projections keep resolving through the
    re-aliased view; aggregation above the EXISTS works."""
    _prep(spark)
    q = """SELECT count(*) AS n, round(sum(c.c_acctbal), 2) AS bal
           FROM cust_pts c
           WHERE EXISTS (SELECT 1 FROM nation_boxes n
                         WHERE ST_Contains(n.geom, c.geom))
             AND c.c_custkey < 500"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    oq = f"""SELECT count(*) AS n, round(sum(c.c_acctbal), 2) AS bal
             FROM (SELECT c_custkey, c_acctbal,
                          abs(c_acctbal) %% 100.0 AS px,
                          (c_custkey %% 1000) / 10.0 AS py
                   FROM customer) c
             WHERE EXISTS (SELECT 1 FROM {_EX_ORACLE_R} WHERE {_EX_COND})
               AND c.c_custkey < 500""".replace("%%", "%")
    assert df.collect() == _vanilla(spark, oq).collect()


def test_spatial_exists_correlated_extra_declines(spark):
    """A non-spatial conjunct referencing the OUTER side inside EXISTS
    cannot be folded into the subquery filter -> vanilla."""
    _prep(spark)
    q = """SELECT c.c_custkey FROM cust_pts c WHERE EXISTS (
             SELECT 1 FROM nation_boxes n
             WHERE ST_Within(c.geom, n.geom)
               AND n.n_nationkey < c.c_custkey)"""
    assert getattr(spark.sql(q), "_sedona_rewritten_sql", None) is None


def test_dwithin_right_join_lattice(spark):
    """Literal-distance ST_DWithin composes with the join-type lattice
    (no refine-as-WHERE needed, so outer modes are exact)."""
    _prep(spark)
    q = """SELECT a.c_custkey, b.s_suppkey
           FROM (SELECT c_custkey, geom FROM cust_pts
                 WHERE c_custkey < 200) a
           RIGHT JOIN (SELECT s_suppkey,
                              ST_Point(abs(s_acctbal) % 100.0,
                                       (s_suppkey % 1000) / 10.0) AS geom
                       FROM supplier) b
           ON ST_DWithin(a.geom, b.geom, 3.0)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    oq = """SELECT a.c_custkey, b.s_suppkey
            FROM (SELECT c_custkey, abs(c_acctbal) % 100.0 AS px,
                         (c_custkey % 1000) / 10.0 AS py
                  FROM customer WHERE c_custkey < 200) a
            RIGHT JOIN (SELECT s_suppkey, abs(s_acctbal) % 100.0 AS px,
                               (s_suppkey % 1000) / 10.0 AS py
                        FROM supplier) b
            ON sqrt(power(a.px - b.px, 2) + power(a.py - b.py, 2)) <= 3.0"""
    got = sorted(((r[0] is None, r[0] or 0), r[1]) for r in df.collect())
    want = sorted(((r[0] is None, r[0] or 0), r[1])
                  for r in _vanilla(spark, oq).collect())
    assert got == want and len(got) > 0


def test_geography_dwithin_lattice(spark):
    """Round 8: geography ST_DWithin joins compose with the join-type
    lattice (vanilla errors on ANY outer/semi/anti over a UDF
    predicate, so the rewrite is the only plan)."""
    _prep(spark)
    spark.sql("""
      SELECT c_custkey,
             ST_GeogPoint(CAST(c_custkey % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 7) % 160 AS DOUBLE) - 79.5) AS g
      FROM customer WHERE c_custkey < 300
    """).createOrReplaceTempView("geo_a")
    spark.sql("""
      SELECT s_suppkey,
             ST_GeogPoint(CAST((s_suppkey * 13) % 360 AS DOUBLE) - 179.5,
                          CAST((s_suppkey * 29) % 160 AS DOUBLE) - 79.5) AS g
      FROM supplier
    """).createOrReplaceTempView("geo_b")
    inner = spark.sql("""SELECT a.c_custkey, b.s_suppkey FROM geo_a a
                         JOIN geo_b b ON ST_DWithin(a.g, b.g, 1500000.0)""")
    n_inner = inner.count()
    matched_l = inner.select("c_custkey").distinct().count()
    matched_r = inner.select("s_suppkey").distinct().count()
    n_l = spark.table("geo_a").count()
    n_r = spark.table("geo_b").count()
    assert n_inner > 0

    left = spark.sql("""SELECT a.c_custkey, b.s_suppkey FROM geo_a a
                        LEFT JOIN geo_b b ON ST_DWithin(a.g, b.g, 1500000.0)""")
    assert getattr(left, "_sedona_rewritten_sql", None) is not None
    assert left.count() == n_inner + (n_l - matched_l)
    assert left.filter("s_suppkey IS NULL").count() == n_l - matched_l

    semi = spark.sql("""SELECT a.c_custkey FROM geo_a a
                        LEFT SEMI JOIN geo_b b
                        ON ST_DWithin(a.g, b.g, 1500000.0)""")
    assert semi.count() == matched_l
    anti = spark.sql("""SELECT a.c_custkey FROM geo_a a
                        LEFT ANTI JOIN geo_b b
                        ON ST_DWithin(a.g, b.g, 1500000.0)""")
    assert anti.count() == n_l - matched_l

    router = spark.sql("""SELECT a.c_custkey, b.s_suppkey FROM geo_a a
                          RIGHT JOIN geo_b b
                          ON ST_DWithin(a.g, b.g, 1500000.0)""")
    assert router.count() == n_inner + (n_r - matched_r)


def test_geography_distance_comparison_join_routes_native(spark):
    """Round 9 continuation: the comparison form ST_Distance(g1,g2) < d
    over geography-tagged columns routes through the spherical
    cell-cover candidate join (previously a _Decline that left vanilla
    planning the pair explosion); the original conjunct survives as the
    exact per-row refine, so results match vanilla bit-for-bit."""
    _prep(spark)
    spark.sql("""
      SELECT c_custkey AS ka,
             ST_GeogPoint(CAST(c_custkey % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 7) % 160 AS DOUBLE) - 79.5) AS g
      FROM customer WHERE c_custkey < 120
    """).createOrReplaceTempView("geo_cmp_a")
    spark.sql("""
      SELECT s_suppkey AS kb,
             ST_GeogPoint(CAST((s_suppkey * 13) % 360 AS DOUBLE) - 179.5,
                          CAST((s_suppkey * 29) % 160 AS DOUBLE) - 79.5) AS g
      FROM supplier
    """).createOrReplaceTempView("geo_cmp_b")
    q = """
      SELECT a.ka, b.kb FROM geo_cmp_a a JOIN geo_cmp_b b
      ON ST_Distance(a.g, b.g) < 1200000.0
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, q), ["ka", "kb"])
    assert got == want and len(got) > 0


def test_geography_column_radius_dwithin_join(spark):
    """Round 9 continuation: ST_DWithin(a.g, b.g, a.radius) with a
    column-valued radius over geography routes native (exact-MAX
    candidate cut on the spherical cell-cover join + original conjunct
    as the per-row refine) — same contract as the planar column-radius
    path, results identical to vanilla."""
    _prep(spark)
    spark.sql("""
      SELECT c_custkey AS ka,
             ST_GeogPoint(CAST(c_custkey % 360 AS DOUBLE) - 179.5,
                          CAST((c_custkey * 7) % 160 AS DOUBLE) - 79.5) AS g,
             CAST(200000 + (c_custkey % 11) * 150000 AS DOUBLE) AS radius_m
      FROM customer WHERE c_custkey < 120
    """).createOrReplaceTempView("geo_rad_a")
    spark.sql("""
      SELECT s_suppkey AS kb,
             ST_GeogPoint(CAST((s_suppkey * 13) % 360 AS DOUBLE) - 179.5,
                          CAST((s_suppkey * 29) % 160 AS DOUBLE) - 79.5) AS g
      FROM supplier
    """).createOrReplaceTempView("geo_rad_b")
    q = """
      SELECT a.ka, b.kb FROM geo_rad_a a JOIN geo_rad_b b
      ON ST_DWithin(a.g, b.g, a.radius_m)
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, q), ["ka", "kb"])
    assert got == want and len(got) > 0


def test_geography_column_radius_null_and_negative(spark):
    """Edge semantics for the geography column-radius join: NULL radius
    rows match nothing (NULL never satisfies ST_DWithin), negative
    radii match nothing, and an all-NULL radius column yields a correct
    empty result instead of an error (the exact-MAX candidate cut must
    not explode or crash on degenerate stats)."""
    _prep(spark)
    spark.sql("""
      SELECT n_nationkey AS k,
             ST_GeogPoint(CAST(n_nationkey * 11 AS DOUBLE) - 130.0,
                          CAST(n_nationkey * 5 AS DOUBLE) - 60.0) AS g,
             CASE WHEN n_nationkey % 3 = 0 THEN CAST(NULL AS DOUBLE)
                  WHEN n_nationkey % 3 = 1 THEN -500.0
                  ELSE 2000000.0 END AS r_m
      FROM nation
    """).createOrReplaceTempView("geo_edge_a")
    spark.sql("""
      SELECT n_nationkey AS kb,
             ST_GeogPoint(CAST(n_nationkey * 11 AS DOUBLE) - 129.0,
                          CAST(n_nationkey * 5 AS DOUBLE) - 59.5) AS g
      FROM nation
    """).createOrReplaceTempView("geo_edge_b")
    df = spark.sql("""
      SELECT a.k, b.kb FROM geo_edge_a a JOIN geo_edge_b b
      ON ST_DWithin(a.g, b.g, a.r_m)
    """)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    rows = df.collect()
    # only the %3==2 rows (positive 2000 km radius) can match, and the
    # offset twin point (~1 degree) is always within 2000 km
    assert {r["k"] % 3 for r in rows} == {2}
    assert len(rows) >= 8      # every %3==2 nation finds its twin

    # all-NULL radius: empty result, no crash
    spark.sql("""
      SELECT k, g, CAST(NULL AS DOUBLE) AS r_m FROM geo_edge_a
    """).createOrReplaceTempView("geo_edge_null")
    df2 = spark.sql("""
      SELECT a.k, b.kb FROM geo_edge_null a JOIN geo_edge_b b
      ON ST_DWithin(a.g, b.g, a.r_m)
    """)
    assert df2.count() == 0


def test_two_spatial_predicates_inner_join(spark):
    """Round 9 continuation: two spatial predicates in one INNER join
    (previously a blanket decline — vanilla then pair-explodes).  One
    becomes the candidate join, the other survives as an exact WHERE
    refine; results match vanilla bit-for-bit and the plan contains no
    nested-loop pair explosion."""
    _prep(spark)
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT c_custkey, geom FROM cust_pts WHERE c_custkey < 400) c
      JOIN nation_boxes n
      ON ST_Within(c.geom, n.geom) AND ST_Distance(c.geom, n.geom) < 100.0
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    _assert_no_pair_explosion(df)
    got = _rows(df, ["c_custkey", "n_nationkey"])
    want = _rows(_vanilla(spark, q), ["c_custkey", "n_nationkey"])
    assert got == want and len(got) > 0

    # dwithin + relation pair, reversed order in the ON
    q2 = """
      SELECT c.c_custkey, n.n_nationkey
      FROM (SELECT c_custkey, geom FROM cust_pts WHERE c_custkey < 400) c
      JOIN nation_boxes n
      ON ST_DWithin(c.geom, n.geom, 5.0) AND ST_Intersects(n.geom, c.geom)
    """
    df2 = spark.sql(q2)
    assert getattr(df2, "_sedona_rewritten_sql", None) is not None
    got2 = _rows(df2, ["c_custkey", "n_nationkey"])
    want2 = _rows(_vanilla(spark, q2), ["c_custkey", "n_nationkey"])
    assert got2 == want2 and len(got2) > 0


def test_two_spatial_predicates_lattice_modes(spark):
    """Round 10 (r9 verdict missing #1): two+ spatial predicates beyond
    INNER — the extra conjuncts refine the inner core BEFORE the row-id
    lattice bookkeeping (a refine only shrinks the match set), so
    LEFT/semi/anti/full over multi-predicate spatial ON clauses now
    plan (vanilla Spark errors on any outer-over-UDF join).  Verified
    by set identity against the vanilla-verified inner result plus
    count identities across the lattice."""
    _prep(spark)
    base = """
      FROM (SELECT c_custkey, geom FROM cust_pts WHERE c_custkey < 400) c
      {kw} nation_boxes n
      ON ST_Within(c.geom, n.geom) AND ST_Distance(c.geom, n.geom) < 100.0
    """
    inner = _rows(spark.sql(
        "SELECT c.c_custkey, n.n_nationkey " + base.format(kw="JOIN")),
        ["c_custkey", "n_nationkey"])
    assert len(inner) > 0
    matched = {k for k, _ in inner}
    all_keys = {r["c_custkey"] for r in spark.table("cust_pts")
                .filter("c_custkey < 400").select("c_custkey").collect()}

    dfl = spark.sql("SELECT c.c_custkey, n.n_nationkey "
                    + base.format(kw="LEFT JOIN"))
    assert getattr(dfl, "_sedona_rewritten_sql", None) is not None
    got_left = sorted(((r["c_custkey"], r["n_nationkey"])
                       for r in dfl.collect()),
                      key=lambda t: (t[0], -1 if t[1] is None else t[1]))
    want_left = sorted(list(inner) + [(k, None) for k in all_keys - matched],
                       key=lambda t: (t[0], -1 if t[1] is None else t[1]))
    assert got_left == want_left

    semi = spark.sql("SELECT c.c_custkey " + base.format(kw="LEFT SEMI JOIN"))
    anti = spark.sql("SELECT c.c_custkey " + base.format(kw="LEFT ANTI JOIN"))
    semi_keys = sorted(r["c_custkey"] for r in semi.collect())
    anti_keys = sorted(r["c_custkey"] for r in anti.collect())
    assert semi_keys == sorted(matched)
    assert anti_keys == sorted(all_keys - matched)
    assert len(semi_keys) + len(anti_keys) == len(all_keys)

    # comparison-form conjunct as the ONLY predicate also reaches the
    # lattice now (keep_refine previously declined non-inner)
    dfc = spark.sql("""
      SELECT a.c_custkey AS ka
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 200) a
      LEFT ANTI JOIN (SELECT * FROM cust_pts WHERE c_custkey < 200) b
      ON ST_Distance(a.geom, b.geom) < 5.0 AND a.c_custkey < b.c_custkey
    """)
    assert getattr(dfc, "_sedona_rewritten_sql", None) is not None
    got_anti = sorted(r["ka"] for r in dfc.collect())
    want_anti = sorted(r["ka"] for r in spark.sql("""
      SELECT a.c_custkey AS ka
      FROM (SELECT c_custkey, px, py FROM cust_pts WHERE c_custkey < 200) a
      LEFT ANTI JOIN (SELECT c_custkey, px, py FROM cust_pts
                      WHERE c_custkey < 200) b
      ON sqrt(power(a.px - b.px, 2) + power(a.py - b.py, 2)) < 5.0
         AND a.c_custkey < b.c_custkey
    """).collect())
    assert got_anti == want_anti and len(got_anti) > 0


def test_sql_knn_tie_breakers_conf(spark):
    """Round 9: the reference's knn_include_tie_breakers session option
    (sedona-common/src/option.rs:97-99) is reachable through SQL as a
    Spark conf — ties at the k-th distance emit extra rows when on."""
    _prep(spark)
    # 4 objects equidistant-in-pairs from each query point: distances
    # {0, 1, 1, 2} — k=2 cuts inside a tie
    spark.sql("""
      SELECT 1 AS qid, ST_Point(10.0D, 10.0D) AS geom
    """).createOrReplaceTempView("knn_tie_q")
    spark.sql("""
      SELECT id AS oid,
             CASE id WHEN 0 THEN ST_Point(10.0D, 10.0D)
                     WHEN 1 THEN ST_Point(11.0D, 10.0D)
                     WHEN 2 THEN ST_Point(9.0D, 10.0D)
                     ELSE ST_Point(12.0D, 10.0D) END AS geom
      FROM range(4)
    """).createOrReplaceTempView("knn_tie_o")
    q = """SELECT a.qid, b.oid FROM knn_tie_q a JOIN knn_tie_o b
           ON ST_KNN(a.geom, b.geom, 2, false)"""
    base = spark.sql(q)
    assert base.count() == 2                    # default: exactly k
    try:
        spark.conf.set(
            "spark.sedona_db.spatial_join.knn_include_tie_breakers", "true")
        ties = spark.sql(q)
        got = sorted(r["oid"] for r in ties.collect())
        assert got == [0, 1, 2]                 # both distance-1 ties kept
    finally:
        spark.conf.unset(
            "spark.sedona_db.spatial_join.knn_include_tie_breakers")
    # flipping BACK must not replay the ties=true view from the memo
    assert spark.sql(q).count() == 2


def test_sql_auto_route_onto_bucketed_layout(spark):
    """Round 10 (r9 verdict #4): spark.sql over a bucketed-layout table
    routes onto the STORED cells via spatial_join_bucketed — results
    match the grid join exactly, the plan references the stored cells
    (no per-query Python bbox pass on the layout side), and the layout
    scan has no shuffle above it (broadcast or bucket-aligned join)."""
    _prep(spark)
    from sedona_db_spark.operators.spatial_join import write_bucketed_layout
    spark.sql("DROP TABLE IF EXISTS t_sql_route")
    write_bucketed_layout(
        spark.table("cust_pts").select("c_custkey", "geom"),
        "t_sql_route", geom="geom")
    df = spark.sql("""
      SELECT c.c_custkey, n.n_nationkey
      FROM t_sql_route c JOIN nation_boxes n
      ON ST_Within(c.geom, n.geom)
    """)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["c_custkey", "n_nationkey"])
    want = _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
    assert got == want and len(got) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__rcell" in plan, plan          # stored-cell route fired
    # the layout side is never bbox-decoded in Python (the only pandas
    # kernel inputs are the build side's constructed geometry)
    assert "_bbox_cls_kernel_planar(geom#" not in plan, plan
    # no shuffle above the layout scan
    assert "Exchange hashpartitioning" not in plan, plan

    # right-side layout (inner): transposed predicate, same rows
    df2 = spark.sql("""
      SELECT n.n_nationkey, c.c_custkey
      FROM nation_boxes n JOIN t_sql_route c
      ON ST_Contains(n.geom, c.geom)
    """)
    assert _rows(df2, ["c_custkey", "n_nationkey"]) == want

    # lattice over the layout: semi/anti keys partition the table
    semi = spark.sql("""
      SELECT c.c_custkey FROM t_sql_route c
      LEFT SEMI JOIN nation_boxes n ON ST_Within(c.geom, n.geom)
    """)
    anti = spark.sql("""
      SELECT c.c_custkey FROM t_sql_route c
      LEFT ANTI JOIN nation_boxes n ON ST_Within(c.geom, n.geom)
    """)
    matched = {k for k, _ in want}
    n_all = spark.table("cust_pts").count()
    semi_keys = sorted(r["c_custkey"] for r in semi.collect())
    assert semi_keys == sorted(matched)
    assert anti.count() == n_all - len(matched)


def test_bucketed_layout_distance_and_intersects(spark):
    """Round 10 (r9 verdict #5): layout joins beyond `within` — the
    distance join pads the stored-cell lookup by the radius natively,
    and other relation predicates refine from the stored bbox/cls
    columns; both must equal spatial_join bit-for-bit."""
    _prep(spark)
    from sedona_db_spark.operators.spatial_join import (
        spatial_join, spatial_join_bucketed, write_bucketed_layout)
    spark.sql("DROP TABLE IF EXISTS t_layout_predext")
    cust = spark.table("cust_pts").select("c_custkey", "geom")
    write_bucketed_layout(cust, "t_layout_predext", geom="geom")
    centers = spark.sql("""
      SELECT n_nationkey,
             ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                      CAST(CAST(floor(n_nationkey / 5) AS INT) % 5
                           AS DOUBLE) * 20.0 + 10.0) AS geom
      FROM nation""")
    for kw in (dict(distance=7.0), dict(predicate="intersects"),
               dict(predicate="covered_by")):
        other = centers if "distance" in kw else \
            spark.table("nation_boxes").select("n_nationkey", "geom")
        ref = spatial_join(cust, other, **kw)
        got = spatial_join_bucketed(spark, "t_layout_predext", other, **kw)
        a = sorted((r["c_custkey"], r["n_nationkey"]) for r in got.collect())
        b = sorted((r["c_custkey"], r["n_nationkey"]) for r in ref.collect())
        assert a == b and len(a) > 0, kw


def test_sql_two_layout_join_uses_stored_cells(spark):
    """Round 10: when BOTH relations are layout tables the route passes
    the right side by TABLE NAME so the bucketed operator reads its
    stored cells — passing the resolved DataFrame would feed the
    physical per-cell copies and duplicate pairs for multi-cell
    (polygon) geometries.  Multiplicity must equal the original-rows
    join exactly."""
    from pyspark.sql import functions as F

    from sedona_db_spark.operators.spatial_join import write_bucketed_layout
    _prep(spark)
    spark.sql("DROP TABLE IF EXISTS t_lay_pts2")
    spark.sql("DROP TABLE IF EXISTS t_lay_boxes2")
    write_bucketed_layout(
        spark.table("cust_pts").select("c_custkey", "geom"),
        "t_lay_pts2", geom="geom")
    write_bucketed_layout(
        spark.table("nation_boxes")
        .select("n_nationkey", F.col("geom").alias("bgeom")),
        "t_lay_boxes2", geom="bgeom")
    # sanity: the polygon layout really stores multi-cell copies
    n_phys = spark.table("t_lay_boxes2").count()
    n_orig = spark.table("nation_boxes").count()
    assert n_phys > n_orig, (n_phys, n_orig)
    df = spark.sql("""
      SELECT c.c_custkey, n.n_nationkey
      FROM t_lay_pts2 c JOIN t_lay_boxes2 n
      ON ST_Within(c.geom, n.bgeom)
    """)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["c_custkey", "n_nationkey"])
    want = _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
    assert got == want and len(got) > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__rcell" in plan or "right___cell" in plan, plan


def test_sql_layout_route_dwithin_literal(spark):
    """Round 10: ST_DWithin with a literal radius over a layout table
    routes onto the stored cells with the radius-padded lookup."""
    _prep(spark)
    from sedona_db_spark.operators.spatial_join import write_bucketed_layout
    spark.sql("DROP TABLE IF EXISTS t_lay_dw")
    write_bucketed_layout(
        spark.table("cust_pts").select("c_custkey", "geom"),
        "t_lay_dw", geom="geom")
    df = spark.sql("""
      SELECT a.c_custkey, b.s_suppkey
      FROM t_lay_dw a JOIN (
        SELECT s_suppkey, ST_Point(abs(s_acctbal) % 100.0,
                                   (s_suppkey % 1000) / 10.0) AS sgeom
        FROM supplier) b
      ON ST_DWithin(a.geom, b.sgeom, 4.0)
    """)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__rcell" in plan, plan       # stored-cell route fired
    got = _rows(df, ["c_custkey", "s_suppkey"])
    want = _rows(spark.sql("""
      SELECT c.c_custkey, s.s_suppkey FROM
      (SELECT c_custkey, px, py FROM cust_pts) c
      JOIN (SELECT s_suppkey, abs(s_acctbal) % 100.0 AS px,
                   (s_suppkey % 1000) / 10.0 AS py FROM supplier) s
      ON sqrt(power(c.px - s.px, 2) + power(c.py - s.py, 2)) <= 4.0
    """), ["c_custkey", "s_suppkey"])
    assert got == want and len(got) > 0


def test_sql_layout_route_right_side_lattice(spark):
    """r10 verdict #4: LEFT / LEFT SEMI / LEFT ANTI with the layout on
    the RIGHT side route onto the stored cells too (the bucketed
    operator is left-anchored, so the join type is mirrored)."""
    _prep(spark)
    from sedona_db_spark.operators.spatial_join import write_bucketed_layout
    spark.sql("DROP TABLE IF EXISTS t_lay_right")
    write_bucketed_layout(
        spark.table("cust_pts").select("c_custkey", "geom"),
        "t_lay_right", geom="geom")
    want = _rows(spark.sql(INNER_Q), ["c_custkey", "n_nationkey"])
    matched_n = {n for _, n in want}
    n_boxes = spark.table("nation_boxes").count()

    semi = spark.sql("""
      SELECT n.n_nationkey FROM nation_boxes n
      LEFT SEMI JOIN t_lay_right c ON ST_Contains(n.geom, c.geom)
    """)
    assert getattr(semi, "_sedona_rewritten_sql", None) is not None
    plan = semi._jdf.queryExecution().executedPlan().toString()
    # the layout side is read via its STORED cells (bucketed scan of
    # __cell), not re-gridded per query
    assert "__cell" in plan and "SelectedBucketsCount" in plan, plan
    assert sorted(r["n_nationkey"] for r in semi.collect()) \
        == sorted(matched_n)

    anti = spark.sql("""
      SELECT n.n_nationkey FROM nation_boxes n
      LEFT ANTI JOIN t_lay_right c ON ST_Contains(n.geom, c.geom)
    """)
    assert anti.count() == n_boxes - len(matched_n)

    left = spark.sql("""
      SELECT n.n_nationkey, c.c_custkey FROM nation_boxes n
      LEFT JOIN t_lay_right c ON ST_Contains(n.geom, c.geom)
    """)
    got = sorted((r["n_nationkey"], r["c_custkey"])
                 for r in left.collect())
    want_left = sorted([(n, c) for c, n in want]
                       + [(n, None) for n in range(n_boxes)
                          if n not in matched_n])
    assert got == want_left and len(got) > 0


def test_sql_layout_table_reads_logical_rows_off_route(spark):
    """r10 advisor: a spatial query that REFERENCES a layout table but
    falls off the cell route (extra ON conjunct here) must see the
    LOGICAL rows — identical multiplicity to the same query over the
    original table, not the per-cell physical copies."""
    from pyspark.sql import functions as F

    from sedona_db_spark.operators.spatial_join import write_bucketed_layout
    _prep(spark)
    spark.sql("DROP TABLE IF EXISTS t_lay_logical")
    write_bucketed_layout(
        spark.table("nation_boxes")
        .select("n_nationkey", F.col("geom").alias("bgeom")),
        "t_lay_logical", geom="bgeom")
    # polygons straddle grid cells: physical copies > originals
    assert spark.table("t_lay_logical").count() \
        > spark.table("nation_boxes").count()
    q = """
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c JOIN t_lay_logical n
      ON ST_Within(c.geom, n.bgeom) AND n.n_nationkey % 2 = 0
    """
    got = _rows(spark.sql(q), ["c_custkey", "n_nationkey"])
    want = _rows(spark.sql("""
      SELECT c.c_custkey, n.n_nationkey
      FROM cust_pts c JOIN nation_boxes n
      ON ST_Within(c.geom, n.geom) AND n.n_nationkey % 2 = 0
    """), ["c_custkey", "n_nationkey"])
    assert got == want and len(got) > 0


# ----------------------------------------------------------------------
# round 12: certified-shadow codegen through the rewrite and the lattice
# ----------------------------------------------------------------------


def _python_node_count(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    return len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas",
                          plan))


LATTICE_2PRED_Q = """
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
  FROM (SELECT * FROM cust_pts WHERE c_custkey < 200) a
  LEFT JOIN (SELECT * FROM cust_pts WHERE c_custkey < 200) b
  ON ST_DWithin(a.geom, b.geom, 9.0)
     AND ST_Distance(a.geom, b.geom) < 5.0
     AND a.c_custkey < b.c_custkey
"""


def test_lattice_two_predicates_shadow_codegen(spark):
    """r11 verdict item #3: with cust_pts shadow-certified, the
    multi-predicate lattice plans with ZERO Python nodes (bbox prune,
    dwithin candidate cut and the ST_Distance refine all substitute the
    certified shadow doubles) and still matches the native restatement
    row-for-row (vanilla cannot plan a Python UDF in a LEFT JOIN ON at
    all — that inability is why the lattice exists)."""
    _prep(spark)
    df = spark.sql(LATTICE_2PRED_Q)
    assert _python_node_count(df) == 0, \
        df._jdf.queryExecution().executedPlan().toString()
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 200) a
      LEFT JOIN (SELECT * FROM cust_pts WHERE c_custkey < 200) b
      ON sqrt(power(a.px - b.px, 2) + power(a.py - b.py, 2)) < 5.0
         AND a.c_custkey < b.c_custkey
    """), ["ka", "kb"])
    assert got == want and len(got) > 0


def test_comparison_form_shadow_codegen(spark):
    """ST_Distance(a,b) < d keep_refine form: candidate cut AND the
    surviving refine conjunct are pure codegen under the certificate."""
    _prep(spark)
    q = """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 200) a
      JOIN (SELECT * FROM cust_pts WHERE c_custkey < 200) b
      ON ST_Distance(a.geom, b.geom) < 5.0 AND a.c_custkey < b.c_custkey
    """
    df = spark.sql(q)
    assert _python_node_count(df) == 0, \
        df._jdf.queryExecution().executedPlan().toString()
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, q), ["ka", "kb"])
    assert got == want and len(got) > 0


def test_shadow_subquery_base_only_star_shapes(spark):
    """A projecting subquery must NOT inherit the certificate (column
    identity is not tracked through it) — the query still answers
    correctly through the kernel path."""
    _prep(spark)
    q = """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT c_custkey, geom FROM cust_pts WHERE c_custkey < 120) a
      JOIN (SELECT c_custkey, geom FROM cust_pts WHERE c_custkey < 120) b
      ON ST_Distance(a.geom, b.geom) < 5.0 AND a.c_custkey < b.c_custkey
    """
    df = spark.sql(q)
    got = _rows(df, ["ka", "kb"])
    want = _rows(_vanilla(spark, q), ["ka", "kb"])
    assert got == want and len(got) > 0


def test_shadow_bbox_matches_kernel_on_nulls(spark):
    """_bbox_cls_shadow_expr reproduces the kernel's classed bbox for
    certified point data including NULL geometry rows (NULL bbox,
    cls 0)."""
    from sedona_db_spark.operators.spatial_join import (
        _bbox_cls_col, _bbox_cls_shadow_expr)
    _prep(spark)
    base = spark.sql("""
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL
                  ELSE ST_Point(px, py) END AS geom,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE px END AS px,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE py END AS py
      FROM cust_pts WHERE c_custkey < 300
    """)
    cols = ["c_custkey", "xmin", "ymin", "xmax", "ymax", "cls"]

    def by_key(df):
        rows = df.select("c_custkey", "__b.xmin", "__b.ymin", "__b.xmax",
                         "__b.ymax", "__b.cls").collect()
        return sorted((tuple(r[c] for c in cols) for r in rows),
                      key=lambda t: t[0])
    kern = by_key(base.withColumn("__b", _bbox_cls_col(F.col("geom"))))
    nat = by_key(base.withColumn("__b",
                                 _bbox_cls_shadow_expr(("px", "py"))))
    assert kern == nat and any(t[-1] == 0 for t in kern) \
        and any(t[-1] == 1 for t in kern)


def test_content_row_id_exclude_keeps_ids_stable(spark):
    """content_row_id(exclude=...) drops the column from the hash but
    keeps it in the frame; ids equal the hash over the remaining
    columns (so two frames differing only in the excluded column's
    representation agree)."""
    from sedona_db_spark.operators.spatial_join import content_row_id
    _prep(spark)
    a = spark.table("cust_pts").select("c_custkey", "geom", "px", "py") \
        .filter("c_custkey < 50")
    b = spark.table("cust_pts").select(
        "c_custkey", F.lit(None).cast("binary").alias("geom"), "px", "py") \
        .filter("c_custkey < 50")
    ta, ids = content_row_id(a, "__id", exclude=("geom",))
    tb, _ = content_row_id(b, "__id", exclude=("geom",))
    assert set(ta.columns) == set(a.columns) | set(ids)
    ra = sorted(tuple(r[i] for i in ids) for r in ta.select(*ids).collect())
    rb = sorted(tuple(r[i] for i in ids) for r in tb.select(*ids).collect())
    assert ra == rb and len(ra) == 50


# ----------------------------------------------------------------------
# the rewrite memo is keyed on the query's plan key: answers never depend
# on which relations an earlier call with the same text read
# ----------------------------------------------------------------------

def _memo_points(spark, view="rw_pts"):
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW {view} AS
                  SELECT id, ST_Point(CAST(id AS DOUBLE) + 0.5, 1.0D) AS geom
                  FROM range(10)""")


def _memo_box(spark, x0, view="rw_box"):
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW {view} AS
                  SELECT 1 AS bid, ST_GeomFromText('POLYGON (({x0} 0,
                  {x0 + 3} 0, {x0 + 3} 3, {x0} 3, {x0} 0))') AS geom""")


def _ids(df):
    return sorted(r[0] for r in df.collect())


def test_memo_sees_view_replace_and_restore(spark):
    """The same text after CREATE OR REPLACE of a relation it reads
    answers over the new relation (the memo used to replay the join view
    captured at the first call), and A -> B -> A replays A's own join
    view, not the one rebuilt under B (view names derive from the key)."""
    _memo_points(spark)
    q = "SELECT p.id FROM rw_pts p JOIN rw_box b ON ST_Intersects(p.geom, b.geom)"
    # restoring A is a memo hit: the replayed text carries no rewrite tag
    for x0, want, fresh in ((0, [0, 1, 2], True), (5, [5, 6, 7], True),
                            (0, [0, 1, 2], False)):
        _memo_box(spark, x0)
        got = spark.sql(q)
        assert hasattr(got, "_sedona_rewritten_sql") == fresh
        assert _ids(got) == _ids(_vanilla(spark, q)) == want


def test_memo_sees_parquet_append(spark, tmp_path):
    """A file appended under a ``parquet.`dir``` view changes the
    query's plan key, so the same text re-plans over the new file set."""
    d = str(tmp_path / "pts")
    spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) + 0.5 AS x") \
        .write.parquet(d)
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW rw_fpts AS
                  SELECT id, ST_Point(x, 1.0D) AS geom FROM parquet.`{d}`""")
    _memo_box(spark, 0, "rw_box3")
    q = ("SELECT p.id FROM rw_fpts p JOIN rw_box3 b "
         "ON ST_Intersects(p.geom, b.geom)")
    assert _ids(spark.sql(q)) == [0, 1, 2]
    spark.createDataFrame([(20, 1.25), (21, 2.75)], "id long, x double") \
        .write.mode("append").parquet(d)
    assert _ids(spark.sql(q)) == _ids(_vanilla(spark, q)) == [0, 1, 2, 20, 21]


def test_memo_hit_starts_no_job(spark):
    """A repeated text over unchanged relations is a memo hit: its
    construction starts no Spark job (no probe, no certificate scan)."""
    _memo_points(spark, "rw_pts4")
    _memo_box(spark, 0, "rw_box4")
    q = ("SELECT p.id, b.bid FROM rw_pts4 p JOIN rw_box4 b "
         "ON ST_DWithin(p.geom, b.geom, 0.5)")
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    result_cache.reset()          # no stats memoized by earlier tests
    with jobs_started(spark) as jobs:
        first = spark.sql(q)
    assert jobs                                          # the miss probes
    want = _ids(first)
    with jobs_started(spark) as jobs:
        again = spark.sql(q)
    assert jobs == []
    assert not hasattr(again, "_sedona_rewritten_sql")   # replayed text
    assert _ids(again) == want == _ids(_vanilla(spark, q))


def test_rewrite_crash_warns_and_is_not_memoized(spark, monkeypatch):
    """An unexpected exception inside the rewrite is loud (RuntimeWarning
    naming it), answers with the vanilla plan, and is not memoized as a
    decline: once the fault is gone the same text routes."""
    from sedona_db_spark.plans import sql_rewrite
    _memo_points(spark, "rw_pts5")
    _memo_box(spark, 0, "rw_box5")
    q = ("SELECT p.id FROM rw_pts5 p JOIN rw_box5 b "
         "ON ST_Intersects(p.geom, b.geom)")

    def boom(*a, **k):
        raise RuntimeError("rewrite bug")

    monkeypatch.setattr(sql_rewrite, "_rewrite", boom)
    with pytest.warns(RuntimeWarning, match="RuntimeError: rewrite bug"):
        df = spark.sql(q)
    assert not hasattr(df, "_sedona_rewritten_sql")
    assert _ids(df) == _ids(_vanilla(spark, q)) == [0, 1, 2]
    monkeypatch.undo()
    routed = spark.sql(q)
    assert getattr(routed, "_sedona_rewritten_sql", None)
    assert _ids(routed) == [0, 1, 2]
    # a relation the catalog does not hold (a CTE name) is a quiet
    # decline, not a fault
    cte = "WITH c AS (SELECT * FROM rw_pts5) " + q.replace("rw_pts5", "c")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert _ids(spark.sql(cte)) == [0, 1, 2]


def _count(spark, table):
    return spark.table(table).count()


def test_commands_through_the_wrapper_run_once(spark):
    """``spark.sql`` runs a command as soon as it is called, so the
    wrapper never runs one again to take a plan key: an INSERT whose
    spatial scalar is rewritten, or whose join routes, adds each row
    once, and a spatial CTAS or CREATE TEMP VIEW does not fail on a
    second run with 'already exists'.  So do a ``WITH ... INSERT`` and a
    multi-insert ``FROM s INSERT ... INSERT ...``."""
    _memo_points(spark, "rw_pts6")
    _memo_box(spark, 0, "rw_box6")
    dist = ("ST_Distance(ST_Point(CAST(id AS DOUBLE), 0.0D), "
            "ST_Point(0.0D, 0.0D))")
    tables = ("rw_ins", "rw_ins_join", "rw_ctas", "rw_ins_cte", "rw_multi_a",
              "rw_multi_b")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        spark.sql("CREATE TABLE rw_ins (d DOUBLE) USING parquet")
        spark.sql("CREATE TABLE rw_ins_join (id BIGINT) USING parquet")
        for t in ("rw_ins_cte", "rw_multi_a", "rw_multi_b"):
            spark.sql(f"CREATE TABLE {t} (d DOUBLE) USING parquet")
        ins = f"INSERT INTO rw_ins SELECT {dist} FROM range(5)"
        ins_join = ("INSERT INTO rw_ins_join SELECT p.id FROM rw_pts6 p "
                    "JOIN rw_box6 b ON ST_Intersects(p.geom, b.geom)")
        ins_cte = (f"WITH c AS (SELECT id FROM range(4)) "
                   f"INSERT INTO rw_ins_cte SELECT {dist} FROM c")
        multi = (f"FROM range(6) INSERT INTO rw_multi_a SELECT {dist} "
                 f"INSERT INTO rw_multi_b SELECT {dist} WHERE id < 2")
        for n in (1, 2):      # the second call of the same text too
            for q in (ins, ins_join, ins_cte, multi):
                spark.sql(q)
            assert _count(spark, "rw_ins") == 5 * n
            assert _count(spark, "rw_ins_join") == 3 * n
            assert _count(spark, "rw_ins_cte") == 4 * n
            assert _count(spark, "rw_multi_a") == 6 * n
            assert _count(spark, "rw_multi_b") == 2 * n
        assert sorted(r[0] for r in spark.table("rw_ins").collect()) == \
            [0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0, 4.0]
        spark.sql(f"CREATE TABLE rw_ctas USING parquet AS "
                  f"SELECT {dist} AS d FROM range(3)")
        assert _count(spark, "rw_ctas") == 3
        spark.sql(f"CREATE TEMP VIEW rw_cview AS SELECT {dist} AS d "
                  f"FROM range(4)")
        assert _count(spark, "rw_cview") == 4
    finally:
        spark.catalog.dropTempView("rw_cview")
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_join_views_dropped_with_their_memo_entries(spark, monkeypatch):
    """Every data version of a repeated text registers its own join
    view; the view goes when its memo entry is evicted or reset, so a
    text re-run over a moving view keeps the catalog bounded."""
    from sedona_db_spark.operators import result_cache

    def join_views():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("__sedona_sql_join_")}

    result_cache.reset()
    before = join_views()
    monkeypatch.setattr(spark._sedona_sql_rewrite_memo, "_cap", 2)
    _memo_points(spark, "rw_pts7")
    q = ("SELECT p.id FROM rw_pts7 p JOIN rw_box7 b "
         "ON ST_Intersects(p.geom, b.geom)")
    for x0 in range(6):
        _memo_box(spark, x0, "rw_box7")
        got = spark.sql(q)
        assert hasattr(got, "_sedona_rewritten_sql")
        assert _ids(got) == [x0, x0 + 1, x0 + 2]
        assert len(join_views() - before) <= 2
    result_cache.reset()
    assert join_views() - before == set()


# ----------------------------------------------------------------------
# one matcher, one pair-join core: the single-join, EXISTS and chain
# shapes share the same output naming, literals and certified shadows
# ----------------------------------------------------------------------

_NAMES_A = "(SELECT c_custkey AS id, geom FROM cust_pts WHERE c_custkey < 300) a"
_NAMES_B = "(SELECT n_nationkey AS id, geom FROM nation_boxes) b"


@pytest.mark.parametrize("kw", ["JOIN", "LEFT JOIN"])
def test_collision_renamed_select_refs_keep_vanilla_names(spark, kw):
    """``SELECT a.id, b.id`` and a bare ``SELECT *`` over a
    collision-renamed view answer with vanilla's output names
    (``['id', 'id']``, ``['id', 'geom', 'id', 'geom']``), not the
    view's."""
    _prep(spark)
    for select, names in (("a.id, b.id", ["id", "id"]),
                          ("*", ["id", "geom", "id", "geom"])):
        q = (f"SELECT {select} FROM {_NAMES_A} {kw} {_NAMES_B} "
             "ON ST_Within(a.geom, b.geom)")
        df = spark.sql(q)
        assert getattr(df, "_sedona_rewritten_sql", None) is not None
        assert df.columns == _vanilla(spark, q).columns == names
        if kw == "JOIN":
            assert sorted(tuple(r) for r in df.collect()) == \
                sorted(tuple(r) for r in _vanilla(spark, q).collect())


def test_bare_star_over_knn_join_keeps_knn_distance(spark):
    """A bare ``SELECT *`` over an ``ST_KNN`` join answers with both
    sides' columns under their own names, then ``knn_distance``."""
    _prep(spark)
    df = spark.sql("""
      SELECT * FROM (SELECT c_custkey, geom FROM cust_pts
                     WHERE c_custkey < 40) c
      JOIN (SELECT n_nationkey, ST_Point(CAST(n_nationkey AS DOUBLE),
                                         0.0) AS geom FROM nation) n
      ON ST_KNN(c.geom, n.geom, 2, false)""")
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert df.columns == ["c_custkey", "geom", "n_nationkey", "geom",
                          "knn_distance"]
    rows = df.collect()
    n_q = spark.table("cust_pts").filter("c_custkey < 40").count()
    assert len(rows) == 2 * n_q > 0
    assert all(r[4] is not None and r[4] >= 0 for r in rows)


def test_typed_numeric_literals_route(spark):
    """``2.5D`` as a distance and ``3L`` as the KNN k are literals of the
    join: both shapes route and answer like vanilla / the operator twin."""
    _prep(spark)
    q = """
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 75) a
      JOIN (SELECT * FROM cust_pts WHERE c_custkey >= 75) b
      ON ST_DWithin(a.geom, b.geom, 2.5D)
    """
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["ka", "kb"])
    assert got == _rows(_vanilla(spark, q), ["ka", "kb"]) and got
    objects_sql = """SELECT n_nationkey,
             ST_Point(CAST(n_nationkey % 5 AS DOUBLE) * 20.0 + 10.0,
                      CAST(CAST(floor(n_nationkey / 5) AS INT) % 5 AS DOUBLE) * 20.0 + 10.0) AS geom
      FROM nation"""
    knn = spark.sql(f"""
      SELECT c.c_custkey, n.n_nationkey, round(knn_distance, 6) AS dist
      FROM (SELECT * FROM cust_pts WHERE c_custkey < 250) c
      JOIN ({objects_sql}) n ON ST_KNN(c.geom, n.geom, 3L, false)""")
    assert getattr(knn, "_sedona_rewritten_sql", None) is not None
    from sedona_db_spark.operators.knn_join import knn_join
    twin = knn_join(spark.table("cust_pts").filter("c_custkey < 250"),
                    _vanilla(spark, objects_sql), k=3) \
        .select("c_custkey", "n_nationkey",
                F.round("knn_distance", 6).alias("dist"))
    cols = ["c_custkey", "n_nationkey", "dist"]
    n_q = spark.table("cust_pts").filter("c_custkey < 250").count()
    assert _rows(knn, cols) == _rows(twin, cols) and len(_rows(knn, cols)) == 3 * n_q > 0


def _literal_views(spark):
    _memo_points(spark, "lit_a")
    _memo_points(spark, "lit_b")


@pytest.mark.parametrize("lit,want", [
    ("0.5D", 0.5), ("0.5d", 0.5), ("0.5BD", 0.5), ("2.5e1D", 25.0),
    ("3L", 3.0), ("- 7S", -7.0), ("127Y", 127.0), ("- 128Y", -128.0),
    ("4", 4.0)])
def test_typed_radius_literal_reaches_the_operator(spark, monkeypatch,
                                                   lit, want):
    """A typed numeric literal as the ST_DWithin radius routes: the
    operator receives the double vanilla hands the kernel (Spark's parser
    types the literal and folds the sign), and the rows equal vanilla's."""
    from sedona_db_spark.operators import spatial_join as sj
    _literal_views(spark)
    seen = []
    real = sj.spatial_join

    def spy(*a, **k):
        seen.append(k.get("distance"))
        return real(*a, **k)

    monkeypatch.setattr(sj, "spatial_join", spy)
    q = ("SELECT a.id AS ia, b.id AS ib FROM lit_a a JOIN lit_b b "
         f"ON ST_DWithin(a.geom, b.geom, {lit})")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert seen and all(d == want for d in seen), seen
    assert _rows(df, ["ia", "ib"]) == _rows(_vanilla(spark, q), ["ia", "ib"])


def test_float_radius_literal_declines(spark):
    """``0.5F`` is a float32, rounded before the kernel sees it: the join
    declines and answers like vanilla."""
    _literal_views(spark)
    q = ("SELECT a.id AS ia, b.id AS ib FROM lit_a a JOIN lit_b b "
         "ON ST_DWithin(a.geom, b.geom, 0.5F)")
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None
    got = _rows(df, ["ia", "ib"])
    assert got == _rows(_vanilla(spark, q), ["ia", "ib"]) and got


@pytest.mark.parametrize("lit", ["0.5L", "128Y", "40000S", "1e2L", "x"])
def test_bad_radius_literal_raises_vanillas_error(spark, lit):
    """``0.5L``, ``128Y`` and ``40000S`` do not parse, ``1e2L`` and ``x``
    are column names the relations lack: each raises exactly the error
    vanilla ``spark.sql`` raises."""
    _literal_views(spark)
    q = ("SELECT a.id FROM lit_a a JOIN lit_b b "
         f"ON ST_DWithin(a.geom, b.geom, {lit})")
    with pytest.raises(Exception) as routed:
        spark.sql(q)
    with pytest.raises(Exception) as plain:
        _vanilla(spark, q)
    assert type(routed.value) is type(plain.value)
    assert routed.value.getCondition() == plain.value.getCondition()
    assert routed.value.getMessageParameters() \
        == plain.value.getMessageParameters()


def test_memo_hit_parses_nothing(spark, monkeypatch):
    """Only a memo miss asks Spark's parser for the tree: the second
    ``spark.sql`` of the same text replays the memo without parsing."""
    from sedona_db_spark.plans import sql_rewrite
    calls = []
    real = sql_rewrite._parse_plan

    def spy(session, text):
        calls.append(text)
        return real(session, text)

    monkeypatch.setattr(sql_rewrite, "_parse_plan", spy)
    _memo_points(spark, "rw_pts6")
    _memo_box(spark, 0, "rw_box6")
    q = ("SELECT p.id FROM rw_pts6 p JOIN rw_box6 b "
         "ON ST_Intersects(p.geom, b.geom)")
    first = spark.sql(q)
    assert getattr(first, "_sedona_rewritten_sql", None) is not None
    assert calls == [q]
    again = spark.sql(q)
    assert calls == [q]
    assert _ids(again) == _ids(first) == [0, 1, 2]


def _certified_points(spark, view):
    """A view whose ``geom`` is ST_Point over DOUBLE ``x``, ``y``,
    certified with those shadows."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_view
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW {view} AS
                  SELECT id, x, y, ST_Point(x, y) AS geom FROM (
                    SELECT id, CAST(id AS DOUBLE) + 0.5 AS x, 2.0D AS y
                    FROM range(6))""")
    certify_point_view(spark, view, {"geom": ("x", "y")})


@pytest.mark.parametrize("kind", ["overload", "certified scalar"])
def test_memo_hit_parses_nothing_for_call_edits(spark, monkeypatch, kind):
    """A repeated text whose only edits are calls (an extra-arity
    overload, a scalar over a certified column) parses once over two
    calls, and the second call answers the same rows."""
    from sedona_db_spark.plans import sql_rewrite
    _certified_points(spark, "rw_cpts7")
    q = {"overload": "SELECT id, ST_Area(ST_Buffer(geom, 1.0, "
                     "'quad_segs=2')) AS a FROM rw_cpts7",
         "certified scalar": "SELECT id, ST_X(geom) AS a FROM rw_cpts7"}[kind]
    calls = []
    real = sql_rewrite._parse_plan

    def spy(session, text):
        calls.append(text)
        return real(session, text)

    monkeypatch.setattr(sql_rewrite, "_parse_plan", spy)
    first = _rows(spark.sql(q), ["id", "a"])
    assert calls == [q]
    again = _rows(spark.sql(q), ["id", "a"])
    assert calls == [q]
    assert again == first and len(first) == 6


@pytest.mark.parametrize("exists,join", [("EXISTS", "LEFT SEMI JOIN"),
                                         ("NOT EXISTS", "LEFT ANTI JOIN")])
def test_exists_keeps_certified_shadow(spark, exists, join):
    """Over certified ``cust_pts`` the [NOT] EXISTS spelling plans like
    its LEFT SEMI/ANTI JOIN spelling: same Python-node count, same rows."""
    _prep(spark)
    from sedona_db_spark.plans import inspect
    ex = spark.sql(f"""SELECT c.c_custkey FROM cust_pts c
        WHERE c.c_custkey < 700 AND {exists} (SELECT 1 FROM nation_boxes n
                                       WHERE ST_Within(c.geom, n.geom))""")
    sj = spark.sql(f"""SELECT c.c_custkey FROM cust_pts c {join} nation_boxes n
        ON ST_Within(c.geom, n.geom) WHERE c.c_custkey < 700""")
    assert getattr(ex, "_sedona_rewritten_sql", None) is not None
    assert inspect.python_eval_count(ex) == inspect.python_eval_count(sj)
    got = _rows(ex, ["c_custkey"])
    assert got == _rows(sj, ["c_custkey"]) and got


def test_exists_over_an_aggregate_declines(spark):
    """``EXISTS (SELECT count(*) FROM ... WHERE ST_Within(..))`` is true
    for every outer row (an aggregate always returns one row), so it is
    no semi join: the text declines and answers like vanilla."""
    _prep(spark)
    q = """SELECT c.c_custkey FROM cust_pts c WHERE c.c_custkey < 50
           AND EXISTS (SELECT count(*) FROM nation_boxes n
                       WHERE ST_Within(c.geom, n.geom))"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None
    got = _rows(df, ["c_custkey"])
    assert got == _rows(_vanilla(spark, q), ["c_custkey"]) and got


def test_exists_bare_outer_geometry_and_comparison_form(spark):
    """Inside EXISTS, a spatial predicate over a bare outer column and
    the ``ST_Distance(a, b) < d`` comparison form both route, answering
    like their LEFT SEMI JOIN spellings (vanilla cannot plan either)."""
    _prep(spark)
    spark.sql("CREATE OR REPLACE TEMP VIEW ex_cpts AS "
              "SELECT c_custkey, geom AS cgeom FROM cust_pts")
    pairs = [
        ("""SELECT c.c_custkey FROM ex_cpts c WHERE EXISTS (
              SELECT 1 FROM nation_boxes n WHERE ST_Within(cgeom, n.geom))""",
         """SELECT c.c_custkey FROM ex_cpts c LEFT SEMI JOIN nation_boxes n
              ON ST_Within(cgeom, n.geom)"""),
        ("""SELECT c.c_custkey FROM cust_pts c WHERE NOT EXISTS (
              SELECT 1 FROM cust_pts d
              WHERE ST_Distance(c.geom, d.geom) < 1.0 AND d.c_custkey < 20)""",
         """SELECT c.c_custkey FROM cust_pts c LEFT ANTI JOIN
              (SELECT * FROM cust_pts WHERE c_custkey < 20) d
              ON ST_Distance(c.geom, d.geom) < 1.0"""),
    ]
    for ex, sj in pairs:
        df = spark.sql(ex)
        assert getattr(df, "_sedona_rewritten_sql", None) is not None, ex
        got = _rows(df, ["c_custkey"])
        assert got == _rows(spark.sql(sj), ["c_custkey"]) and got


def test_chain_plans_like_its_spatial_pair(spark):
    """A 3-relation chain routes its spatial pair through the same core
    as the pair joined alone: no more Python nodes than that join."""
    import __spark_entry__ as E
    _prep(spark)
    from sedona_db_spark.plans import inspect
    chain = spark.sql(E._Q["sql_chain_spatial_join"])
    pair = spark.sql("""
      SELECT n.n_nationkey, count(*) AS n_pts, round(sum(c.c_acctbal), 2) AS bal
      FROM nation_boxes n JOIN cust_pts c ON ST_Contains(n.geom, c.geom)
      GROUP BY n.n_nationkey""")
    assert inspect.python_eval_count(chain) <= inspect.python_eval_count(pair)
    assert _rows(chain, ["n_name", "n_pts", "bal"]) == _rows(
        _vanilla(spark, E._Q["sql_chain_spatial_join"]),
        ["n_name", "n_pts", "bal"])


def test_reused_alias_in_subquery_binds_to_its_own_block(spark):
    """A subquery that declares a routed pair alias again keeps its own
    ``alias.col`` references: they bind to the subquery's relation, not
    to the join view."""
    _prep(spark)
    q = """SELECT c.c_custkey FROM cust_pts c JOIN nation_boxes n
             ON ST_Within(c.geom, n.geom)
           WHERE EXISTS (SELECT 1 FROM cust_pts c WHERE c.c_acctbal > 9000)"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["c_custkey"])
    assert got == _rows(_vanilla(spark, q), ["c_custkey"]) and got
    ex = """SELECT c.c_custkey FROM cust_pts c
            WHERE c.c_custkey < 500 AND EXISTS (
              SELECT 1 FROM nation_boxes n WHERE ST_Within(c.geom, n.geom))
            AND c.c_custkey IN (SELECT c.c_custkey FROM cust_pts c
                                WHERE c.c_acctbal > 5000)"""
    sj = """SELECT c.c_custkey FROM cust_pts c LEFT SEMI JOIN nation_boxes n
            ON ST_Within(c.geom, n.geom)
            WHERE c.c_custkey < 500 AND c.c_acctbal > 5000"""
    df = spark.sql(ex)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["c_custkey"])
    assert got == _rows(spark.sql(sj), ["c_custkey"]) and got


def test_union_branch_reusing_pair_aliases_routes(spark):
    """Each UNION branch binds its own aliases: the first branch routes,
    the second keeps its text, and the answer equals vanilla's."""
    _prep(spark)
    branch = """SELECT c.c_custkey, n.n_nationkey FROM cust_pts c
                JOIN nation_boxes n ON {} WHERE c.c_custkey {}"""
    q = (branch.format("ST_Within(c.geom, n.geom)", "< 300") + " UNION ALL "
         + branch.format("ST_Within(c.geom, n.geom)", ">= 300"))
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    cols = ["c_custkey", "n_nationkey"]
    got = _rows(df, cols)
    assert got == _rows(_vanilla(spark, q), cols) and got


def test_moved_on_conjuncts_bind_tighter_than_where_or(spark):
    """An ON conjunct moved into the WHERE of the rewritten text holds
    for every row, also when the original WHERE is a top-level OR."""
    _prep(spark)
    q = """SELECT a.c_custkey AS ka, b.c_custkey AS kb
           FROM (SELECT * FROM cust_pts WHERE c_custkey < 120) a
           JOIN (SELECT * FROM cust_pts WHERE c_custkey < 120) b
           ON ST_DWithin(a.geom, b.geom, 5.0) AND a.c_custkey < b.c_custkey
           WHERE a.c_nationkey = 1 OR b.c_nationkey = 2"""
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    got = _rows(df, ["ka", "kb"])
    assert all(ka < kb for ka, kb in got)
    assert got == _rows(_vanilla(spark, q), ["ka", "kb"]) and got


def test_star_inside_a_relation_subquery_keeps_pruning(spark):
    """``SELECT *`` inside a chain relation's subquery expands that
    subquery, not the pair: the join view keeps only mentioned columns."""
    _prep(spark)
    q = """SELECT c.c_custkey, n.n_nationkey, s.n_name
           FROM (SELECT * FROM cust_pts WHERE c_custkey < 400) c
           JOIN nation_boxes n ON ST_Within(c.geom, n.geom)
           JOIN nation s ON s.n_nationkey = n.n_nationkey"""
    df = spark.sql(q)
    rewritten = getattr(df, "_sedona_rewritten_sql", None)
    assert rewritten is not None
    view = re.search(r"__sedona_sql_join_\w+", rewritten).group(0)
    assert "c_acctbal" not in spark.table(view).columns
    cols = ["c_custkey", "n_nationkey", "n_name"]
    got = _rows(df, cols)
    assert got == _rows(_vanilla(spark, q), cols) and got


def test_semi_join_prunes_through_a_star_subquery(spark):
    """``(SELECT * FROM cust_pts WHERE ...) c LEFT SEMI JOIN ...``: the
    star belongs to the relation's own subquery, so the pair is still
    pruned to the columns the query names — the plan neither reads nor
    hashes ``c_nationkey`` — and the rows equal the semi join of
    vanilla's inner pairs."""
    import __spark_entry__ as E
    _prep(spark)
    q = E._Q["sql_spatial_join_semi"]
    df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    plan = df._jdf.queryExecution().executedPlan().toString()
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    hashes = re.findall(r"xxhash64\(([^)]*)\)", plan)
    assert reads and hashes
    assert not any("c_nationkey" in x for x in reads + hashes), plan
    inner = _vanilla(spark, """SELECT DISTINCT c.c_custkey
        FROM (SELECT * FROM cust_pts WHERE c_custkey < 800) c
        JOIN nation_boxes n ON ST_Within(c.geom, n.geom)""")
    got = _rows(df, ["c_custkey"])
    assert got == _rows(inner, ["c_custkey"]) and got


# ----------------------------------------------------------------------
# plan facts route the join without reading data: a side whose geometry
# comes from ST_Point / ST_MakeEnvelope / ST_GeogPoint, or from a
# certified view column, starts no plan-time probe job
# ----------------------------------------------------------------------

def _probe_jobs(jobs, module="sedona_db_spark"):
    """Names of the jobs a plan-time LIMIT probe started: a ``collect``
    issued from the engine's own code (a job's status-store name carries
    its call site)."""
    return [n for _, n in jobs
            if n.startswith("collect at ") and module in n]


def _facts_views(spark):
    """Constructor views over ``range`` (no file listing jobs): points
    with a NaN and a NULL constructor input, boxes, degenerate boxes
    (zero width, NaN and NULL corners), and geography points."""
    spark.sql("""CREATE OR REPLACE TEMP VIEW pf_pts AS
                 SELECT id, ST_Point(CASE WHEN id = 40 THEN double('NaN')
                                          WHEN id = 41 THEN NULL
                                          ELSE CAST(id % 8 AS DOUBLE) + 0.5
                                     END,
                                     CAST(id DIV 8 AS DOUBLE) + 0.5) AS geom
                 FROM range(42)""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW pf_boxes AS
                 SELECT id AS bid, ST_MakeEnvelope(CAST(id AS DOUBLE) * 2.0,
                        0.0D, CAST(id AS DOUBLE) * 2.0 + 2.0, 2.0D) AS geom
                 FROM range(3)""")
    spark.sql("""CREATE OR REPLACE TEMP VIEW pf_dboxes AS
                 SELECT id AS bid, ST_MakeEnvelope(
                        CASE WHEN id = 1 THEN double('NaN')
                             WHEN id = 2 THEN NULL ELSE 0.0D END,
                        0.0D, CASE WHEN id = 3 THEN 0.0D ELSE 3.0D END,
                        3.0D) AS geom
                 FROM range(4)""")
    for v, (x, y) in (("pf_ga", ("CAST(id % 10 AS DOUBLE) * 3.0",
                                 "CAST(id DIV 10 AS DOUBLE) * 3.0")),
                      ("pf_gb", ("CAST(id % 7 AS DOUBLE) * 4.0 + 0.1",
                                 "CAST(id DIV 7 AS DOUBLE) * 4.0"))):
        spark.sql(f"""CREATE OR REPLACE TEMP VIEW {v} AS
                      SELECT id, {x} AS lon, {y} AS lat,
                             ST_GeogPoint({x}, {y}) AS g FROM range(30)""")
    # NaN and NULL inputs on the uncertified side
    spark.sql("""CREATE OR REPLACE TEMP VIEW pf_gn AS
                 SELECT id, ST_GeogPoint(CASE WHEN id = 0 THEN double('NaN')
                                              WHEN id = 1 THEN NULL
                                              ELSE CAST(id AS DOUBLE) END,
                                         1.0D) AS g
                 FROM range(20)""")
    from sedona_db_spark.plans.sql_rewrite import certify_geog_point_view
    certify_geog_point_view(spark, "pf_ga", {"g": ("lon", "lat")})


def _lattice_oracle(spark, lids_sql, inner_sql, how):
    """``how``'s answer derived from vanilla's INNER pairs (vanilla
    cannot plan outer/semi/anti joins over a Python UDF predicate)."""
    lids = sorted(r[0] for r in _vanilla(spark, lids_sql).collect())
    pairs = sorted(tuple(r) for r in _vanilla(spark, inner_sql).collect())
    hit = {a for a, _ in pairs}
    if how == "JOIN":
        return pairs
    if how == "LEFT JOIN":
        return sorted(pairs + [(a, None) for a in lids if a not in hit],
                      key=lambda t: (t[0], t[1] is None, t[1] or 0))
    if how == "LEFT SEMI JOIN":
        return [a for a in lids if a in hit]
    return [a for a in lids if a not in hit]


def _lattice_got(df, how):
    if how in ("LEFT SEMI JOIN", "LEFT ANTI JOIN"):
        return sorted(r[0] for r in df.collect())
    got = [tuple(r) for r in df.collect()]
    if how == "LEFT JOIN":
        return sorted(got, key=lambda t: (t[0], t[1] is None, t[1] or 0))
    return sorted(got)


@pytest.mark.parametrize("how", ["JOIN", "LEFT JOIN", "LEFT SEMI JOIN",
                                 "LEFT ANTI JOIN"])
@pytest.mark.parametrize("boxes", ["pf_boxes", "pf_dboxes"])
def test_constructor_sides_route_without_probe(spark, how, boxes):
    """ST_Within over an ST_Point view and an ST_MakeEnvelope view
    routes with no plan-time probe job at any join type, and answers
    like vanilla — NaN/NULL constructor inputs and degenerate envelopes
    (the rect fast path's build check is a data agg, not a proof)
    included."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    sel = "p.id" if "SEMI" in how or "ANTI" in how else "p.id, b.bid"
    q = (f"SELECT {sel} FROM pf_pts p {how} {boxes} b "
         "ON ST_Within(p.geom, b.geom)")
    with jobs_started(spark) as jobs:
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert _probe_jobs(jobs) == [], jobs
    want = _lattice_oracle(
        spark, "SELECT id FROM pf_pts",
        f"SELECT p.id, b.bid FROM pf_pts p JOIN {boxes} b "
        "ON ST_Within(p.geom, b.geom)", how)
    assert _lattice_got(df, how) == want
    if boxes == "pf_boxes":
        assert len(want) > 0


def test_rect_verdict_shared_across_join_types(spark):
    """The rect fast path's build-side rectangle verdict is a fact about
    the build geometry, so an ANTI join after an INNER one over the same
    two views reuses it — the lattice's row ids and the rewrite's
    per-join-type column pruning do not re-key it — and still answers
    like vanilla."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    inner = ("SELECT p.id, b.bid FROM pf_pts p JOIN pf_boxes b "
             "ON ST_Within(p.geom, b.geom)")
    with jobs_started(spark) as jobs:
        spark.sql(inner)
    verdict = [n for _, n in jobs if n.startswith("first at ")
               and "spatial_join.py" in n]
    assert verdict, jobs          # the INNER ran the verdict agg
    with jobs_started(spark) as jobs:
        df = spark.sql("SELECT p.id FROM pf_pts p LEFT ANTI JOIN pf_boxes b "
                       "ON ST_Within(p.geom, b.geom)")
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert [n for _, n in jobs if n.startswith("first at ")
            and "spatial_join.py" in n] == [], jobs
    want = _lattice_oracle(spark, "SELECT id FROM pf_pts", inner,
                           "LEFT ANTI JOIN")
    assert _lattice_got(df, "LEFT ANTI JOIN") == want


def test_build_size_probe_shared_across_join_types(spark):
    """The build side's capped row count (the broadcast-or-partition
    probe) is memoized for a small side too: after an INNER text, an
    ANTI text over the same two views starts no job, and answers like
    vanilla."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    with jobs_started(spark) as jobs:
        spark.sql("SELECT p.id FROM pf_pts p JOIN pf_boxes b "
                  "ON ST_Within(p.geom, b.geom)")
    assert jobs                   # the INNER ran the probe
    with jobs_started(spark) as jobs:
        df = spark.sql("SELECT p.id FROM pf_pts p LEFT ANTI JOIN pf_boxes b "
                       "ON ST_Within(p.geom, b.geom)")
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert jobs == [], jobs
    want = _lattice_oracle(spark, "SELECT id FROM pf_pts",
                           "SELECT p.id, b.bid FROM pf_pts p JOIN pf_boxes b "
                           "ON ST_Within(p.geom, b.geom)", "LEFT ANTI JOIN")
    assert _lattice_got(df, "LEFT ANTI JOIN") == want and want


@pytest.mark.parametrize("how", ["JOIN", "LEFT JOIN"])
@pytest.mark.parametrize("right", ["pf_gb", "pf_gn"])
def test_geog_point_sides_route_without_probe(spark, how, right):
    """ST_DWithin over two ST_GeogPoint views, the left one certified
    (certify_geog_point_view), takes the geography point route with no
    plan-time job of the engine's own (it took four probes), and
    answers like vanilla; NaN and NULL constructor inputs included."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    q = (f"SELECT a.id, b.id FROM pf_ga a {how} {right} b "
         "ON ST_DWithin(a.g, b.g, 500000.0)")
    with jobs_started(spark) as jobs:
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert [n for _, n in jobs if "sedona_db_spark" in n] == [], jobs
    want = _lattice_oracle(
        spark, "SELECT id FROM pf_ga",
        f"SELECT a.id, b.id FROM pf_ga a JOIN {right} b "
        "ON ST_DWithin(a.g, b.g, 500000.0)", how)
    assert _lattice_got(df, how) == want and len(want) > 0


def test_geog_point_relation_join_reads_no_extent(spark):
    """A geography relation join over two ST_GeogPoint sides sizes its
    cell grid without the per-side extent probe (a point's extent is
    0), so construction starts no job of the engine's own."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    q = ("SELECT a.id, b.id FROM pf_ga a JOIN pf_ga b "
         "ON ST_Intersects(a.g, b.g)")
    with jobs_started(spark) as jobs:
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    assert [n for _, n in jobs if "sedona_db_spark" in n] == [], jobs
    assert sorted(map(tuple, df.collect())) == [(i, i) for i in range(30)]


@pytest.mark.parametrize("how", ["JOIN", "LEFT JOIN"])
def test_all_null_geog_point_side_routes_geography(spark, how):
    """An all-NULL ST_GeogPoint side is geography by proof (a scan read
    nothing and took the planar route): the geography route answers
    like vanilla."""
    _facts_views(spark)
    spark.sql("""CREATE OR REPLACE TEMP VIEW pf_gnull AS
                 SELECT id, ST_GeogPoint(CAST(NULL AS DOUBLE), 1.0D) AS g
                 FROM range(6)""")
    for a, b in (("pf_gnull", "pf_gb"), ("pf_gb", "pf_gnull")):
        q = (f"SELECT a.id, b.id FROM {a} a {how} {b} b "
             "ON ST_DWithin(a.g, b.g, 500000.0)")
        df = spark.sql(q)
        assert getattr(df, "_sedona_rewritten_sql", None) is not None
        want = _lattice_oracle(
            spark, f"SELECT id FROM {a}",
            f"SELECT a.id, b.id FROM {a} a JOIN {b} b "
            "ON ST_DWithin(a.g, b.g, 500000.0)", how)
        assert _lattice_got(df, how) == want


def test_raw_wkb_side_still_probes(spark, tmp_path):
    """A raw-WKB parquet column proves nothing, so its side is read —
    by one memoized scan: a single probe call site, and the same text
    again starts no job."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    d = str(tmp_path / "wkb")
    spark.sql("SELECT id, ST_AsBinary(geom) AS geom FROM pf_pts") \
        .write.parquet(d)
    spark.read.parquet(d).createOrReplaceTempView("pf_wkb")
    result_cache.reset()
    q = ("SELECT p.id, b.bid FROM pf_wkb p JOIN pf_boxes b "
         "ON ST_Within(p.geom, b.geom)")
    with jobs_started(spark) as jobs:
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is not None
    sites = {n for n in _probe_jobs(jobs, "sql_rewrite.py")}
    assert len(sites) == 1, jobs
    assert sorted(map(tuple, df.collect())) == \
        sorted(map(tuple, _vanilla(spark, q).collect()))
    with jobs_started(spark) as jobs:
        spark.sql(q)
    assert jobs == []


def test_mixed_tagged_planar_pair_declines(spark):
    """An ST_Point side against an ST_GeogPoint side declines to
    vanilla (mixed edges), and deciding so reads no data."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    _facts_views(spark)
    result_cache.reset()
    q = ("SELECT p.id, g.id FROM pf_pts p JOIN pf_gb g "
         "ON ST_DWithin(p.geom, g.g, 1.0)")
    with jobs_started(spark) as jobs:
        df = spark.sql(q)
    assert getattr(df, "_sedona_rewritten_sql", None) is None
    assert _probe_jobs(jobs) == [], jobs


# ---------------------------------------------------------------------
# the scalar rewrite: NULL where the kernels answer NULL, columns bound
# through their query blocks, the text's hints kept
# ---------------------------------------------------------------------

def _nan_points(spark):
    """Rows whose constructed point ``ST_Point(a, b)`` is NULL (a NaN or
    NULL coordinate) or not, beside a certified ``geom``."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_view
    nan = float("nan")
    spark.createDataFrame(
        [(0, nan, 0.0), (1, 0.0, nan), (2, None, 0.0), (3, 0.0, None),
         (4, 3.0, 4.0), (5, -0.0, 1.5)], "id long, a double, b double") \
        .selectExpr("id", "a", "b", "CAST(id AS DOUBLE) AS x",
                    "2.0D AS y").createOrReplaceTempView("nan_src")
    spark.sql("CREATE OR REPLACE TEMP VIEW nan_pts AS "
              "SELECT id, a, b, x, y, ST_Point(x, y) AS geom FROM nan_src")
    certify_point_view(spark, "nan_pts", {"geom": ("x", "y")})


@pytest.mark.parametrize("other", ["ST_Point(0.0D, 0.0D)", "geom"])
def test_constructed_point_nulls_match_the_kernels(spark, other):
    """``ST_Point(x, y)`` is NULL when x or y is NULL or NaN, so every
    call over it answers NULL there: the rewritten ST_Distance,
    ST_DistanceSphere, ST_DWithin, ST_X and ST_Y (against a constructed
    point and against a certified column) plan with no Python node and
    answer exactly what the kernels answer."""
    from sedona_db_spark.functions import get_udf
    _nan_points(spark)
    p = "ST_Point(a, b)"
    calls = {"d": f"ST_Distance({p}, {other})",
             "ds": f"ST_DistanceSphere({p}, {other})",
             "dw": f"ST_DWithin({p}, {other}, 1e9)",
             "gx": f"ST_X({p})", "gy": f"ST_Y({p})"}
    q = ("SELECT id, " + ", ".join(f"{v} AS {k}" for k, v in calls.items())
         + " FROM nan_pts")
    df = spark.sql(q)
    assert _python_node_count(df) == 0
    pt = get_udf("ST_Point")
    mine = pt(F.col("a"), F.col("b"))
    theirs = F.col("geom") if other == "geom" \
        else pt(F.lit(0.0), F.lit(0.0))
    want = spark.table("nan_pts").select(
        "id", get_udf("ST_Distance")(mine, theirs).alias("d"),
        get_udf("ST_DistanceSphere")(mine, theirs).alias("ds"),
        get_udf("ST_DWithin")(mine, theirs, F.lit(1e9)).alias("dw"),
        get_udf("ST_X")(mine).alias("gx"), get_udf("ST_Y")(mine).alias("gy"))
    cols = ["id"] + list(calls)
    got, exp = _rows_nullsafe(df, cols), _rows_nullsafe(want, cols)
    assert [r[:1] + r[3:] for r in got] == [r[:1] + r[3:] for r in exp]
    for g, e in zip(got, exp):
        assert g[1][0] == e[1][0] and g[1][1] == pytest.approx(e[1][1])
        assert g[2][0] == e[2][0] and g[2][1] == pytest.approx(e[2][1])
    assert sum(r[1][0] for r in got) == 4      # the four NULL points


@pytest.mark.parametrize("q", [
    "WITH t AS (SELECT geom FROM nan_pts) SELECT ST_X(geom) AS gx FROM t",
    "SELECT ST_X(geom) AS gx FROM (SELECT geom FROM nan_pts) d",
    "SELECT ST_X(geom) AS gx FROM (SELECT id, geom FROM nan_pts) d "
    "WHERE d.id IN (SELECT id FROM nan_pts WHERE ST_Y(geom) > 1.0)",
])
def test_certified_column_binds_through_its_block(spark, q):
    """A certified column named outside the block that reads the
    certified relation (through a CTE, a derived table, or beside an
    ``IN`` subquery over it) answers like vanilla instead of naming the
    relation where it is not in scope."""
    _nan_points(spark)
    got = _rows(spark.sql(q), ["gx"])
    assert got == _rows(_vanilla(spark, q), ["gx"]) and len(got) == 6


@pytest.mark.parametrize("call", [
    "ST_Distance(ST_Point(a.x, a.y), ST_Point(b.x, b.y))",
    "ST_Area(ST_Buffer(ST_Point(a.x, a.y), 1.0, 'quad_segs=2'))"])
def test_call_edits_keep_the_texts_hints(spark, call):
    """The call edits splice the original text, so its comments and
    hints stay: ``/*+ SHUFFLE_MERGE(b) */`` still plans a SortMergeJoin
    over relations small enough to broadcast."""
    spark.sql("CREATE OR REPLACE TEMP VIEW hint_pts AS SELECT id, "
              "CAST(id AS DOUBLE) AS x, 1.0D AS y FROM range(20)")
    q = (f"SELECT /*+ SHUFFLE_MERGE(b) */ a.id, {call} AS v "
         f"FROM hint_pts a JOIN hint_pts b ON a.id = b.id")
    df = spark.sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    assert len(df.collect()) == 20


def test_cte_named_like_a_catalog_view_is_the_cte(spark):
    """A CTE that shares its name with a catalog view is what the query
    reads there: the spatial join over it answers like vanilla instead
    of joining the catalog view."""
    _memo_points(spark, "cte_shadowed")
    _memo_points(spark, "cte_source")
    _memo_box(spark, 0, "cte_box")
    q = ("WITH cte_shadowed AS (SELECT * FROM cte_source WHERE id >= 2) "
         "SELECT p.id FROM cte_shadowed p JOIN cte_box b "
         "ON ST_Intersects(p.geom, b.geom)")
    assert _ids(spark.sql(q)) == _ids(_vanilla(spark, q)) == [2]
