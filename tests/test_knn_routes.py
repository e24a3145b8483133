"""Differential test of the KNN join family against a naive oracle.

Every route — the broadcast join and the partitioned join, planar and
spheroid, with ``include_ties`` off and on — must return exactly the
rows of a CROSS JOIN ranked by (distance, object id), where the distance
is the engine's own ``ST_Distance`` (planar) or ``haversine_m`` over
``ST_X``/``ST_Y`` (spheroid) and NULL distances (NULL or EMPTY on
either side) drop.  The inputs are the adversarial shapes: NULL and
POINT EMPTY rows on both sides, duplicate objects and queries, exact
distance ties, a 1e-7 m near-tie, a query whose first round finds fewer
than k candidates, polygons next to a NULL object, and an empty (or
all-NULL) object side.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from sedona_db_spark.operators.geography_join import M_PER_DEG, haversine_m
from sedona_db_spark.operators.knn_join import (TIE_TOLERANCE, knn_join,
                                                knn_join_partitioned,
                                                knn_join_spheroid_partitioned)

# (queries, objects, k): (id, WKT or None) rows, objects in id order so
# the broadcast route's row-order tie-break is the object id too
_NEAR = 1.0 + 1e-7 / M_PER_DEG     # lat whose arc is 1e-7 m past 1 deg
CASES = {
    "null_empty_duplicates_ties": (
        [(1, "POINT (0 0)"), (2, None), (3, "POINT EMPTY"),
         (4, "POINT (0 0)"), (5, "POINT (3 3)")],
        [(10, "POINT (1 0)"), (11, "POINT (0 1)"), (12, None),
         (13, "POINT EMPTY"), (14, "POINT (1 0)"), (15, "POINT (5 5)"),
         (16, "POINT (-1 0)")],
        2),
    "near_tie": (
        [(1, "POINT (0 0)")],
        [(20, "POINT (0 1)"), (21, f"POINT (0 {_NEAR!r})"),
         (22, "POINT (40 40)")],
        1),
    "round_a_finds_fewer_than_k": (
        [(1, "POINT (0 0)")],
        [(30, "POINT (0.1 0)"), (31, "POINT (100 60)"),
         (32, "POINT (100 59)"), (33, "POINT (99 60)")],
        3),
    "polygons_and_null": (
        [(1, "POINT (0 0)"), (2, "POINT (10 10)"), (3, None)],
        [(40, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
         (41, "POLYGON ((5 -5, 6 -5, 6 20, 5 20, 5 -5))"),
         (42, None)],
        1),
    "empty_object_side": (
        [(1, "POINT (0 0)"), (2, None)], [], 2),
    "all_null_object_side": (
        [(1, "POINT (0 0)")], [(50, None), (51, "POINT EMPTY")], 2),
}

OUT_COLUMNS = ["qid", "geom", "oid", "o_geom", "knn_distance"]


def _frame(spark, rows, id_col):
    return spark.createDataFrame(rows, f"{id_col} int, wkt string") \
        .selectExpr(id_col, "ST_GeomFromWKT(wkt) AS geom")


def _oracle(queries, objects, k, include_ties, spheroid):
    pairs = queries.alias("q").crossJoin(objects.alias("o"))
    if spheroid:
        dist = haversine_m(F.expr("ST_Y(q.geom)"), F.expr("ST_X(q.geom)"),
                           F.expr("ST_Y(o.geom)"), F.expr("ST_X(o.geom)"))
    else:
        dist = F.expr("ST_Distance(q.geom, o.geom)")
    by_query = defaultdict(list)
    for r in pairs.select("q.qid", "o.oid", dist.alias("d")).collect():
        if r["d"] is not None:
            by_query[r["qid"]].append((r["d"], r["oid"]))
    out = []
    for qid, ranked in by_query.items():
        ranked.sort()
        keep = ranked[:k]
        if include_ties and len(ranked) > k:
            kth = ranked[k - 1][0]
            keep = [p for p in ranked if p[0] <= kth + TIE_TOLERANCE]
        out += [(qid, oid, d) for d, oid in keep]
    return sorted(out)


def _assert_rows_equal(got, want, route):
    assert [(q, o) for q, o, _ in got] == [(q, o) for q, o, _ in want], \
        (route, got, want)
    for (_, _, d), (_, _, e) in zip(got, want):
        assert math.isclose(d, e, rel_tol=1e-9, abs_tol=1e-9), (route, d, e)


ROUTES = {
    # name -> (spheroid, builder)
    "broadcast": (False, lambda q, o, k, t: knn_join(
        q, o, k, include_ties=t)),
    "partitioned": (False, lambda q, o, k, t: knn_join_partitioned(
        q, o, k, include_ties=t)),
    "broadcast_spheroid": (True, lambda q, o, k, t: knn_join(
        q, o, k, include_ties=t, use_spheroid=True)),
    "partitioned_spheroid": (True, lambda q, o, k, t:
                             knn_join_spheroid_partitioned(
                                 q, o, k, include_ties=t)),
}


@pytest.mark.parametrize("case", list(CASES))
def test_knn_routes_match_naive_oracle(spark, case):
    qrows, orows, k = CASES[case]
    queries = _frame(spark, qrows, "qid")
    objects = _frame(spark, orows, "oid")
    polygons = case == "polygons_and_null"
    for include_ties in (False, True):
        for name, (spheroid, build) in ROUTES.items():
            route = f"{case}/{name}/ties={include_ties}"
            if spheroid and polygons:
                # the spheroid metric is POINT-only on every route
                with pytest.raises(Exception, match="POINT"):
                    build(queries, objects, k, include_ties).collect()
                continue
            out = build(queries, objects, k, include_ties)
            assert out.columns == OUT_COLUMNS, route
            got = sorted((r["qid"], r["oid"], r["knn_distance"])
                         for r in out.collect())
            want = _oracle(queries, objects, k, include_ties, spheroid)
            _assert_rows_equal(got, want, route)


@pytest.mark.parametrize("case", ["null_empty_duplicates_ties",
                                  "near_tie"])
def test_knn_spheroid_routes_accept_geography(spark, case):
    """Geography-tagged points (``ST_GeogFromWKT``, the natural lon/lat
    input of a great-circle KNN) join on both spheroid routes exactly as
    the same points untagged do."""
    qrows, orows, k = CASES[case]

    def geog(rows, id_col):
        return spark.createDataFrame(rows, f"{id_col} int, wkt string") \
            .selectExpr(id_col, "ST_GeogFromWKT(wkt) AS geom")
    queries, objects = geog(qrows, "qid"), geog(orows, "oid")
    want = _oracle(_frame(spark, qrows, "qid"), _frame(spark, orows, "oid"),
                   k, False, True)
    for name in ("broadcast_spheroid", "partitioned_spheroid"):
        out = ROUTES[name][1](queries, objects, k, False)
        got = sorted((r["qid"], r["oid"], r["knn_distance"])
                     for r in out.collect())
        _assert_rows_equal(got, want, f"{case}/{name}/geography")


def test_knn_spheroid_partitioned_rebuild_starts_no_job(spark):
    """The spheroid build memoizes its object stats and query probe like
    the planar one: a second build of the same join fires no Spark job
    at construction."""
    from sedona_db_spark.operators import result_cache
    queries = _frame(spark, [(1, "POINT (0 0)"), (2, "POINT (10 10)")],
                     "qid")
    objects = _frame(spark, [(10, "POINT (1 0)"), (11, "POINT (9 9)")],
                     "oid")
    from sedona_db_spark.plans.inspect import jobs_started
    result_cache.reset()
    with jobs_started(spark) as jobs:
        first = knn_join_spheroid_partitioned(queries, objects, 1)
    assert jobs
    want = sorted(map(tuple, first.select("qid", "oid").collect()))
    with jobs_started(spark) as jobs:
        again = knn_join_spheroid_partitioned(queries, objects, 1)
    assert jobs == []
    assert sorted(map(tuple, again.select("qid", "oid").collect())) \
        == want == [(1, 10), (2, 11)]


def test_knn_point_query_side_starts_no_probe(spark):
    """A partitioned KNN build whose query side comes from ST_Point
    reads no query rows at construction: its only collect call site is
    the object stats agg, where a WKT query side adds the query probe."""
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    objects = _frame(spark, [(10, "POINT (1 0)"), (11, "POINT (9 9)")],
                     "oid")
    wkt = _frame(spark, [(1, "POINT (0 0)"), (2, "POINT (10 10)")], "qid")
    pts = spark.createDataFrame([(1, 0.0, 0.0), (2, 10.0, 10.0)],
                                "qid int, x double, y double") \
        .selectExpr("qid", "ST_Point(x, y) AS geom")
    sites = {}
    for name, queries in (("wkt", wkt), ("point", pts)):
        result_cache.reset()
        with jobs_started(spark) as jobs:
            out = knn_join_partitioned(queries, objects, 1)
        sites[name] = {n for _, n in jobs
                       if n.startswith("collect at ") and "knn_join.py" in n}
        assert sorted(map(tuple, out.select("qid", "oid").collect())) \
            == [(1, 10), (2, 11)]
    assert len(sites["point"]) == 1 and sites["point"] < sites["wkt"]
