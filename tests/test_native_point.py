"""Bit-exactness and wiring of the native point extraction rewrite.

plans/native_point.py reconstructs IEEE-754 doubles from point-WKB bit
patterns with pure whole-stage-codegen SQL; the certified-scalar rewrite
(plans/sql_rewrite._scalar_sql) substitutes it for the
ST_X/ST_Y/ST_Distance kernels only under a point certificate.  These
tests pin (a) bit-equality against the Python kernels over the full
double domain including subnormals/zeros/inf/NaN, (b) the guard's
rejection of non-point WKB, (c) certify_point_table's refusal to stamp
a lying certificate, (d) the rewrite firing (plan goes pure native)
without changing results, and (e) a view certificate's two proofs — the
constructor read from the plan and the full scan — reaching the same
verdict on adversarial rows.
"""

import math
import struct

import numpy as np
import pytest

from sedona_db_spark.plans.native_point import (
    point_guard_sql, point_x_sql, point_y_sql)


def _pt_wkb(x: float, y: float) -> bytes:
    return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)


def _domain_coords():
    rng = np.random.default_rng(20260817)
    vals = list(rng.uniform(-1e6, 1e6, 200))
    vals += list(rng.normal(0, 1e-300, 20))            # subnormal-range
    vals += [0.0, -0.0, math.inf, -math.inf,
             5e-324, -5e-324, 2.2250738585072014e-308,  # min subnormal/normal
             1.7976931348623157e308, -1.7976931348623157e308,
             1.0, -1.0, 123.456, -0.1]
    vals += list(rng.uniform(-180, 180, 80))
    return vals


def test_native_xy_bit_exact(spark):
    coords = _domain_coords()
    pts = [(_pt_wkb(x, y),) for x, y in zip(coords, coords[::-1])]
    df = spark.createDataFrame(pts, "g binary")
    df.createOrReplaceTempView("np_bits")
    rows = spark.sql(
        f"SELECT ST_X(g) kx, ST_Y(g) ky, {point_x_sql('g')} nx, "
        f"{point_y_sql('g')} ny FROM np_bits").collect()
    assert len(rows) == len(pts)
    for r in rows:
        # bit-level equality (incl. -0.0 vs 0.0)
        for k, n in ((r["kx"], r["nx"]), (r["ky"], r["ny"])):
            assert struct.pack("<d", k) == struct.pack("<d", n), (k, n)


def test_nan_points_never_certify(spark):
    """NaN-coordinate WKB is the kernels' POINT EMPTY encoding (ST_X/Y
    -> NULL); the ST_Point kernel never produces it (NaN input -> NULL
    geometry), and write-time certification must refuse it so the
    native extraction (which would yield NaN, not NULL) stays
    unreachable for such rows."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_table
    rows = [(_pt_wkb(1.0, 2.0),), (_pt_wkb(math.nan, math.nan),)]
    spark.createDataFrame(rows, "geom binary").write.mode("overwrite") \
        .saveAsTable("np_cert_nan")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_table(spark, "np_cert_nan", ["geom"])
    spark.sql("DROP TABLE np_cert_nan")
    # and the kernel indeed NULLs NaN input, so plan-certified columns
    # cannot contain NaN coords
    r = spark.sql("SELECT ST_Point(CAST('NaN' AS DOUBLE), 1.0) g").first()
    assert r["g"] is None


def test_guard_rejects_non_point(spark):
    rows = [
        (b"\x01\x02\x00\x00\x00" + struct.pack("<dd", 1, 2),),  # linestring tag
        (b"\x00\x01\x00\x00\x00" + struct.pack(">dd", 1, 2),),  # big-endian
        (_pt_wkb(1, 2) + b"\x00",),                              # wrong length
        (_pt_wkb(1, 2)[:-1],),
        (None,),
    ]
    df = spark.createDataFrame(rows, "g binary")
    df.createOrReplaceTempView("np_guard")
    out = spark.sql(
        f"SELECT {point_guard_sql('g')} ok, {point_x_sql('g')} x "
        "FROM np_guard").collect()
    assert all(not r["ok"] for r in out if r["ok"] is not None)
    assert all(r["x"] is None for r in out)


def test_certify_point_table_stamps_and_refuses(spark, tmp_path):
    from sedona_db_spark.plans.sql_rewrite import (
        certify_point_table, _point_table_cols)
    good = [( _pt_wkb(float(i), float(-i)),) for i in range(10)] + [(None,)]
    spark.createDataFrame(good, "geom binary").write.mode("overwrite") \
        .saveAsTable("np_cert_good")
    certify_point_table(spark, "np_cert_good", ["geom"])
    assert _point_table_cols(spark, "np_cert_good") == ["geom"]

    bad = good + [(b"\x01\x02\x00\x00\x00" + struct.pack("<dd", 1, 2),)]
    spark.createDataFrame(bad, "geom binary").write.mode("overwrite") \
        .saveAsTable("np_cert_bad")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_table(spark, "np_cert_bad", ["geom"])
    assert _point_table_cols(spark, "np_cert_bad") == []
    spark.sql("DROP TABLE np_cert_good")
    spark.sql("DROP TABLE np_cert_bad")


def test_shadow_certification_and_substitution(spark):
    """Shadow columns (stored doubles proven bit-equal to the WKB
    coordinates) substitute directly — zero per-row decode: no
    EvalPython AND no bit-extraction (conv) in the plan."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_table
    rng = np.random.default_rng(11)
    rows = [(int(i), _pt_wkb(float(x), float(y)), float(x), float(y))
            for i, (x, y) in enumerate(rng.uniform(-50, 50, (32, 2)))]
    rows.append((32, None, None, None))    # NULL row: shadows NULL too
    spark.createDataFrame(rows, "k bigint, geom binary, px double, py double") \
        .write.mode("overwrite").saveAsTable("np_shadow_pts")
    certify_point_table(spark, "np_shadow_pts", ["geom"],
                        shadow={"geom": ("px", "py")})
    q = ("SELECT a.k, ST_Distance(a.geom, b.geom) d, ST_X(a.geom) x "
         "FROM np_shadow_pts a JOIN np_shadow_pts b ON b.k = a.k + 1")
    out = spark.sql(q)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "conv(" not in plan, plan       # shadow, not bit extraction
    got = {r["k"]: (r["d"], r["x"]) for r in out.collect()}
    by_k = {k: (x, y) for k, _, x, y in rows}
    for k, (d, x) in got.items():
        if by_k[k][0] is None or by_k[k + 1][0] is None:
            assert d is None and (x is None or by_k[k][0] is not None)
            continue
        assert x == by_k[k][0]
        assert d == pytest.approx(math.hypot(
            by_k[k][0] - by_k[k + 1][0], by_k[k][1] - by_k[k + 1][1]),
            abs=1e-9)
    spark.sql("DROP TABLE np_shadow_pts")


def test_shadow_certification_refusals(spark):
    from sedona_db_spark.plans.sql_rewrite import certify_point_table
    # (a) coordinate mismatch
    rows = [(_pt_wkb(1.0, 2.0), 1.0, 2.5)]
    spark.createDataFrame(rows, "geom binary, px double, py double") \
        .write.mode("overwrite").saveAsTable("np_shadow_bad")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_table(spark, "np_shadow_bad", ["geom"],
                            shadow={"geom": ("px", "py")})
    # (b) sign-of-zero mismatch: WKB stores -0.0, shadow says 0.0
    rows = [(_pt_wkb(-0.0, 2.0), 0.0, 2.0)]
    spark.createDataFrame(rows, "geom binary, px double, py double") \
        .write.mode("overwrite").saveAsTable("np_shadow_zero")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_table(spark, "np_shadow_zero", ["geom"],
                            shadow={"geom": ("px", "py")})
    # (c) NULL geometry with non-NULL shadow (substitution would
    # resurrect a value the kernel returns NULL for)
    rows = [(None, 1.0, 2.0)]
    spark.createDataFrame(rows, "geom binary, px double, py double") \
        .write.mode("overwrite").saveAsTable("np_shadow_null")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_table(spark, "np_shadow_null", ["geom"],
                            shadow={"geom": ("px", "py")})
    for t in ("np_shadow_bad", "np_shadow_zero", "np_shadow_null"):
        spark.sql(f"DROP TABLE {t}")


def test_view_shadow_invalidated_by_replace(spark):
    """A view certificate dies with the view definition, for both kinds
    (certify_point_view / certify_geog_point_view): CREATE OR REPLACE
    with different content must change the plan key so the rewrite
    falls back to the kernel (fail-closed).  A certificate is only ever
    served by its own kind's lookup."""
    from sedona_db_spark.plans.inspect import certificates
    from sedona_db_spark.plans.sql_rewrite import (
        _view_shadow, certify_geog_point_view, certify_point_view,
        geog_shadow_xy_for_view)
    kinds = [("ST_Point", "planar", certify_point_view, _view_shadow,
              geog_shadow_xy_for_view),
             ("ST_GeogPoint", "geog", certify_geog_point_view,
              geog_shadow_xy_for_view, _view_shadow)]
    for ctor, kind, certify, lookup, other_lookup in kinds:
        spark.sql(f"""CREATE OR REPLACE TEMP VIEW np_vshadow AS
                  SELECT CAST(id AS DOUBLE) vx, CAST(-id AS DOUBLE) vy,
                         {ctor}(CAST(id AS DOUBLE), CAST(-id AS DOUBLE)) g
                  FROM range(10)""")
        certify(spark, "np_vshadow", {"g": ("vx", "vy")})
        assert lookup(spark, "np_vshadow", "g") == ("vx", "vy")
        assert other_lookup(spark, "np_vshadow", "g") is None
        # the constructor's arguments are expressions, not the shadow
        # columns, so the certificate was proven by the scan
        live = {c["kind"]: c for c in certificates(spark)
                if c["view"] == "np_vshadow"}
        assert live[kind] == {"view": "np_vshadow", "kind": kind,
                              "shadow": {"g": ("vx", "vy")},
                              "live": True, "proof": "scan"}
        spark.sql(f"""CREATE OR REPLACE TEMP VIEW np_vshadow AS
                  SELECT CAST(id AS DOUBLE) vx, CAST(id AS DOUBLE) vy,
                         {ctor}(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) g
                  FROM range(10)""")
        assert lookup(spark, "np_vshadow", "g") is None
        gone = {c["kind"]: c for c in certificates(spark)
                if c["view"] == "np_vshadow"}
        assert gone[kind] == dict(live[kind], live=False)
        assert not any(c["live"] for c in gone.values())
    spark.catalog.dropTempView("np_vshadow")


def test_view_shadow_invalidated_by_parquet_append(spark, tmp_path):
    """A file appended under a certified ``parquet.`dir``` view changes
    the view's plan key, so the certificate stops serving: an appended
    NaN x is a NULL point to the kernel but a NaN shadow, and ST_X must
    keep answering NULL."""
    from sedona_db_spark.plans.sql_rewrite import (
        _view_shadow, certify_point_view)
    d = str(tmp_path / "pts")
    spark.createDataFrame([(i, float(i), 2.0) for i in range(8)],
                          "k long, x double, y double").write.parquet(d)
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW np_vappend AS
                  SELECT k, x, y, ST_Point(x, y) AS g FROM parquet.`{d}`""")
    certify_point_view(spark, "np_vappend", {"g": ("x", "y")})
    assert _view_shadow(spark, "np_vappend", "g") == ("x", "y")
    q = "SELECT k, ST_X(g) AS gx FROM np_vappend"
    plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan      # served by the shadow
    spark.createDataFrame([(99, float("nan"), 2.0)],
                          "k long, x double, y double") \
        .write.mode("append").parquet(d)
    assert _view_shadow(spark, "np_vappend", "g") is None
    got = {r["k"]: r["gx"] for r in spark.sql(q).collect()}
    assert got[99] is None and got[3] == 3.0 and len(got) == 9
    spark.catalog.dropTempView("np_vappend")


def test_certified_scalar_rewrite_fires_and_matches(spark):
    from sedona_db_spark.plans.sql_rewrite import certify_point_table
    rng = np.random.default_rng(7)
    pts = [(int(i), _pt_wkb(float(x), float(y)))
           for i, (x, y) in enumerate(rng.uniform(-100, 100, (64, 2)))]
    spark.createDataFrame(pts, "k bigint, geom binary") \
        .write.mode("overwrite").saveAsTable("np_cert_pts")
    certify_point_table(spark, "np_cert_pts", ["geom"])
    q = ("SELECT a.k, ST_Distance(a.geom, b.geom) d, ST_X(a.geom) x "
         "FROM np_cert_pts a JOIN np_cert_pts b ON b.k = a.k + 1")
    out = spark.sql(q)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan     # rewrite fired: no kernel
    got = {r["k"]: (r["d"], r["x"]) for r in out.collect()}
    by_k = {k: struct.unpack("<dd", g[5:]) for k, g in pts}
    assert len(got) == 63
    for k, (d, x) in got.items():
        ax, ay = by_k[k]
        bx, by = by_k[k + 1]
        assert x == ax
        assert d == pytest.approx(math.hypot(ax - bx, ay - by), abs=1e-9)
    spark.sql("DROP TABLE np_cert_pts")


# ---------------------------------------------------------------------
# constructor proof vs. full scan (sql_rewrite._certify_view)
# ---------------------------------------------------------------------

def _vanilla(spark, q):
    """The query through Spark's own front door: no certified rewrite,
    so every ST_* call is its kernel."""
    from pyspark.sql.session import SparkSession
    return SparkSession.sql.__get__(spark)(q)


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def _certify_verdict(spark, certify, view):
    """True when ``view`` was stamped, False when refused."""
    try:
        certify(spark, view, {"g": ("x", "y")})
        return True
    except ValueError as e:
        assert "refusing to stamp" in str(e)
        return False


def _proof(spark, view, kind):
    from sedona_db_spark.plans.inspect import certificates
    got = [c for c in certificates(spark)
           if c["view"] == view and c["kind"] == kind and c["live"]]
    return got[0]["proof"] if got else None


_BASE = [(1.0, 2.0), (3.5, -4.25)]
# case -> (rows appended to _BASE, stamps planar?, stamps geog?)
_ADVERSARIAL = {
    "nan_x": ([(math.nan, 2.0)], False, False),
    "nan_y": ([(1.0, math.nan)], False, False),
    "null_x": ([(None, 2.0)], False, False),
    "null_both": ([(None, None)], True, True),
    "neg_zero": ([(-0.0, -0.0), (0.0, -0.0)], True, True),
    "inf": ([(math.inf, -math.inf)], True, False),     # geog: lat -inf
    "lon_inf": ([(-math.inf, 1.0)], True, True),
    "subnormal": ([(5e-324, -2.2250738585072e-309)], True, True),
    "lat_90": ([(10.0, 90.0)], True, False),
    "lat_m90": ([(10.0, -90.0)], True, False),
    "lat_near_pole": ([(10.0, 89.9999999999)], True, False),
    "lon_540": ([(540.0, 10.0)], True, True),
}


@pytest.mark.parametrize("kind", ["planar", "geog"])
@pytest.mark.parametrize("case", sorted(_ADVERSARIAL))
def test_constructor_proof_agrees_with_scan(spark, tmp_path, case, kind):
    """Each adversarial table is certified twice: as a constructor view
    (proven from the plan, only the shadow doubles checked) and as the
    same rows with the WKB stored in parquet (the full scan).  Both
    reach the same verdict, and a stamped view answers ST_X / ST_Y /
    ST_Distance like the uncertified kernels."""
    from sedona_db_spark.plans.sql_rewrite import (
        certify_geog_point_view, certify_point_view)
    extra, planar_ok, geog_ok = _ADVERSARIAL[case]
    ctor, certify, want = (("ST_Point", certify_point_view, planar_ok)
                           if kind == "planar" else
                           ("ST_GeogPoint", certify_geog_point_view, geog_ok))
    rows = [(i, x, y) for i, (x, y) in enumerate(_BASE + extra)]
    con, scan = f"np_pc_{case}_{kind}_c", f"np_pc_{case}_{kind}_s"
    spark.createDataFrame(rows, "k long, x double, y double") \
        .selectExpr("k", "x", "y", f"{ctor}(x, y) AS g") \
        .createOrReplaceTempView(con)
    d = str(tmp_path / "stored")
    spark.table(con).write.parquet(d)
    spark.read.parquet(d).createOrReplaceTempView(scan)
    verdicts = [_certify_verdict(spark, certify, v) for v in (con, scan)]
    assert verdicts == [want, want]
    if not want:
        return
    assert _proof(spark, con, kind) == "constructor"
    assert _proof(spark, scan, kind) == "scan"
    for q in ("SELECT k, ST_X(g) AS a, ST_Y(g) AS b FROM {v}",
              "SELECT p.k, ST_Distance(p.g, q.g) AS a, 0.0D AS b "
              "FROM {v} p JOIN {v} q ON q.k = p.k + 1"):
        kernel = sorted((r[0], _bits(r[1]), _bits(r[2])) for r in
                        _vanilla(spark, q.format(v=con)).collect())
        for v in (con, scan):
            got = sorted((r[0], _bits(r[1]), _bits(r[2])) for r in
                         spark.sql(q.format(v=v)).collect())
            assert got == kernel, (v, q)


@pytest.mark.parametrize("shape", ["expr_arg", "cast_shadow", "float",
                                   "decimal", "union"])
def test_certify_fallback_shapes_take_the_scan(spark, shape):
    """A view the plan cannot prove takes the full scan: an expression
    argument, a shadow that is a cast of the constructor's argument, a
    FLOAT or DECIMAL shadow, a Union.  Each still stamps (the scan
    compares the WKB with the shadows' DOUBLE images)."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_view
    base = spark.createDataFrame(
        [(i, float(i) + 0.5, float(-i) - 0.25) for i in range(6)],
        "k long, x double, y double")
    view = f"np_fallback_{shape}"
    if shape == "expr_arg":
        df = base.selectExpr("k", "x", "y", "ST_Point(x + 0.0D, y) AS g")
    elif shape == "cast_shadow":
        df = base.selectExpr("k", "CAST(x AS FLOAT) AS f", "y") \
            .selectExpr("k", "CAST(f AS DOUBLE) AS x", "y",
                        "ST_Point(f, y) AS g")
    elif shape == "union":
        df = base.selectExpr("k", "x", "y", "ST_Point(x, y) AS g")
        df = df.union(df)
    else:
        t = "FLOAT" if shape == "float" else "DECIMAL(10, 2)"
        df = base.selectExpr("k", f"CAST(x AS {t}) AS x", "y") \
            .selectExpr("k", "x", "y", "ST_Point(x, y) AS g")
    df.createOrReplaceTempView(view)
    certify_point_view(spark, view, {"g": ("x", "y")})
    assert _proof(spark, view, "planar") == "scan"


def test_certify_swapped_shadows_refused(spark):
    """{"g": ("y", "x")} over ST_Point(x, y) does not match the
    constructor's argument order, so the scan runs — and refuses."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_view
    spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "x double, y double") \
        .selectExpr("x", "y", "ST_Point(x, y) AS g") \
        .createOrReplaceTempView("np_swapped")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_view(spark, "np_swapped", {"g": ("y", "x")})
    assert _proof(spark, "np_swapped", "planar") is None


def test_sql_view_coercion_takes_the_proof(spark, tmp_path):
    """A SQL view re-casts every output to its stored type (a DOUBLE
    shadow is cast to DOUBLE); that identity cast is followed, so the
    view is proven from the plan.  A cast that changes the value is
    not: an attribute negated under its own name takes the scan."""
    from sedona_db_spark.plans.sql_rewrite import certify_point_view
    d = str(tmp_path / "xy")
    spark.createDataFrame([(i, float(i), 2.0) for i in range(5)],
                          "k long, x double, y double").write.parquet(d)
    spark.sql(f"""CREATE OR REPLACE TEMP VIEW np_sqlview AS
                  SELECT k, x, y, ST_Point(x, y) AS g FROM parquet.`{d}`""")
    certify_point_view(spark, "np_sqlview", {"g": ("x", "y")})
    assert _proof(spark, "np_sqlview", "planar") == "constructor"
    spark.sql("""CREATE OR REPLACE TEMP VIEW np_sqlview_neg AS
                 SELECT k, -x AS x, y, g FROM np_sqlview""")
    with pytest.raises(ValueError, match="refusing to stamp"):
        certify_point_view(spark, "np_sqlview_neg", {"g": ("x", "y")})


def _execution_plan(spark, job_id: int):
    """The physical plan of the SQL execution that ran ``job_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.jobs().contains(job_id):
            return e.physicalPlanDescription()
    return None


def test_constructor_proof_starts_one_native_job(spark):
    """Certifying an ST_Point view and an ST_GeogPoint view starts one
    job each, and that job's plan runs no Python."""
    from sedona_db_spark.plans.inspect import jobs_started
    from sedona_db_spark.plans.sql_rewrite import (
        certify_geog_point_view, certify_point_view)
    base = spark.createDataFrame(
        [(i, float(i), float(i) / 2.0) for i in range(20)],
        "k long, x double, y double")
    for ctor, certify in (("ST_Point", certify_point_view),
                          ("ST_GeogPoint", certify_geog_point_view)):
        view = f"np_onejob_{ctor}"
        base.selectExpr("k", "x", "y", f"{ctor}(x, y) AS g") \
            .createOrReplaceTempView(view)
        with jobs_started(spark) as jobs:
            certify(spark, view, {"g": ("x", "y")})
        assert len(jobs) == 1, jobs
        plan = _execution_plan(spark, jobs[0][0])
        assert plan is not None and "ArrowEvalPython" not in plan, plan
