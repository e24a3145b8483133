"""Distributed spatial joins, Spark-first.

Reimplements the semantics of the reference's spatial join subsystem
(/root/reference/rust/sedona-spatial-join/src/exec.rs:78-92 — build/probe
R-tree with KDB out-of-core partitioning) using Spark's own shuffle as the
out-of-core story (SURVEY.md §4.3 "Spark disposition"):

  stage 1  bbox columns (vectorized kernel; pure numpy for point batches)
  stage 2  uniform grid partitioning: each side exploded to the grid cells
           its bbox overlaps — native `sequence`/`transform`/`explode`
           expressions, zero Python
  stage 3  equi-join on cell id (Spark shuffle hash join; AQE handles skew)
           + native bbox-overlap prefilter
  stage 4  exact predicate refinement via Arrow-batched kernel
  stage 5  duplicate elimination by the reference-point rule (a pair is
           emitted only in the cell that contains the top-left corner of
           the bbox intersection) — native arithmetic, no distinct shuffle

At 100 TB: stages 2-3 are a single shuffle keyed by cell; grid resolution
scales with data extent; no driver-side collection anywhere.  The
broadcast path (small side < broadcast threshold) skips the shuffle
entirely, mirroring the reference's single-partition in-memory mode
(/root/reference/rust/sedona-spatial-join/src/prepare.rs:62-117).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sedona_db_spark.functions import get_udf
from sedona_db_spark.functions.kernels import _decode, _fast_points
from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.operators.result_cache import stats_memo

_PREDICATES = {
    "intersects": alg.intersects,
    "contains": alg.contains,
    "within": alg.within,
    "covers": alg.covers,
    "covered_by": alg.covered_by,
    "coveredby": alg.covered_by,
    "touches": alg.touches,
    "crosses": alg.crosses,
    "overlaps": alg.overlaps,
    "equals": alg.equals,
}

_BBOX_T = T.StructType([
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
])


def _wkb_is_geography(v) -> bool:
    """True when a WKB value carries the engine's geography edge tag
    (core._SD_GEOG = 0x10000000 in the type word; byte 4 for LE, byte 1
    for BE encodings)."""
    return (v is not None and len(v) >= 5
            and ((v[0] == 1 and v[4] & 0x10) or (v[0] == 0 and v[1] & 0x10)))


def content_row_id(df: DataFrame, name: str,
                   exclude: tuple = ()) -> tuple[DataFrame, list[str]]:
    """Tag every row with a content-derived 128-bit id (two seeded
    xxhash64 sweeps over every column): ``(df_tagged, [id_col_names])``.

    Why not monotonically_increasing_id: the lattice modes reference the
    tagged side in TWO plan branches (the inner core and the
    unmatched-row recovery), and Spark re-evaluates each branch.  Above
    a shuffle, reduce-side row order is not deterministic between
    evaluations, so positional ids can permute and outer/semi/anti
    results silently drop or duplicate rows.  A content hash is a pure
    function of the row — identical across evaluations by construction,
    no materialization, no extra shuffle.

    Identical duplicate rows share an id, which every lattice mode
    tolerates: copies satisfy the spatial predicate identically, so the
    match-id set keeps or drops them together and semi/anti/outer joins
    on the id preserve per-copy multiplicity.  Collisions between
    DIFFERENT rows are 128-bit rare (~1e-17 at 1e11 rows).

    Spark's xxhash64 SKIPS null children (the running hash is
    unchanged), so rows with complementary null patterns — (G, NULL)
    vs (NULL, G) — would fold the same non-null sequence and collide
    SYSTEMATICALLY, not 128-bit-rarely.  Each column is therefore
    interleaved with its never-null is-null flag: the flag pins the
    null positions into the fold, restoring per-row sensitivity.

    Map-typed columns (at any nesting depth) are unhashable in Spark;
    that shape pins ONE evaluation instead (lazy localCheckpoint +
    positional id) — costs a materialization, never a silent wrong
    answer.

    ``exclude``: columns to LEAVE OUT of the hash (they stay in the
    output frame).  Only sound when every excluded column is
    functionally determined by the remaining ones — e.g. a
    shadow-certified point geometry, bit-equal to its sibling (x, y)
    doubles by certificate — so excluding it cannot merge two rows the
    full hash would distinguish.  The caller owns that proof.  The win:
    a pandas-UDF-built column (ST_Point constructor) out of the hash
    lets Catalyst prune the Python stage from every lattice branch that
    only needs the ids.
    """
    hash_cols = [c for c in df.columns if c not in set(exclude)]
    if not hash_cols:
        hash_cols = list(df.columns)
    if any(_type_has_map(df.schema[c].dataType) for c in hash_cols):
        return (df.withColumn(name, F.monotonically_increasing_id())
                  .localCheckpoint(eager=False), [name])
    e1, e2 = _content_id_exprs(hash_cols, df.schema)
    n1, n2 = f"{name}1", f"{name}2"
    return (df.withColumn(n1, e1).withColumn(n2, e2), [n1, n2])


def _type_has_map(dt) -> bool:
    """True when a Spark type contains MapType at ANY nesting depth —
    xxhash64 rejects maps recursively, not just at the top level."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _type_has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_type_has_map(f.dataType) for f in dt.fields)
    return False


_HOW_ALIASES = {
    "left_outer": "left", "right_outer": "right", "outer": "full",
    "full_outer": "full", "semi": "left_semi", "anti": "left_anti",
    "leftsemi": "left_semi", "leftanti": "left_anti",
}
_HOW_SUPPORTED = ("inner", "left", "right", "full",
                  "left_semi", "left_anti", "right_semi", "right_anti")


def normalize_how(how: str) -> str:
    """Canonical join-type name; raises loud on unknown modes (silent
    fall-through to inner-join semantics is the failure to avoid)."""
    how_n = _HOW_ALIASES.get(how, how)
    if how_n not in _HOW_SUPPORTED:
        raise NotImplementedError(f"unsupported spatial join how={how!r}")
    return how_n


# modes that keep rows of the left / right side, i.e. need its row ids
_LEFT_ID_MODES = ("left", "full", "left_semi", "left_anti")
_RIGHT_ID_MODES = ("right", "full", "right_semi", "right_anti")


def tag_row_ids(how: str, left: DataFrame, right: DataFrame, prefix: str,
                l_exclude: tuple = (), r_exclude: tuple = ()) -> tuple:
    """``(left_t, lids, right_t, rids)``: content_row_id tags (named
    ``<prefix>_lid``/``<prefix>_rid``) on the sides whose rows the
    normalized mode ``how`` keeps; a side it does not keep is returned
    untouched with no ids.  ``l_exclude``/``r_exclude``: columns left
    out of the content hash — only for columns the caller PROVED
    functionally determined by the rest (see content_row_id)."""
    lids: list[str] = []
    rids: list[str] = []
    if how in _LEFT_ID_MODES:
        left, lids = content_row_id(left, f"{prefix}_lid", exclude=l_exclude)
    if how in _RIGHT_ID_MODES:
        right, rids = content_row_id(right, f"{prefix}_rid",
                                     exclude=r_exclude)
    return left, lids, right, rids


def join_mode_from_inner(how: str, inner: DataFrame,
                         left: DataFrame | None, lids: list[str],
                         right: DataFrame | None, rids: list[str],
                         inner_rids: list[str] | None = None) -> DataFrame:
    """Any join-type-lattice mode from an inner join plus row ids — the
    shape the reference's SpatialJoinExec uses: its probe-side visited
    bitmap marks matched rows and outer/semi/anti emit from the bitmap
    after the probe pass (reference rust/sedona-spatial-join/src/
    exec.rs:235-240, src/utils/join_utils.rs:60-80).  Here the "bitmap"
    is the distinct id set recovered from the inner result — a
    shuffle-sized structure, never driver state, so every mode inherits
    the inner path's 100 TB story unchanged.

    ``left``/``right``: the frames semi/anti/unmatched rows come from,
    tagged with id columns ``lids``/``rids`` (content_row_id, so the
    plan branches that re-evaluate a side agree even above a shuffle);
    a side the mode does not keep may be None.  ``inner`` is the inner
    join of the tagged sides and carries the same ids — the right ones
    under ``inner_rids`` when a collision rename moved them (they are
    aliased back onto ``rids`` for the id joins).  The id columns are
    dropped from the output; outer modes pad the unmatched rows with
    NULLs onto ``inner``'s columns."""
    how = normalize_how(how)
    r_in = inner_rids if inner_rids is not None else rids

    def matched_l() -> DataFrame:
        # distinct-on-id = reference "emit probe row once however many
        # build rows matched" (join_utils.rs:60-80)
        return inner.select(*lids).distinct()

    def matched_r() -> DataFrame:
        if inner_rids is None:
            return inner.select(*rids).distinct()
        return inner.select(*[F.col(o).alias(r)
                              for o, r in zip(inner_rids, rids)]).distinct()

    if how in ("left_semi", "left_anti"):
        return left.join(matched_l(), lids, how).drop(*lids)
    if how in ("right_semi", "right_anti"):
        return right.join(matched_r(), rids, "left_" + how[len("right_"):]) \
            .drop(*rids)

    def pad(df: DataFrame) -> DataFrame:
        for c in inner.columns:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None))
        return df.select(inner.columns)

    parts = [inner]
    if how in ("left", "full"):
        parts.append(pad(left.join(matched_l(), lids, "left_anti")))
    if how in ("right", "full"):
        parts.append(pad(right.join(matched_r(), rids, "left_anti")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop(*(lids + r_in))


def _content_id_exprs(col_names, schema=None) -> tuple:
    """The two seeded content-hash expressions over the given columns,
    each column interleaved with its is-null flag (see content_row_id's
    null-pattern note).

    xxhash64 skips null children RECURSIVELY — a null struct field or
    array element also leaves the running hash unchanged — so flags on
    the top-level columns alone still let struct(7, NULL) collide with
    struct(NULL, 7) (round-9 review sweep).  Nested (struct/array)
    columns are therefore hashed through a null-explicit JSON rendering
    (ignoreNullFields=false keeps every null position in the text),
    which is a pure function of the value: stable across plan
    re-evaluations, exactly what the ids need."""
    cols = []
    for c in col_names:
        dt = schema[c].dataType if schema is not None else None
        if isinstance(dt, (T.StructType, T.ArrayType)):
            cols.append(F.to_json(F.struct(F.col(c).alias("c")),
                                  {"ignoreNullFields": "false"}))
        else:
            cols.append(F.col(c))
        cols.append(F.col(c).isNull().cast("int"))
    return F.xxhash64(F.lit(1), *cols), F.xxhash64(F.lit(2), *cols)


def _geog_point_xy_kernel(s: pd.Series) -> pd.DataFrame:
    """lon/lat of uniformly tagged geography POINTs; raises loud on any
    planar or non-point row (the SQL front door's geography dwithin
    route is only certified for that shape)."""
    from sedona_db_spark.geom import core
    lons, lats = [], []
    for g in _decode(s):
        if g is None:
            lons.append(None)
            lats.append(None)
            continue
        if not g.spherical or g.gt != core.POINT or g.data is None:
            raise ValueError(
                "geography dwithin join route requires uniformly tagged "
                "POINT geography values; found a planar or non-point row "
                "past the plan-time probe")
        lons.append(float(g.data[0]))
        lats.append(float(g.data[1]))
    return pd.DataFrame({"lon": lons, "lat": lats})


_GEOG_XY_T = T.StructType([T.StructField("lon", T.DoubleType()),
                           T.StructField("lat", T.DoubleType())])
_geog_xy_udf = None


def geog_point_xy_col(geom: Column) -> Column:
    global _geog_xy_udf
    if _geog_xy_udf is None:
        _geog_xy_udf = F.pandas_udf(_geog_point_xy_kernel,
                                    returnType=_GEOG_XY_T)
    return _geog_xy_udf(geom)


def _bbox_kernel(s: pd.Series) -> pd.DataFrame:
    pts = _fast_points(s)
    if pts is not None:
        return pd.DataFrame({"xmin": pts[:, 0], "ymin": pts[:, 1],
                             "xmax": pts[:, 0], "ymax": pts[:, 1]})
    rows = []
    for g in _decode(s):
        b = None if g is None else alg.bounds(g)
        rows.append((None, None, None, None) if b is None else b)
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def _bbox_kernel_planar_only(s: pd.Series) -> pd.DataFrame:
    if any(_wkb_is_geography(v) for v in s):
        # planar candidate pruning (degree-space bboxes, planar refine)
        # silently returns WRONG pairs for spherical-edge values; fail
        # loud instead.  The SQL front door probes for the tag and routes
        # geography joins to the geography operator / vanilla dispatch.
        raise ValueError(
            "geography (spherical-edge) values reached the planar spatial "
            "join; use operators.geography_join.geography_dwithin_join or "
            "the per-row ST_* kernels (spark.sql), which dispatch "
            "spherically")
    return _bbox_kernel(s)


# bbox + shape class for the join's OWN pruning columns (the public
# bbox_col struct is also a GeoParquet covering column, so the extra
# field lives in a private variant): cls 1 = 2-D point, 2 = axis-aligned
# rectangle (single 5-point ring tracing its own bbox, nonzero area),
# 0 = anything else/null.  The class feeds the rectangle fast-path
# refine — computed in the SAME decode pass, zero extra Python cost.
_BBOXC_T = T.StructType(_BBOX_T.fields + [T.StructField("cls", T.ByteType())])


def _shape_cls(g) -> int:
    from sedona_db_spark.geom import core
    if g is None or g.has_z or g.has_m:
        return 0
    if g.gt == core.POINT:
        return 1 if g.data is not None else 0
    if g.gt == core.POLYGON and len(g.data) == 1:
        ring = g.data[0]
        if len(ring) != 5:
            return 0
        b = alg.bounds(g)
        if b is None or not (b[0] < b[2] and b[1] < b[3]):
            return 0                    # degenerate: no interior
        if not (ring[0][0] == ring[4][0] and ring[0][1] == ring[4][1]):
            return 0
        corners = {(b[0], b[1]), (b[0], b[3]), (b[2], b[1]), (b[2], b[3])}
        if {(float(p[0]), float(p[1])) for p in ring[:4]} != corners:
            return 0
        # consecutive corners share exactly one axis (excludes bowties)
        for i in range(4):
            if ((ring[i][0] == ring[i + 1][0])
                    == (ring[i][1] == ring[i + 1][1])):
                return 0
        return 2
    return 0


def _bbox_cls_kernel_planar(s: pd.Series) -> pd.DataFrame:
    if any(_wkb_is_geography(v) for v in s):
        raise ValueError(
            "geography (spherical-edge) values reached the planar spatial "
            "join; use operators.geography_join.geography_dwithin_join or "
            "the per-row ST_* kernels (spark.sql), which dispatch "
            "spherically")
    return _bbox_cls_kernel(s)


def _bbox_cls_kernel(s: pd.Series) -> pd.DataFrame:
    pts = _fast_points(s)
    if pts is not None:
        import numpy as np
        return pd.DataFrame({"xmin": pts[:, 0], "ymin": pts[:, 1],
                             "xmax": pts[:, 0], "ymax": pts[:, 1],
                             "cls": np.ones(len(pts), dtype=np.int8)})
    rows = []
    for g in _decode(s):
        b = None if g is None else alg.bounds(g)
        if b is None:
            rows.append((None, None, None, None, 0))
        else:
            rows.append((b[0], b[1], b[2], b[3], _shape_cls(g)))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax",
                                       "cls"])


def _bbox_cls_shadow_expr(xy: tuple) -> Column:
    """The classed-bbox struct computed NATIVELY from shadow coordinate
    columns (pure whole-stage codegen, zero Python) for a
    shadow-CERTIFIED point column (certify_point_view /
    certify_point_table: every non-null geometry is a NaN-free 2-D LE
    point WKB whose coordinates bit-equal the shadow doubles, and NULL
    geometry rows have NULL shadows).  Under that certificate this
    reproduces _bbox_cls_kernel_planar exactly: a point's bbox is the
    point (cls 1); a NULL geometry row is (NULL bbox, cls 0); the
    geography-tag raise can never fire (the certified header is plain
    LE point).  Callers must only pass certificate-backed columns —
    the certificate, not this expression, owns that proof."""
    x = f"CAST(`{xy[0]}` AS DOUBLE)"
    y = f"CAST(`{xy[1]}` AS DOUBLE)"
    return F.expr(
        f"CASE WHEN {x} IS NULL OR {y} IS NULL THEN "
        "named_struct('xmin', CAST(NULL AS DOUBLE), "
        "'ymin', CAST(NULL AS DOUBLE), 'xmax', CAST(NULL AS DOUBLE), "
        "'ymax', CAST(NULL AS DOUBLE), 'cls', CAST(0 AS TINYINT)) "
        f"ELSE named_struct('xmin', {x}, 'ymin', {y}, "
        f"'xmax', {x}, 'ymax', {y}, 'cls', CAST(1 AS TINYINT)) END")


_bbox_cls_udfs: dict = {}


def _bbox_cls_col(geom: Column, planar_only: bool = True) -> Column:
    """Classed bbox struct; ``planar_only`` as in :func:`bbox_col` (the
    lon/lat consumers pass False)."""
    if planar_only not in _bbox_cls_udfs:
        # asNondeterministic: the downstream cell explode carries an
        # inferred isnotnull(box.*) filter that the optimizer pushes
        # BELOW this projection, re-evaluating the kernel once for the
        # filter and once for the output column (two ArrowEvalPython
        # nodes per join side).  The kernel is pure; the flag only
        # forbids the optimizer from duplicating it past the filter.
        # COMPOSITION CONSTRAINT (r11 advisor): the flag is
        # semantics-bearing — this column must NOT be referenced
        # directly inside a join condition or aggregate expression
        # (AnalysisException for nondeterministic expressions), and
        # user filters over it lose legitimate pushdown.  Project it
        # into a named column first, as every current call site does.
        _bbox_cls_udfs[planar_only] = F.pandas_udf(
            _bbox_cls_kernel_planar if planar_only else _bbox_cls_kernel,
            returnType=_BBOXC_T).asNondeterministic()
    return _bbox_cls_udfs[planar_only](geom)


_bbox_udf = None
_bbox_udf_planar = None


def bbox_col(geom: Column, planar_only: bool = False) -> Column:
    """Vectorized bbox struct for a WKB geometry column.

    ``planar_only=True`` (the spatial-join pruning path) fails loud on
    geography-tagged values — degree-space boxes + planar refine would
    silently return wrong pairs for spherical edges.  The default accepts
    geography: lon/lat vertex bounds are the documented convention for
    envelope aggregates, GeoParquet covering columns, and stats.
    """
    global _bbox_udf, _bbox_udf_planar
    if planar_only:
        if _bbox_udf_planar is None:
            _bbox_udf_planar = F.pandas_udf(_bbox_kernel_planar_only,
                                            returnType=_BBOX_T)
        return _bbox_udf_planar(geom)
    if _bbox_udf is None:
        _bbox_udf = F.pandas_udf(_bbox_kernel, returnType=_BBOX_T)
    return _bbox_udf(geom)


def _refine_udf(predicate: str, distance_expr: bool):
    if distance_expr:
        def refine(s1: pd.Series, s2: pd.Series, d: pd.Series) -> pd.Series:
            import numpy as np
            from sedona_db_spark.geom.core import wkb_array_to_points
            v1, v2 = list(s1), list(s2)
            dv = d.to_numpy(dtype=float)
            p1 = None if any(v is None for v in v1) else wkb_array_to_points(v1)
            p2 = None if any(v is None for v in v2) else wkb_array_to_points(v2)
            if p1 is not None and p2 is not None:
                dx, dy = p1[:, 0] - p2[:, 0], p1[:, 1] - p2[:, 1]
                # boundary convention unified across every distance
                # branch: r <= d + 1e-12, matching algorithms.dwithin's
                # _EPS (r10 advisor — the no-eps squared compare gave
                # pairs in the 1e-12 band a different verdict per path)
                de = dv + 1e-12
                return pd.Series(dx * dx + dy * dy <= de * de)
            g1, g2 = _decode(s1), _decode(s2)
            return pd.Series([
                False if (a is None or b is None) else bool(alg.dwithin(a, b, dd))
                for a, b, dd in zip(g1, g2, dv)], dtype=object)
        return F.pandas_udf(refine, returnType=T.BooleanType())
    from sedona_db_spark.functions.kernels import _PT_POLY_PRED, _pred_fast
    if predicate in _PT_POLY_PRED:
        fast = _pred_fast(predicate)

        def refine_fast(s1: pd.Series, s2: pd.Series) -> pd.Series:
            r = fast(s1, s2)
            if r.dtype == object:
                # explicit bool build instead of fillna (pandas 2.x
                # deprecates the silent object->bool downcast there)
                r = pd.Series([bool(v) if (v is not None and v == v)
                               else False for v in r],
                              index=r.index, dtype=bool)
            return r
        return F.pandas_udf(refine_fast, returnType=T.BooleanType())
    fn = _PREDICATES[predicate]

    def refine2(s1: pd.Series, s2: pd.Series) -> pd.Series:
        g1, g2 = _decode(s1), _decode(s2)
        return pd.Series([
            False if (a is None or b is None) else bool(fn(a, b))
            for a, b in zip(g1, g2)], dtype=object)
    return F.pandas_udf(refine2, returnType=T.BooleanType())


def _prefixed(df: DataFrame, prefix: str) -> DataFrame:
    return df.select([F.col(c).alias(f"{prefix}{c}") for c in df.columns])


# Rectangle fast-path refine (tiny-broadcast regime): when EVERY build
# geometry is an axis-aligned rectangle — verified exactly by one agg
# over the (≤2000-row) build side, never sampled — the exact predicate
# reduces to pure bbox arithmetic and the candidate filter stays in
# whole-stage codegen with ZERO Python on the probe path (the reference's
# tg backend specializes rectangles the same way; its NATURAL workload is
# points-vs-tiles / admin-box joins):
#   covered_by(g, rect)    == bbox(g) inside rect (inclusive) — exact for
#                             EVERY geometry type (rects are convex and
#                             axis-aligned, so g ⊆ rect ⟺ bbox(g) ⊆ rect)
#   within(point, rect)    == strictly-inside comparisons
#   intersects(point, rect)== inclusive comparisons
# within/intersects are exact only for POINT probe rows, so the plan is
# chosen after a 64-row probe of the probe side and the candidate set is
# then SPLIT into two native plan branches (r9 verdict #1): rows whose
# raw WKB header is a simple 2D point keep the pure-codegen bbox
# formula; everything else routes to a SEPARATE branch refined by the
# exact kernel, and the two are unioned.  The split predicate is pure
# codegen on the binary column (substring of the 5-byte WKB header), so
# Catalyst pushes it below each branch's join — on an all-point corpus
# the Python branch processes ZERO rows (not all-null rows: the r9
# null-gated form still shipped every candidate through ArrowEvalPython
# and measured 2.7x slower than the general refine at sf10) — while a
# mixed corpus gets exact answers for the stragglers instead of a
# job-killing raise.  Never a silently wrong pair either way.
_RECT_FAST_PREDS = {"within", "covered_by", "coveredby", "intersects"}

# WKB headers of a simple 2D point: endianness byte + uint32 type code 1.
# Z/M/ZM (ISO 1001/2001/3001) and EWKB flag bits (0x80/0x40/0x20 high
# byte) all change these 5 bytes, so a match GUARANTEES a 2D point with
# no SRID prefix; a miss merely routes the row to the exact-refine
# branch (correct for every geometry, just not codegen).
_WKB_PT2D_LE = bytes((1, 1, 0, 0, 0))
_WKB_PT2D_BE = bytes((0, 0, 0, 0, 1))


def _wkb_point2d(g: Column) -> Column:
    """Pure-codegen (no Python) test that a WKB value is a simple 2D
    point.  False/null values route to the exact branch — never wrong,
    only slower."""
    head = F.substring(g, 1, 5)
    return (head == F.lit(_WKB_PT2D_LE)) | (head == F.lit(_WKB_PT2D_BE))


# What the analyzed plan can prove about a geometry column, without
# reading a row: ``(edges, all_points)`` — edges "planar" (untagged
# WKB), "geog" (geography-tagged WKB) or None (nothing proven), and
# whether every non-null value is a simple 2-D point.
PLANAR_POINTS = ("planar", True)
UNPROVEN = (None, False)

# Constructors whose output type is fixed by the kernel: SQL name ->
# (registry arg spec the proof assumes, facts of every value).  NULL and
# NaN inputs give NULL geometry, which proves nothing either way.
# ST_MakeEnvelope proves untagged only: degenerate corners (x0 = x1)
# still return a polygon that is not a rectangle.
_CONSTRUCTOR_FACTS = {
    "ST_Point": ("dd", PLANAR_POINTS),
    "ST_MakeEnvelope": ("dddd", ("planar", False)),
    "ST_GeogPoint": ("dd", ("geog", True)),
}

_CERT_FACTS = (("planar", PLANAR_POINTS), ("geog", ("geog", True)))


def plan_geom_facts(df: DataFrame, geom_col: str) -> tuple:
    """``(edges, all_points)`` that df's analyzed plan proves about
    ``geom_col`` (see PLANAR_POINTS / UNPROVEN), from the alias chain
    that produces the column:

    - a hop that is a view column holding a live view certificate
      (certify_point_view: planar points; certify_geog_point_view:
      geography points), or
    - the constructor the chain ends at (_CONSTRUCTOR_FACTS), gated on
      its registry signature.

    Any parse doubt answers UNPROVEN, and callers then read data or take
    the general path.  Memoized on the plan key plus the certificate
    registry's state: the verdict derives from the plan and the
    registry, never from rows."""
    from sedona_db_spark.plans.sql_rewrite import _view_certs
    spark = df.sparkSession
    stamp = tuple(sorted((k, fp) for k, (_s, fp) in
                         _view_certs(spark).items()))
    memo, remember = stats_memo("geomfacts", df, geom_col, stamp)
    if memo is not None:
        return memo
    res = _plan_geom_facts_impl(spark, df, geom_col)
    remember(res)
    return res


def _constructor_facts(name: str):
    """The facts of constructor ``name`` when the SQL name resolves to
    the kernel signature they assume, else None.  Registering another
    overload under the name (e.g. a 3-arg Z point) would mis-certify
    plans that print ``ST_Point(...)`` — so assert the registry
    signature at proof time instead of assuming it."""
    spec_facts = _CONSTRUCTOR_FACTS.get(name)
    if spec_facts is None:
        return None
    try:
        from sedona_db_spark.functions.kernels import BIN, KERNELS
        ent = KERNELS.get(name)
        ok = ent is not None and ent[2] == spec_facts[0] and ent[1] is BIN
    except Exception:
        return None
    return spec_facts[1] if ok else None


def _plan_geom_facts_impl(spark, df: DataFrame, geom_col: str) -> tuple:
    from sedona_db_spark.plans.sql_rewrite import _view_shadow
    chains = _PlanChains.read(df, geom_col)
    eid = chains.eids.get(geom_col) if chains is not None else None
    if eid is None:
        return UNPROVEN

    def cert_facts(name, cur):
        for view in chains.views_listing(name, cur):
            for kind, facts in _CERT_FACTS:
                if _view_shadow(spark, view, name, kind):
                    return facts
        return None
    return chains.geom_facts(geom_col, eid, cert_facts)[0]


def constructor_shadow_edges(df: DataFrame, geom_col: str, x_col: str,
                             y_col: str):
    """The edges ("planar" / "geog") of the point constructor
    (``ST_Point`` / ``ST_GeogPoint``, registry-gated) that df's analyzed
    plan builds ``geom_col`` with, when its two arguments are exactly
    the attributes df outputs as ``x_col`` and ``y_col``, in that order;
    else None.  An argument and an output column match when both reach
    the same attribute through bare re-aliases and DOUBLE-to-DOUBLE
    casts (a SQL view's type coercion), so every row of ``geom_col`` is
    that kernel applied to the row's own ``(x_col, y_col)``.  View
    certificates are not consulted: this is the proof a certificate is
    stamped from.  An expression or cast argument, swapped columns, a
    Union or CTE, and any parse doubt answer None."""
    cols = (geom_col, x_col, y_col)
    chains = _PlanChains.read(df, *cols)
    if chains is None:
        return None
    ids = [chains.eids.get(c) for c in cols]
    if None in ids:
        return None
    (edges, points), args = chains.geom_facts(geom_col, ids[0])
    if not points or args is None:
        return None
    want = (chains.source(x_col, ids[1]), chains.source(y_col, ids[2]))
    return edges if chains.args(args) == want and None not in want \
        else None


class _PlanChains:
    """Alias chains of one analyzed plan, read from its string.

    Plan-string format assumption (pinned): Spark's analyzed-plan
    toString prints a pandas-UDF projection as "ST_Point(<args>)#NNN
    AS geom#EID" with the full alias chain visible, and a view as
    "View (`name`, [col#EID, ...])".  Truncation confs
    (spark.sql.debug.maxToStringFields / maxPlanStringLength) can only
    HIDE that text, which fails closed."""

    _ATTR = re.compile(r"\s*([A-Za-z_]\w*)#(\d+)\s*")

    def __init__(self, plan, s: str, eids: dict):
        self._plan = plan
        self.s = s
        self.eids = eids          # name -> exprId (None: ambiguous)
        self.views = [(m.group(1).replace("``", "`"), m.group(2))
                      for m in re.finditer(
                          r"View \(`((?:[^`]|``)+)`, \[([^\]]*)\]", s)]
        self._types = None

    @classmethod
    def read(cls, df: DataFrame, *cols: str):
        """The chains of df's analyzed plan, with the exprIds of its
        output columns ``cols``; None when the plan cannot be read, or
        when it has a Union or a CTE reference: those REUSE the first
        child's exprIds for their output, so an alias found below one
        could vouch for rows that come from another branch."""
        try:
            plan = df._jdf.queryExecution().analyzed()
            out = plan.output()
            eids: dict = {}
            for i in range(out.size()):
                a = out.apply(i)
                n = a.name()
                if n in cols:
                    eids[n] = None if n in eids else a.exprId().id()
            s = plan.toString()
        except Exception:
            return None
        if re.search(r"\bUnion\b|\bCTERelationRef\b", s):
            return None
        return cls(plan, s, eids)

    def views_listing(self, name: str, cur: int) -> list:
        """Views whose output lists attribute ``name#cur``."""
        attr = re.compile(r"(?<![\w#])%s#%d\b" % (re.escape(name), cur))
        return [v for v, cols in self.views if attr.search(cols)]

    def _open(self, i: int):
        # index of the '(' balancing the ')' at i, or None
        s, depth = self.s, 0
        for j in range(i, -1, -1):
            if s[j] == ")":
                depth += 1
            elif s[j] == "(":
                depth -= 1
                if depth == 0:
                    return j
        return None

    def _ident(self, i: int):
        """The identifier ending at i, when a list entry starts with it
        (after "[" or ", "), else "": a unary operator in front ("-x",
        "NOT cast(...)") makes the entry an expression of it."""
        s, k = self.s, i
        while k >= 0 and (s[k].isalnum() or s[k] == "_"):
            k -= 1
        if k < 0 or not (s[k] == "[" or s[k - 1:k + 1] == ", "):
            return ""
        return s[k + 1:i + 1]

    def defs(self, name: str, cur: int):
        """The definitions of attribute ``name#cur`` the walks read:
        ``("cast", (name, id), type)`` for "cast(name#id as type) AS",
        ``("call", fn, args text)`` for "fn(<args>)#NNN AS" and
        ``("attr", (name, id))`` for a bare "name#id AS"."""
        s = self.s
        for m in re.finditer(r" AS %s#%d\b" % (re.escape(name), cur), s):
            i = m.start() - 1
            if i < 0:
                continue
            if s[i] == ")":                      # cast(inner as type)
                j = self._open(i)
                if j is None or self._ident(j - 1) != "cast":
                    continue
                inner = re.fullmatch(r"([A-Za-z_]\w*)#(\d+) as (\w+)",
                                     s[j + 1:i])
                if inner:
                    yield ("cast", (inner.group(1), int(inner.group(2))),
                           inner.group(3))
                continue
            if not s[i].isdigit():
                continue
            j = i                                # expr#NNN
            while j >= 0 and s[j].isdigit():
                j -= 1
            if j < 0 or s[j] != "#":
                continue
            e = j - 1
            if e >= 0 and s[e] == ")":           # fn(<args>)#NNN
                k = self._open(e)
                if k is not None:
                    yield ("call", self._ident(k - 1), s[k + 1:e])
                continue
            attr = self._ident(e)                # bare attr#A AS name#B
            if attr:
                yield ("attr", (attr, int(s[j + 1:i + 1])))

    def geom_facts(self, name: str, cur: int, cert_facts=None) -> tuple:
        """``(facts, args)`` for geometry attribute ``name#cur``: the
        facts a hop's live view certificate (``cert_facts(name, id)``)
        or the constructor the chain ends at proves, else UNPROVEN; and
        the constructor's argument text (see args), else None.  Follows
        bare re-aliases and casts to binary (a view's type coercion of a
        WKB column)."""
        seen = set()
        while (name, cur) not in seen and len(seen) < 8:
            seen.add((name, cur))
            facts = cert_facts(name, cur) if cert_facts else None
            if facts is not None:
                return facts, None
            nxt = None
            for d in self.defs(name, cur):
                if d[0] == "call":
                    facts = _constructor_facts(d[1])
                    if facts is not None:
                        return facts, d[2]
                elif d[0] == "attr" or d[2] == "binary":
                    nxt = d[1]
                    break
            if nxt is None:
                return UNPROVEN, None
            name, cur = nxt
        return UNPROVEN, None

    def args(self, text: str):
        """The sources (see source) of a call's arguments, when every
        one is a bare attribute, else None."""
        # a piece of an argument that is an expression holds a paren, so
        # all pieces matching a bare attribute means all arguments are
        out = []
        for part in text.split(","):
            m = self._ATTR.fullmatch(part)
            if m is None:
                return None
            out.append(self.source(m.group(1), int(m.group(2))))
        return None if None in out else tuple(out)

    def source(self, name: str, cur: int):
        """The attribute that ``name#cur`` passes through unchanged:
        follows bare re-aliases and casts whose input is already DOUBLE
        (a SQL view's type coercion); any other definition ends the
        chain at the attribute it defines.  None past 16 hops."""
        for _ in range(16):
            d = next(self.defs(name, cur), None)
            if d is None or d[0] == "call" or d[0] == "cast" and not (
                    d[2] == "double" and self._dtype(d[1][1]) == "double"):
                return name, cur
            name, cur = d[1]
        return None

    def _dtype(self, eid: int):
        """The data type name of attribute ``#eid`` (from the plan's
        JSON, read on first use), or None."""
        if self._types is None:
            import json
            self._types = {}

            def collect(o):
                if isinstance(o, dict):
                    if o.get("class", "").endswith(".AttributeReference"):
                        self._types[o["exprId"]["id"]] = o.get("dataType")
                    for v in o.values():
                        collect(v)
                elif isinstance(o, list):
                    for v in o:
                        collect(v)
            try:
                collect(json.loads(self._plan.toJSON()))
            except Exception:
                pass
        return self._types.get(eid)


def _rect_fast_refine(cand: DataFrame, left: DataFrame, left_geom: str,
                      rb: DataFrame, rgeom: str, predicate: str,
                      distance: float | None, enabled: bool,
                      point_gate=None, l_cert: bool = False):
    """``point_gate`` (optional Column): a probe-side point-class gate
    the caller can supply instead of the per-row WKB-header check — the
    layout join passes its STORED ``__bcls == 1``, a plain column whose
    negation pushes to the layout SCAN where parquet row-group min/max
    stats prune the straggler branch to metadata-only on all-point
    layouts (the header check re-reads the geometry bytes per row and
    prunes nothing)."""
    if not enabled or distance is not None \
            or predicate not in _RECT_FAST_PREDS:
        return None
    # Plan-time verdicts are MEMOIZED on the analyzed-plan hash (bench
    # reps / dashboards re-construct the same join; re-paying the probe
    # jobs per construction cost more than the refine they saved).  A
    # stale verdict can never produce a wrong pair: probe-side rows are
    # split per row by their raw WKB header (non-points take the exact
    # kernel), and the build side carries a per-row rect guard that
    # fails LOUD with the escape hatch named.
    certified = False
    if predicate in ("within", "intersects"):
        certified = l_cert or \
            plan_geom_facts(left, left_geom) == PLANAR_POINTS
    if predicate in ("within", "intersects") and not certified:
        l_ok, remember = stats_memo("rectfast_l", left, left_geom)
        if l_ok is None:
            # probe the probe side: 64 rows, driver-side decode
            try:
                vals = [r[0] for r in
                        left.select(left_geom).limit(64).collect()]
            except Exception:
                return None
            from sedona_db_spark.geom import core
            gs = _decode(pd.Series([v for v in vals if v is not None]))
            l_ok = all(g is not None and g.gt == core.POINT
                       and not g.has_z and not g.has_m
                       and g.data is not None for g in gs)
            remember(l_ok)
        if not l_ok:
            return None
    # keyed on the build geometry alone, optimized: the join modes add
    # row ids to the build frame and the SQL rewrite prunes its other
    # columns per join type, so the frame's own key differs per mode
    # while the verdict, a fact about the geometry values, does not
    allrect, remember = stats_memo("rectfast_r", rb.select(_bq(rgeom)),
                                   optimized=True)
    if allrect is None:
        # exact build-side verdict: one agg pass, bounded by the caller
        # (broadcast-tiny rows, or the partitioned path's 64 MB stats gate)
        row = rb.agg(
            F.count(F.lit(1)).alias("n"),
            F.min((F.col("__rbox.cls") == 2).cast("int")).alias("allrect")
        ).first()
        allrect = bool(row["n"]) and row["allrect"] == 1
        remember(allrect)
    if not allrect:
        return None
    # formulas as single SQL strings (round 12, the sim_label
    # treatment): the Column-built forms cost ~340 py4j round trips per
    # construction (F.col pairs + one RPC per comparison/conjunction);
    # one F.expr string is 1 round trip and plans to the identical
    # comparison tree
    msg = (f"rectangle fast-path spatial join ({predicate}) met a "
           "non-rectangle build geometry (data changed under a "
           "memoized plan?); rerun with spatial_join(..., "
           "rect_fast_path=False) for the general refine").replace("'", "''")

    def rect_guard_sql(formula_sql: str) -> str:
        return (f"CASE WHEN __rbox.cls = 2 THEN ({formula_sql}) "
                f"ELSE CAST(raise_error('{msg}') AS BOOLEAN) END")

    if predicate in ("covered_by", "coveredby"):
        return cand.filter(F.expr(rect_guard_sql(
            "__lbox.xmin >= __rbox.xmin AND __lbox.xmax <= __rbox.xmax AND "
            "__lbox.ymin >= __rbox.ymin AND __lbox.ymax <= __rbox.ymax")))
    if predicate == "within":
        formula_sql = (
            "__lbox.xmin > __rbox.xmin AND __lbox.xmax < __rbox.xmax AND "
            "__lbox.ymin > __rbox.ymin AND __lbox.ymax < __rbox.ymax")
    else:                                   # intersects(point, rect)
        formula_sql = (
            "__lbox.xmin >= __rbox.xmin AND __lbox.xmin <= __rbox.xmax AND "
            "__lbox.ymin >= __rbox.ymin AND __lbox.ymin <= __rbox.ymax")
    # Two-branch native split (r9 verdict #1).  A non-point probe row
    # past the 64-row probe gets the exact refine kernel (ADVICE r8:
    # mixed corpora are common), but in its OWN union branch gated by a
    # codegen WKB-header check that Catalyst pushes below that branch's
    # join: the point branch never leaves whole-stage codegen, and on
    # all-point corpora the Python branch is empty (zero rows reach
    # ArrowEvalPython — the r9 null-gated single-filter form shipped
    # every candidate through Python and ran 2.7x slower than the
    # general refine at sf10).  Correctness of the split: a header
    # match guarantees a 2D point, whose bbox IS the point, so the
    # formula is exact (an empty point encodes NaN coordinates; Spark
    # orders NaN above every double, so `NaN < xmax` is false and the
    # row drops — same verdict as the exact kernel).  A header miss
    # (any other type, Z/M, EWKB-SRID) always takes the exact kernel.
    if certified:
        # all-point by construction: no straggler branch, no per-row
        # split — the whole candidate filter is join-condition codegen
        return cand.filter(F.expr(rect_guard_sql(formula_sql)))
    # The point branch embeds the split in ONE CASE WHEN referencing
    # both sides, so Catalyst keeps it in the join condition instead of
    # splitting off the left-only conjunct and pushing it through the
    # probe projection (which re-extracts — i.e. RE-RUNS — the bbox
    # pandas UDF above the pushed filter: one full extra Python pass).
    is_pt = point_gate if point_gate is not None \
        else _wkb_point2d(F.col(left_geom))
    pts = cand.filter(
        F.when(is_pt, F.expr(rect_guard_sql(formula_sql)))
         .otherwise(F.lit(False)))
    exact = _refine_udf(predicate, False)(F.col(left_geom), F.col(rgeom))
    strag = cand.filter(~F.coalesce(is_pt, F.lit(False))) \
                .filter(F.coalesce(exact, F.lit(False)))
    return pts.unionByName(strag)


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    left_geom: str = "geom",
    right_geom: str = "geom",
    predicate: str = "intersects",
    distance: float | None = None,
    how: str = "inner",
    grid_cells: int | None = None,
    broadcast_threshold: int = 200_000,
    rect_fast_path: bool = True,
    left_xy: tuple | None = None,
    right_xy: tuple | None = None,
) -> DataFrame:
    """Spatial join: ``predicate(left_geom, right_geom)`` (or dwithin when
    ``distance`` is set).  Output columns: left columns then right columns
    (right-side name collisions prefixed ``right_``).

    ``left_xy`` / ``right_xy``: names of shadow coordinate columns
    ``(x_col, y_col)`` for a shadow-CERTIFIED point geometry column
    (certify_point_view / certify_point_table).  When given, that
    side's classed-bbox pruning column is computed natively from the
    stored doubles (pure codegen — no Python bbox pass over the side),
    and the side counts as point-certified for the codegen dwithin
    refine.  Only pass columns backed by a live certificate: the
    certificate's one verified scan, not this operator, owns the proof
    that the shadows bit-equal the geometry coordinates.

    Semantics match the reference's relation/distance joins
    (/root/reference/rust/sedona-query-planner/src/spatial_predicate.rs:44-214).
    """
    if predicate not in _PREDICATES and distance is None:
        raise ValueError(f"unknown spatial predicate {predicate!r}")
    how = normalize_how(how)
    if how != "inner":
        # Non-inner modes = inner core + row-id bookkeeping
        # (join_mode_from_inner).  A shadow-certified geometry is
        # bit-determined by its shadow doubles, so it can stay out of
        # the content hash — letting Catalyst prune its (Python)
        # constructor from the lattice branches that only read the ids
        left_t, lids, right_t, rids = tag_row_ids(
            how, left, right, "__sj",
            l_exclude=(left_geom,) if left_xy else (),
            r_exclude=(right_geom,) if right_xy else ())
        inner = spatial_join(left_t, right_t, left_geom, right_geom,
                             predicate, distance, "inner", grid_cells,
                             broadcast_threshold, rect_fast_path,
                             left_xy=left_xy, right_xy=right_xy)
        # the inner join prefixed right-side names that collide with the
        # left's; unmatched right rows take the same renames so the
        # outer union lines up by name

        def renamed(c: str) -> str:
            return f"right_{c}" if c in left_t.columns else c
        rids_out = [renamed(r) for r in rids]
        if how in ("right", "full"):
            right_t = right_t.select(
                [F.col(c).alias(renamed(c)) for c in right_t.columns])
            rids = rids_out
        return join_mode_from_inner(how, inner, left_t, lids, right_t, rids,
                                    inner_rids=rids_out)

    # disambiguate columns (one selectExpr round trip — a list of
    # aliased F.col()s costs 2 RPCs per column at construction)
    rcols = {c: (f"right_{c}" if c in left.columns else c) for c in right.columns}
    right_r = right.selectExpr(
        *[f"{_bq(c)} AS {_bq(a)}" if a != c else _bq(c)
          for c, a in rcols.items()])
    rgeom = rcols[right_geom]
    if right_xy is not None:
        right_xy = (rcols.get(right_xy[0], right_xy[0]),
                    rcols.get(right_xy[1], right_xy[1]))

    # width guard (round-6 verdict #1): a small-on-disk input otherwise
    # runs every downstream bbox/refine kernel on its 1-5 scan splits
    # with the rest of the cluster idle; no-op when already wide or tiny
    from sedona_db_spark.plans.width import widen_if_starved
    left = widen_if_starved(left)
    right_r = widen_if_starved(right_r)

    lb = left.withColumn("__lbox",
                         _bbox_cls_shadow_expr(left_xy) if left_xy
                         else _bbox_cls_col(F.col(left_geom)))
    rb = right_r.withColumn("__rbox",
                            _bbox_cls_shadow_expr(right_xy) if right_xy
                            else _bbox_cls_col(F.col(rgeom)))
    # +1e-12: candidate generation must over-approximate the refine's
    # unified ``r <= d + 1e-12`` boundary, or slack-band pairs would be
    # dropped before any refine branch sees them
    expand = float(distance) + 1e-12 if distance is not None else 0.0

    # Path choice probe: limit-capped count scans at most threshold+1 rows
    # (a plain count() would be a full pass over the build side at 100 TB),
    # memoized on the plan key, whose size fingerprint a file append or a
    # replaced view changes.
    n_small, remember = stats_memo("nsmall", right_r, broadcast_threshold)
    if n_small is None:
        try:
            n_small = right_r.limit(broadcast_threshold + 1).count()
            remember(n_small)
        except Exception:
            pass

    # Two broadcast regimes (reference single-partition in-memory mode,
    # prepare.rs:62-117): a tiny build side joins fastest as a JVM
    # broadcast-nested-loop on the bbox condition (candidates ~= output,
    # whole-stage codegen, no Python transit of the probe side); a larger
    # one needs the executor-side index so probe cost stays
    # O(rows x candidates) instead of O(rows x build).
    if n_small is not None and n_small <= min(2000, broadcast_threshold):
        _d = _dlit(expand)
        cond = F.expr(
            f"__lbox.xmin - {_d} <= __rbox.xmax AND "
            f"__rbox.xmin <= __lbox.xmax + {_d} AND "
            f"__lbox.ymin - {_d} <= __rbox.ymax AND "
            f"__rbox.ymin <= __lbox.ymax + {_d}")
        cand = lb.join(F.broadcast(rb), cond, "inner")
        fast = _rect_fast_refine(cand, left, left_geom, rb, rgeom,
                                 predicate, distance, rect_fast_path,
                                 l_cert=left_xy is not None)
        if fast is None and rect_fast_path:
            fast = _dwithin_fast_refine(cand, left, left_geom, rb, rgeom,
                                        distance,
                                        l_cert=left_xy is not None,
                                        r_cert=right_xy is not None)
        if fast is not None:
            return fast.drop("__lbox", "__rbox")
        joined = _apply_refine(cand, left_geom, rgeom, predicate, distance)
        return joined.drop("__lbox", "__rbox")

    if n_small is not None and n_small <= broadcast_threshold:
        return _broadcast_index_join(lb, rb, left_geom, rgeom,
                                     predicate, distance, expand)

    # ---- partitioned path -------------------------------------------
    if grid_cells is None:
        sp = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        grid_cells = max(sp * 4, 64)
    import math
    nx = max(int(math.sqrt(grid_cells)), 1)
    ny = nx
    # Equal-frequency cell edges from approx quantiles of left bbox
    # centers (Greenwald-Khanna sketch: one distributed pass, bounded
    # driver state) — a 1-level analogue of the reference's sampled KDB
    # partitioner (prepare.rs:62-117, option.rs:111-121).  A uniform
    # grid puts all of a clustered dataset (one metro area of a global
    # extent) into a handful of hot cells; equal-frequency edges keep
    # cell occupancy balanced regardless of the data distribution.
    # The row count, emptiness probe, and both quantile sketches ride in
    # ONE agg job (each extra action re-runs the bbox decode pass).
    cq = lb.selectExpr("(__lbox.xmin + __lbox.xmax) / 2 AS __cx",
                       "(__lbox.ymin + __lbox.ymax) / 2 AS __cy")
    probs = [i / nx for i in range(1, nx)]
    # Re-planning the same join (bench reps, iterative pipelines,
    # dashboards) re-pays the whole sampled-quantile scan.  Edges are
    # balance-only — a stale entry can skew cell occupancy, never rows —
    # so a bounded memo keyed on the analyzed plan is safe; the empty-
    # left short-circuit below IS correctness and is never memoized.
    memo, remember = stats_memo("grid", lb, left_geom, nx)
    if memo is not None:
        n_left = 1
        qx, qy = memo
    elif probs:
        # quantile edges from a 10% SAMPLE: edge placement only affects
        # balance, never correctness, and the full-table pass here was
        # a second complete python bbox decode of the left side (the
        # join pass below is the first) — at 100 TB that second pass is
        # the single largest avoidable cost in this operator.  An empty
        # sample of a non-empty table falls back to a LIMIT probe.
        samp = cq.sample(fraction=0.1, seed=7)
        # sketch accuracy 1000: edge placement only affects cell BALANCE,
        # never correctness, and the GK summary's merge cost scales with
        # accuracy x partitions — 10000 was measured 0.25 s/pass slower at
        # sf10 for edges that land within 0.1% of the same ranks
        stats_row = samp.agg(
            F.count("__cx").alias("n"),
            F.percentile_approx("__cx", probs, 1000).alias("qx"),
            F.percentile_approx("__cy", probs, 1000).alias("qy")).first()
        n_left, qx, qy = (stats_row["n"], stats_row["qx"] or [],
                          stats_row["qy"] or [])
        if n_left == 0:
            n_left = cq.where(F.col("__cx").isNotNull()).limit(1).count()
    else:
        n_left = cq.where(F.col("__cx").isNotNull()).limit(1).count()
        qx, qy = [], []
    if n_left == 0:
        # no non-empty left geometries: result is empty
        return _apply_refine(
            lb.join(rb, F.lit(False)), left_geom, rgeom, predicate, distance
        ).drop("__lbox", "__rbox")
    if memo is None:
        remember((list(qx), list(qy)))
    xbreaks = sorted(set(qx))
    ybreaks = sorted(set(qy))
    ny = len(ybreaks) + 1

    # cell-id expressions as single SQL strings (_bucket_sql CASE
    # chains): one py4j round trip per side and whole-stage codegen at
    # runtime, replacing the per-break F.lit array + interpreted HOF
    # filter (see _bucket_sql)
    le = lb.withColumn("__cell", F.explode(F.expr(_cells_sql(
        "__lbox.xmin", "__lbox.ymin", "__lbox.xmax", "__lbox.ymax",
        expand, xbreaks, ybreaks, ny))))
    re_ = rb.withColumn("__cell", F.explode(F.expr(_cells_sql(
        "__rbox.xmin", "__rbox.ymin", "__rbox.xmax", "__rbox.ymax",
        0.0, xbreaks, ybreaks, ny))))

    _d = _dlit(expand)
    cond = F.expr(
        f"__lcell = __rcell AND "
        f"__lbox.xmin - {_d} <= __rbox.xmax AND "
        f"__rbox.xmin <= __lbox.xmax + {_d} AND "
        f"__lbox.ymin - {_d} <= __rbox.ymax AND "
        f"__rbox.ymin <= __lbox.ymax + {_d}")
    le = le.withColumnRenamed("__cell", "__lcell")
    re_ = re_.withColumnRenamed("__cell", "__rcell")
    cand = le.join(re_, cond, "inner")

    # reference-point dedup: keep the pair only in the cell holding the
    # top-left corner of the bbox intersection (expanded by distance)
    cand = cand.filter(F.expr(
        f"__lcell = "
        f"{_bucket_sql(f'greatest((__lbox.xmin) - {_d}, __rbox.xmin)', xbreaks)}"
        f" * {int(ny)}L "
        f"+ {_bucket_sql(f'greatest((__lbox.ymin) - {_d}, __rbox.ymin)', ybreaks)}"))

    # rectangle fast path in the partitioned regime too — the exact
    # all-rects verification is a full build-side pass, so it is only
    # attempted when Catalyst's plan stats bound that side under 64 MB
    # (speculatively scanning a genuinely large build side to TEST
    # rect-ness would cost more than the refine it might save)
    joined = None
    if rect_fast_path and distance is None \
            and predicate in _RECT_FAST_PREDS:
        from sedona_db_spark.plans.width import planned_size_bytes
        sz = planned_size_bytes(right_r)
        if sz is not None and sz < (64 << 20):
            joined = _rect_fast_refine(cand, left, left_geom, rb, rgeom,
                                       predicate, distance, True,
                                       l_cert=left_xy is not None)
    if joined is None and rect_fast_path:
        joined = _dwithin_fast_refine(cand, left, left_geom, rb, rgeom,
                                      distance,
                                      l_cert=left_xy is not None,
                                      r_cert=right_xy is not None)
    if joined is None:
        joined = _apply_refine(cand, left_geom, rgeom, predicate, distance)
    return joined.drop("__lbox", "__rbox", "__lcell", "__rcell")


def _broadcast_index_join(lb: DataFrame, rb: DataFrame, left_geom: str,
                          rgeom: str, predicate: str,
                          distance: float | None, expand: float) -> DataFrame:
    """Broadcast path with an executor-side spatial index: the build side
    (≤ broadcast_threshold rows) is collected once, shipped as a Spark
    broadcast, and each probe partition builds a uniform-grid bbox index
    and probes it batch-at-a-time inside mapInPandas.  This mirrors the
    reference's single-partition in-memory index mode
    (/root/reference/rust/sedona-spatial-join/src/prepare.rs:62-117 +
    exec.rs build/probe) — NOT a nested-loop join: probe cost is
    O(rows x candidates), independent of build-side size."""
    import math
    import numpy as np
    from sedona_db_spark.geom import core

    spark = lb.sparkSession
    rpdf = rb.toPandas()
    rbox = rpdf["__rbox"]
    rboxes = np.array(
        [(-np.inf, -np.inf, -np.inf, -np.inf) if b is None or b["xmin"] is None
         else (b["xmin"], b["ymin"], b["xmax"], b["ymax"]) for b in rbox],
        dtype=np.float64).reshape(len(rpdf), 4)
    rpdf = rpdf.drop(columns=["__rbox"])
    bc = spark.sparkContext.broadcast((rpdf, rboxes))

    # flatten the probe bbox struct into plain double columns so the
    # worker reads zero-copy numpy arrays instead of per-row dicts
    lb2 = lb.withColumns({
        "__lx0": F.col("__lbox.xmin"), "__ly0": F.col("__lbox.ymin"),
        "__lx1": F.col("__lbox.xmax"), "__ly1": F.col("__lbox.ymax"),
    }).drop("__lbox")
    helper = ["__lx0", "__ly0", "__lx1", "__ly1"]
    lfields = [f for f in lb.schema.fields if f.name != "__lbox"]
    rfields = [f for f in rb.schema.fields if f.name != "__rbox"]
    out_schema = T.StructType(lfields + rfields)
    pred_fn = (None if distance is not None else _PREDICATES[predicate])
    d = float(distance) if distance is not None else None

    def probe(batches):
        rp, boxes = bc.value
        n = len(rp)
        # grid over build-side extent; rebuilt per task, like the
        # reference's per-partition index build (never shipped)
        if n and np.isfinite(boxes[:, 0]).any():
            fin = boxes[np.isfinite(boxes[:, 0])]
            gx0, gy0 = fin[:, 0].min(), fin[:, 1].min()
            gx1, gy1 = fin[:, 2].max(), fin[:, 3].max()
        else:
            gx0 = gy0 = 0.0
            gx1 = gy1 = 1.0
        nx = max(int(math.sqrt(max(n // 4, 1))), 1)
        nx = min(nx, 256)
        ny = nx
        w = max((gx1 - gx0) / nx, 1e-9)
        h = max((gy1 - gy0) / ny, 1e-9)

        def crange(v0, v1, g0, step, ncells):
            # clamp BOTH bounds: a bbox exactly on the extent's max edge
            # floors to cell `ncells`, which must land in the last cell
            a = min(max(int((v0 - g0) // step), 0), ncells - 1)
            b = min(max(int((v1 - g0) // step), 0), ncells - 1)
            return range(a, b + 1)

        # CSR cell index over the build side (bounded by the broadcast
        # threshold, so this loop is small and runs once per task)
        cell_keys: list[int] = []
        cell_membs: list[int] = []
        for ri in range(n):
            x0, y0, x1, y1 = boxes[ri]
            if not np.isfinite(x0):
                continue
            for ci in crange(x0, x1, gx0, w, nx):
                for cj in crange(y0, y1, gy0, h, ny):
                    cell_keys.append(ci * ny + cj)
                    cell_membs.append(ri)
        if cell_keys:
            ck = np.asarray(cell_keys, dtype=np.int64)
            cm = np.asarray(cell_membs, dtype=np.int64)
            o = np.argsort(ck, kind="stable")
            ck, cm = ck[o], cm[o]
            cells_u, starts = np.unique(ck, return_index=True)
            ends = np.append(starts[1:], len(ck))
        else:
            cells_u = np.empty(0, dtype=np.int64)
            starts = ends = cm = cells_u
        rvals = list(rp[rgeom]) if n else []
        try:
            rpts = (core.wkb_array_to_points(rvals)
                    if rvals and all(v is not None for v in rvals) else None)
        except Exception:
            rpts = None
        rgeoms = None  # decoded lazily; the all-point fast paths never need it

        for pdf in batches:
            m = len(pdf)
            empty = pdf.drop(columns=helper).iloc[[]].reset_index(drop=True)
            if m == 0 or not len(cells_u):
                yield pd.concat([empty, rp.iloc[[]].reset_index(drop=True)],
                                axis=1)[[f.name for f in out_schema.fields]]
                continue
            px0 = pdf["__lx0"].to_numpy(dtype=np.float64) - expand
            py0 = pdf["__ly0"].to_numpy(dtype=np.float64) - expand
            px1 = pdf["__lx1"].to_numpy(dtype=np.float64) + expand
            py1 = pdf["__ly1"].to_numpy(dtype=np.float64) + expand
            ok = np.isfinite(px0)
            # vectorized cell-range expansion: (row, cell) pairs via repeat
            ax = np.clip(((px0 - gx0) // w), 0, nx - 1).astype(np.int64)
            bx = np.clip(((px1 - gx0) // w), 0, nx - 1).astype(np.int64)
            ay = np.clip(((py0 - gy0) // h), 0, ny - 1).astype(np.int64)
            by = np.clip(((py1 - gy0) // h), 0, ny - 1).astype(np.int64)
            ncx = np.where(ok, bx - ax + 1, 0)
            ncy = np.where(ok, by - ay + 1, 0)
            per = ncx * ncy
            rows = np.repeat(np.arange(m), per)
            base = np.concatenate(([0], np.cumsum(per)[:-1]))
            off = np.arange(int(per.sum())) - np.repeat(base, per)
            keys = (ax[rows] + off // ncy[rows]) * ny + (ay[rows] + off % ncy[rows])
            # binary-search the CSR cell index, then expand member ranges
            pos = np.searchsorted(cells_u, keys)
            hit = (pos < len(cells_u)) & (cells_u[np.minimum(pos, len(cells_u) - 1)] == keys)
            rows2, pos2 = rows[hit], pos[hit]
            cnt = ends[pos2] - starts[pos2]
            prow = np.repeat(rows2, cnt)
            base2 = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            off2 = np.arange(int(cnt.sum())) - np.repeat(base2, cnt)
            bidx = cm[np.repeat(starts[pos2], cnt) + off2]
            # dedup (a probe box spanning cells hits a member repeatedly);
            # unique also sorts (prow, bidx) -> deterministic output order
            _, ui = np.unique(prow * np.int64(n) + bidx, return_index=True)
            prow, bidx = prow[ui], bidx[ui]
            # vectorized bbox prefilter
            bb = boxes[bidx]
            keep = ~((bb[:, 0] > px1[prow]) | (bb[:, 2] < px0[prow]) |
                     (bb[:, 1] > py1[prow]) | (bb[:, 3] < py0[prow]))
            prow, bidx = prow[keep], bidx[keep]

            lvals = list(pdf[left_geom])
            try:
                lpts = (core.wkb_array_to_points(lvals)
                        if len(prow) and all(v is not None for v in lvals)
                        else None)
            except Exception:
                lpts = None

            if len(prow) == 0:
                li_out = ri_out = np.empty(0, dtype=np.int64)
            elif d is not None and lpts is not None and rpts is not None:
                # all-points distance join: one vectorized hypot
                dx = lpts[prow, 0] - rpts[bidx, 0]
                dy = lpts[prow, 1] - rpts[bidx, 1]
                # same +1e-12 boundary as alg.dwithin (unified convention)
                mask = dx * dx + dy * dy <= (d + 1e-12) * (d + 1e-12)
                li_out, ri_out = prow[mask], bidx[mask]
            elif (d is None and lpts is not None
                  and predicate in ("within", "intersects", "covered_by",
                                    "coveredby")):
                # point-probe refine: group candidate pairs by build
                # geometry and run the batched point-position kernel
                if rgeoms is None:
                    rgeoms = [None if b is None else core.from_wkb(bytes(b))
                              for b in rvals]
                mask = np.zeros(len(prow), dtype=bool)
                order = np.argsort(bidx, kind="stable")
                sb = bidx[order]
                for grp in np.split(order, np.flatnonzero(np.diff(sb)) + 1):
                    gr = rgeoms[int(bidx[grp[0]])]
                    if gr is None:
                        continue
                    posn = alg.points_position_batch(lpts[prow[grp]], gr)
                    hits = posn == 1 if predicate == "within" else posn >= 0
                    mask[grp[hits]] = True
                li_out, ri_out = prow[mask], bidx[mask]
            else:
                # generic per-pair refine; probe geoms decoded once per row
                need = np.unique(prow)
                dec = {int(i): (None if lvals[i] is None
                                else core.from_wkb(bytes(lvals[i])))
                       for i in need}
                if rgeoms is None:
                    rgeoms = [None if b is None else core.from_wkb(bytes(b))
                              for b in rvals]
                li_list: list[int] = []
                ri_list: list[int] = []
                for p, ri in zip(prow.tolist(), bidx.tolist()):
                    gl, gr = dec[p], rgeoms[ri]
                    if gl is None or gr is None:
                        continue
                    hit2 = (alg.dwithin(gl, gr, d) if d is not None
                            else pred_fn(gl, gr))
                    if hit2:
                        li_list.append(p)
                        ri_list.append(ri)
                li_out = np.asarray(li_list, dtype=np.int64)
                ri_out = np.asarray(ri_list, dtype=np.int64)

            lpart = pdf.drop(columns=helper).iloc[li_out].reset_index(drop=True)
            rpart = rp.iloc[ri_out].reset_index(drop=True)
            out = pd.concat([lpart, rpart], axis=1)
            yield out[[f.name for f in out_schema.fields]]

    return lb2.mapInPandas(probe, schema=out_schema)


def _apply_refine(cand: DataFrame, lgeom: str, rgeom: str,
                  predicate: str, distance: float | None) -> DataFrame:
    if distance is not None:
        udf = _refine_udf("dwithin", True)
        return cand.filter(udf(F.col(lgeom), F.col(rgeom), F.lit(float(distance))))
    udf = _refine_udf(predicate, False)
    return cand.filter(udf(F.col(lgeom), F.col(rgeom)))


def _dwithin_fast_refine(cand: DataFrame, left: DataFrame, left_geom: str,
                         rb: DataFrame, rgeom: str,
                         distance: float | None, l_cert: bool = False,
                         r_cert: bool = False) -> DataFrame | None:
    """Certified point-point distance refine in pure codegen (round 10,
    the rect fast path's certificate applied to dwithin): when BOTH
    sides are provably 2-argument ST_Point outputs, the exact predicate
    IS ``(dx^2 + dy^2) <= (d + 1e-12)^2`` over the bbox min corners (a
    point's bbox is the point) — the same squared-distance comparison
    the vectorized kernel computes (unified alg.dwithin boundary),
    and NaN coordinates fail the <= exactly like the kernel's False.

    Certificate-only by design: a per-row WKB-header split here would
    need a MIXED-side gate (NOT(l_point AND r_point)), which Catalyst
    cannot push below the join — the straggler branch would ship every
    candidate through ArrowEvalPython, the exact r9 regression shape.
    Uncertified inputs keep the vectorized kernel refine."""
    if distance is None:
        return None
    if not ((l_cert or plan_geom_facts(left, left_geom) == PLANAR_POINTS)
            and (r_cert or plan_geom_facts(rb, rgeom) == PLANAR_POINTS)):
        return None
    # (d + 1e-12)^2: the unified alg.dwithin boundary convention.
    # One F.expr string (round 12) — the Column form cost ~14 RPCs.
    de = float(distance) + 1e-12
    return cand.filter(F.expr(
        "(__lbox.xmin - __rbox.xmin) * (__lbox.xmin - __rbox.xmin) + "
        "(__lbox.ymin - __rbox.ymin) * (__lbox.ymin - __rbox.ymin) <= "
        + _dlit(de * de)))


def distance_join(left, right, left_geom="geom", right_geom="geom",
                  distance=1.0, **kw):
    """ST_DWithin join (reference DistancePredicate,
    spatial_predicate.rs:44-99)."""
    return spatial_join(left, right, left_geom, right_geom,
                        predicate="intersects", distance=distance, **kw)


# ======================================================================
# Persisted bucketed-by-cell spatial layout (round 9, r8 verdict #6).
#
# The partitioned grid join pays, per query, (a) a full Python bbox
# decode pass over the big side and (b) its cell explode + shuffle.
# A table queried repeatedly by spatial joins can pay those ONCE:
# `write_bucketed_layout` persists the rows exploded to their covering
# grid cells, bucketed by cell (Hive-style bucketing), with the grid
# edges stored in table properties.  `spatial_join_bucketed` then joins
# the stored cells directly — no Python pass over the layout side, and
# (bucketing) no Exchange above its scan; with BOTH sides laid out on
# the same grid, the join runs with zero shuffles.  This mirrors the
# reference's GeoParquet spatial-sort guidance (sources/geoparquet.py's
# SD_Order path) taken to its join-time conclusion, and is the named
# lever from the r8 verdict for spatial_join_grid_within.
# ======================================================================

_LAYOUT_PROP = "sedona_db.spatial_layout"
_LAYOUT_COLS = ["__bx0", "__by0", "__bx1", "__by1", "__bcls", "__cell"]


def _dlit(x) -> str:
    """Exact SQL double literal (CAST of repr string — constant-folded
    at plan time, round-trips every finite double)."""
    return f"CAST('{repr(float(x))}' AS DOUBLE)"


def _bq(name: str) -> str:
    """Backquoted SQL identifier (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _bucket_sql(v_sql: str, breaks) -> str:
    """SQL for 'number of breaks <= v' (the equal-frequency cell index).

    r11 (guide §4.1 + §1.2 per-task work): the former Column form built
    an array of per-break F.lit literals and counted them with an
    interpreted higher-order filter — ~2 py4j round trips per break per
    call site at construction (profiled: ~900 of the grid join's 2240
    construction RPCs) and an interpreted per-row array scan at
    execution.  The CASE chain is ONE F.expr round trip and whole-stage
    codegen at runtime.  Semantics preserved exactly: breaks ascending
    (duplicates allowed — an equal break's WHEN never fires, matching
    the count), NULL input -> bucket 0 like the old filter-over-NULL
    behavior."""
    if not breaks:
        return "0L"
    whens = " ".join(
        f"WHEN ({v_sql}) < {_dlit(b)} THEN {i}L"
        for i, b in enumerate(breaks))
    return (f"(CASE WHEN ({v_sql}) IS NULL THEN 0L {whens} "
            f"ELSE {len(breaks)}L END)")


def _cells_sql(x0, y0, x1, y1, dx, xbreaks, ybreaks, ny) -> str:
    """SQL for the covering-cell id array of a bbox padded by ``dx``
    (x0/y0/x1/y1 are SQL sub-expressions, dx a python float)."""
    d = _dlit(dx)
    cx0 = _bucket_sql(f"({x0}) - {d}", xbreaks)
    cx1 = _bucket_sql(f"({x1}) + {d}", xbreaks)
    cy0 = _bucket_sql(f"({y0}) - {d}", ybreaks)
    cy1 = _bucket_sql(f"({y1}) + {d}", ybreaks)
    return (f"flatten(transform(sequence({cx0}, {cx1}), "
            f"cx -> transform(sequence({cy0}, {cy1}), "
            f"cy -> cx * {int(ny)}L + cy)))")


def write_bucketed_layout(df: DataFrame, table: str, geom: str = "geom",
                          grid_cells: int | None = None,
                          buckets: int | None = None,
                          mode: str = "overwrite") -> None:
    """Persist ``df`` as a spatial bucketed-by-cell layout table.

    Equal-frequency grid edges come from the same sampled
    Greenwald-Khanna sketch the grid join uses; every row is stored
    once per covering cell (rows with null/empty geometry keep one copy
    in cell 0 and never produce candidate pairs — the join's bbox
    condition is null there).  The flat bbox/cls columns make join-time
    pruning pure codegen; the grid edges ride in table properties so
    any later join reproduces the exact cell function."""
    import json as _json

    spark = df.sparkSession
    b = df.withColumn("__b", _bbox_cls_col(F.col(geom)))
    if mode == "append" and spark.catalog.tableExists(table):
        # appended rows MUST be celled under the EXISTING grid: re-
        # sketching from the new rows alone would desynchronize the
        # stored __cell of earlier rows from the table's break metadata
        # (home-cell filters and join-time cell functions silently drop
        # them — round-9 review)
        meta = read_layout_meta(spark, table)
        if meta.get("geom") != geom:
            raise ValueError(
                f"layout table {table} was written with geom column "
                f"{meta.get('geom')!r}; cannot append with geom={geom!r}")
        missing = [k for k in ("xbreaks", "ybreaks", "ny", "buckets")
                   if k not in meta]
        if missing:
            raise ValueError(
                f"{table} carries {_LAYOUT_PROP} but is missing layout "
                f"metadata {missing}; rewrite it with "
                "write_bucketed_layout(mode='overwrite')")
        if buckets is not None and int(buckets) != int(meta["buckets"]):
            raise ValueError(
                f"append to {table} with buckets={buckets} conflicts "
                f"with the stored bucket count {meta['buckets']}; "
                "bucket counts are fixed at layout creation")
        if grid_cells is not None:
            raise ValueError(
                f"append to {table} reuses the STORED grid; "
                "grid_cells cannot be changed on append (re-layout with "
                "mode='overwrite' to re-grid)")
        xbreaks = [float(v) for v in meta["xbreaks"]]
        ybreaks = [float(v) for v in meta["ybreaks"]]
        ny = int(meta["ny"])
        out = (b.withColumn("__cell", F.explode(F.expr(_cells_sql(
                   "__b.xmin", "__b.ymin", "__b.xmax", "__b.ymax",
                   0.0, xbreaks, ybreaks, ny))))
                .withColumn("__bx0", F.col("__b.xmin"))
                .withColumn("__by0", F.col("__b.ymin"))
                .withColumn("__bx1", F.col("__b.xmax"))
                .withColumn("__by1", F.col("__b.ymax"))
                .withColumn("__bcls", F.col("__b.cls"))
                .drop("__b"))
        # align partitions to buckets before the write: unaligned, every
        # input partition emits a file into every bucket (partitions x
        # buckets tiny files) and later bucketed scans pay a parquet
        # open per file
        (out.repartition(int(meta["buckets"]), F.col("__cell"))
            .write.format("parquet").mode("append")
            .bucketBy(int(meta["buckets"]), "__cell").sortBy("__cell")
            .saveAsTable(table))
        return
    if grid_cells is None:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        grid_cells = max(sp * 4, 64)
    import math
    nx = max(int(math.sqrt(grid_cells)), 1)
    probs = [i / nx for i in range(1, nx)]
    cq = b.select(((F.col("__b.xmin") + F.col("__b.xmax")) / 2).alias("__cx"),
                  ((F.col("__b.ymin") + F.col("__b.ymax")) / 2).alias("__cy"))
    if probs:
        row = cq.sample(fraction=0.1, seed=7).agg(
            F.count("__cx").alias("n"),
            F.percentile_approx("__cx", probs, 1000).alias("qx"),
            F.percentile_approx("__cy", probs, 1000).alias("qy")).first()
        qx, qy = (row["qx"] or []), (row["qy"] or [])
        if row["n"] == 0:               # tiny table: sketch the full set
            row = cq.agg(
                F.percentile_approx("__cx", probs, 1000).alias("qx"),
                F.percentile_approx("__cy", probs, 1000).alias("qy")).first()
            qx, qy = (row["qx"] or []), (row["qy"] or [])
    else:
        qx, qy = [], []
    xbreaks = sorted(set(float(v) for v in qx))
    ybreaks = sorted(set(float(v) for v in qy))
    ny = len(ybreaks) + 1
    out = (b.withColumn("__cell", F.explode(F.expr(_cells_sql(
               "__b.xmin", "__b.ymin", "__b.xmax", "__b.ymax",
               0.0, xbreaks, ybreaks, ny))))
            .withColumn("__bx0", F.col("__b.xmin"))
            .withColumn("__by0", F.col("__b.ymin"))
            .withColumn("__bx1", F.col("__b.xmax"))
            .withColumn("__by1", F.col("__b.ymax"))
            .withColumn("__bcls", F.col("__b.cls"))
            .drop("__b"))
    if buckets is None:
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        # orphaned managed location from a previous session (the
        # in-memory catalog forgot the entry; saveAsTable refuses to
        # reuse the directory): overwrite semantics say replace it.
        # A still-wanted previous layout is re-attached with
        # register_bucketed_layout instead of rewritten.
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if wh.startswith("file:"):
            import os as _os
            import shutil as _shutil
            stale = _os.path.join(wh[5:], table.lower())
            if _os.path.exists(stale):
                _shutil.rmtree(stale)
    (out.repartition(int(buckets), F.col("__cell"))
        .write.format("parquet").mode(mode)
        .bucketBy(int(buckets), "__cell").sortBy("__cell")
        .saveAsTable(table))
    meta = {
        "version": 1, "geom": geom, "xbreaks": xbreaks, "ybreaks": ybreaks,
        "ny": ny, "buckets": int(buckets),
    }
    props = _json.dumps(meta).replace("'", "''")
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
              f"('{_LAYOUT_PROP}' = '{props}')")
    # sidecar next to the data: the default in-memory catalog forgets
    # table metadata at session end while the bucketed FILES persist in
    # the warehouse — register_bucketed_layout re-creates the catalog
    # entry (bucketing spec included) from this file in a new session
    try:
        loc = spark.sql(f"DESCRIBE TABLE EXTENDED {table}") \
            .filter("col_name = 'Location'").first()["data_type"]
        if loc.startswith("file:"):
            import os as _os
            path = loc[5:]
            meta["schema_ddl"] = out.schema.simpleString()
            with open(_os.path.join(path, "_sedona_layout.json"), "w") as f:
                _json.dump(meta, f)
    except Exception:
        pass                        # remote warehouse: catalog is durable


def register_bucketed_layout(spark, path: str, table: str) -> None:
    """Re-create the catalog entry for a layout directory written by
    write_bucketed_layout in an earlier session (external bucketed
    table + layout properties from the sidecar)."""
    import json as _json
    import os as _os
    with open(_os.path.join(path, "_sedona_layout.json")) as f:
        meta = _json.load(f)
    if spark.catalog.tableExists(table):
        # never auto-drop: dropping a MANAGED entry deletes the data
        # files; the caller must drop deliberately
        raise ValueError(
            f"table {table} already exists; drop it first (careful: "
            "DROP TABLE on a managed layout deletes its files)")
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                     for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY (__cell) SORTED BY (__cell) "
        f"INTO {int(meta['buckets'])} BUCKETS LOCATION '{path}'")
    props = _json.dumps({k: v for k, v in meta.items()
                         if k != "schema_ddl"}).replace("'", "''")
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
              f"('{_LAYOUT_PROP}' = '{props}')")


def layout_staleness(spark, table: str) -> dict:
    """Stored-cell balance diagnostic for a bucketed layout (r10 verdict
    #6): appended rows reuse the CREATION-time grid breaks, so a shifted
    append piles into a few cells and the layout's co-located join
    degrades to stragglers.  One aggregation over the stored cells:

    - ``cells`` / ``physical_rows`` / ``logical_rows``
    - ``max_cell_rows`` and ``mean_cell_rows`` over stored cells
    - ``skew`` = max/mean (1.0 = perfectly balanced)
    - ``rebucket_recommended`` — skew > 4 with enough rows to matter

    Balance-only (the stored grid stays CORRECT under any append — every
    row is in its covering cells); this measures whether a
    :func:`rebucket_layout` is worth its one-off shuffle."""
    meta = read_layout_meta(spark, table)
    t = spark.table(table)
    home = F.expr(
        f"{_bucket_sql('__bx0', meta['xbreaks'])} * {int(meta['ny'])}L "
        f"+ {_bucket_sql('__by0', meta['ybreaks'])}")
    per_cell = t.groupBy("__cell").count()
    stats = per_cell.agg(
        F.count("*").alias("cells"),
        F.sum("count").alias("phys"),
        F.max("count").alias("mx"),
        F.avg("count").alias("mean")).first()
    logical = t.filter(F.col("__cell") == home).count()
    mx = int(stats["mx"] or 0)
    mean = float(stats["mean"] or 0.0)
    skew = (mx / mean) if mean > 0 else 0.0
    return {
        "cells": int(stats["cells"] or 0),
        "physical_rows": int(stats["phys"] or 0),
        "logical_rows": int(logical),
        "max_cell_rows": mx,
        "mean_cell_rows": mean,
        "skew": skew,
        "rebucket_recommended": bool(skew > 4.0 and mx > 10_000),
    }


def rebucket_layout(spark, table: str, grid_cells: int | None = None,
                    buckets: int | None = None) -> dict:
    """Re-grid a layout table from its CURRENT logical rows (r10 verdict
    #6): fresh equal-frequency breaks from today's distribution replace
    the creation-time grid that appended data has outgrown.  Returns the
    post-rebucket :func:`layout_staleness` dict.

    The logical rows are materialized via ``localCheckpoint`` before the
    overwrite (Spark cannot overwrite a table it is still lazily
    reading).  On a multi-tenant cluster prefer writing a NEW table name
    and swapping readers — localCheckpoint blocks live on executors for
    the duration of the rewrite."""
    meta = read_layout_meta(spark, table)
    orig = layout_original(spark, table).localCheckpoint(eager=True)
    write_bucketed_layout(orig, table, geom=meta["geom"],
                          grid_cells=grid_cells, buckets=buckets,
                          mode="overwrite")
    return layout_staleness(spark, table)


def read_layout_meta(spark, table: str) -> dict:
    import json as _json
    row = spark.sql(
        f"SHOW TBLPROPERTIES {table} ('{_LAYOUT_PROP}')").first()
    val = row["value"] if row is not None else None
    if not val or val.startswith("Table") or "does not have" in val:
        raise ValueError(
            f"{table} is not a spatial layout table (missing "
            f"{_LAYOUT_PROP}); write it with write_bucketed_layout")
    return _json.loads(val)


def layout_original(spark, table: str) -> DataFrame:
    """The original rows of a layout table, exactly once each: every row
    is stored once per covering cell; its 'home' is the first cell
    (bbox min corner), which the explode always includes."""
    meta = read_layout_meta(spark, table)
    t = spark.table(table)
    home = F.expr(
        f"{_bucket_sql('__bx0', meta['xbreaks'])} * {int(meta['ny'])}L "
        f"+ {_bucket_sql('__by0', meta['ybreaks'])}")
    return t.filter(F.col("__cell") == home).drop(*_LAYOUT_COLS)


def spatial_join_bucketed(
    spark,
    layout_table: str,
    right,
    right_geom: str = "geom",
    predicate: str = "intersects",
    distance: float | None = None,
    how: str = "inner",
    rect_fast_path: bool = True,
) -> DataFrame:
    """Spatial join with a persisted layout on the LEFT side:
    ``predicate(layout.geom, right.geom)``.  ``right`` is a DataFrame,
    or another layout table name — when both layouts share the same
    grid and there is no distance pad, the join runs on the STORED
    cells of both sides (zero exchanges with matching bucket counts).

    Output and semantics match :func:`spatial_join` (left columns then
    right columns, collisions prefixed ``right_``, full join-type
    lattice)."""
    if predicate not in _PREDICATES and distance is None:
        raise ValueError(f"unknown spatial predicate {predicate!r}")
    meta = read_layout_meta(spark, layout_table)
    xbreaks, ybreaks, ny = meta["xbreaks"], meta["ybreaks"], meta["ny"]
    left_geom = meta["geom"]
    lt = spark.table(layout_table)
    # +1e-12: candidate generation must over-approximate the refine's
    # unified ``r <= d + 1e-12`` boundary, or slack-band pairs would be
    # dropped before any refine branch sees them
    expand = float(distance) + 1e-12 if distance is not None else 0.0

    # ---- right side: DataFrame (kernel bbox) or a second layout ------
    right_meta = None
    if isinstance(right, str):
        right_meta = read_layout_meta(spark, right)
        right_df = spark.table(right)
        right_geom = right_meta["geom"]
    else:
        right_df = right

    how_n = normalize_how(how)

    rcols = {c: (f"right_{c}" if c in lt.columns else c)
             for c in right_df.columns}
    right_r = right_df.select([F.col(c).alias(a) for c, a in rcols.items()])
    rgeom = rcols[right_geom]
    rlayout = [rcols[c] for c in _LAYOUT_COLS] if right_meta else []

    same_grid = (right_meta is not None
                 and right_meta["xbreaks"] == xbreaks
                 and right_meta["ybreaks"] == ybreaks and expand == 0.0)

    def r_home() -> Column:
        # a second layout's row sits in its home cell exactly once
        return F.col(rcols["__cell"]) == F.expr(
            f"{_bucket_sql('`' + rcols['__bx0'] + '`', right_meta['xbreaks'])} "
            f"* {int(right_meta['ny'])}L "
            f"+ {_bucket_sql('`' + rcols['__by0'] + '`', right_meta['ybreaks'])}")

    if right_meta is not None:
        rb = right_r.withColumn("__rbox", F.struct(
            F.col(rcols["__bx0"]).alias("xmin"),
            F.col(rcols["__by0"]).alias("ymin"),
            F.col(rcols["__bx1"]).alias("xmax"),
            F.col(rcols["__by1"]).alias("ymax"),
            F.col(rcols["__bcls"]).alias("cls")))
        if same_grid:
            re_ = rb.withColumn("__rcell", F.col(rcols["__cell"]))
        else:
            # different grid (or a distance pad): keep each original row
            # once and re-explode NATIVELY from the stored bbox — no
            # Python pass, but this side does shuffle
            rb = rb.filter(r_home())
            re_ = rb.withColumn("__rcell", F.explode(F.expr(_cells_sql(
                "__rbox.xmin", "__rbox.ymin", "__rbox.xmax",
                "__rbox.ymax", expand, xbreaks, ybreaks, ny))))
        rb_clean = rb
    else:
        rb = right_r.withColumn("__rbox", _bbox_cls_col(F.col(rgeom)))
        re_ = rb.withColumn("__rcell", F.explode(F.expr(_cells_sql(
            "__rbox.xmin", "__rbox.ymin", "__rbox.xmax",
            "__rbox.ymax", expand, xbreaks, ybreaks, ny))))
        rb_clean = rb

    orig_cols = [c for c in lt.columns if c not in _LAYOUT_COLS]

    def _candidates(l_tagged: DataFrame) -> DataFrame:
        cond = (
            (F.col("__cell") == F.col("__rcell")) &
            (F.col("__bx0") - expand <= F.col("__rbox.xmax")) &
            (F.col("__rbox.xmin") <= F.col("__bx1") + expand) &
            (F.col("__by0") - expand <= F.col("__rbox.ymax")) &
            (F.col("__rbox.ymin") <= F.col("__by1") + expand)
        )
        cand = l_tagged.join(re_, cond, "inner")
        # pair dedup: the pad lives on the RIGHT side's cells here, so
        # the reference point is greatest(lxmin, rxmin - expand) — the
        # top-left corner of the padded-bbox intersection
        _d = _dlit(expand)
        ref_cell = F.expr(
            f"{_bucket_sql(f'greatest(__bx0, (__rbox.xmin) - {_d})', xbreaks)}"
            f" * {int(ny)}L "
            f"+ {_bucket_sql(f'greatest(__by0, (__rbox.ymin) - {_d})', ybreaks)}")
        return cand.filter(F.col("__cell") == ref_cell)

    def _inner(l_tagged: DataFrame, extra: list[str]) -> DataFrame:
        cand = _candidates(l_tagged)
        out_cols = orig_cols + extra + \
            [rcols[c] for c in right_df.columns if rcols[c] not in rlayout]
        joined = None
        if rect_fast_path and distance is None \
                and predicate in _RECT_FAST_PREDS:
            from sedona_db_spark.plans.width import planned_size_bytes
            sz = planned_size_bytes(right_r)
            if sz is not None and sz < (64 << 20):
                cand2 = cand.withColumn("__lbox", F.struct(
                    F.col("__bx0").alias("xmin"),
                    F.col("__by0").alias("ymin"),
                    F.col("__bx1").alias("xmax"),
                    F.col("__by1").alias("ymax"),
                    F.col("__bcls").alias("cls")))
                joined = _rect_fast_refine(
                    cand2, l_tagged, left_geom, rb_clean,
                    rgeom, predicate, distance, True,
                    point_gate=F.col("__bcls") == 1)
        if joined is None and distance is not None and rect_fast_path:
            # layout distance refine as three NATIVE branches: the
            # stored shape class gates the left side (a plain column —
            # pushes below the join with zero Python), the WKB header
            # gates the right, and only genuinely non-point pairs reach
            # the exact kernel.  The general operator cannot do this
            # per row (its left gate would re-run the bbox UDF on
            # pushdown); the layout's materialized __bcls is exactly
            # what makes the split free here.
            lx, ly = F.col("__bx0"), F.col("__by0")
            rx, ry = F.col("__rbox.xmin"), F.col("__rbox.ymin")
            dx, dy = lx - rx, ly - ry
            # (d + 1e-12)^2: the unified alg.dwithin boundary convention
            d2 = F.lit((float(distance) + 1e-12) ** 2)
            formula = (dx * dx + dy * dy) <= d2
            is_r = _wkb_point2d(F.col(rgeom))
            exact = _refine_udf("dwithin", True)(
                F.col(left_geom), F.col(rgeom), F.lit(float(distance)))
            pts = cand.filter(
                (F.col("__bcls") == 1)
                & F.when(is_r, formula).otherwise(F.lit(False)))
            s_a = cand.filter(F.col("__bcls") != 1) \
                      .filter(F.coalesce(exact, F.lit(False)))
            s_b = cand.filter((F.col("__bcls") == 1)
                              & ~F.coalesce(is_r, F.lit(False))) \
                      .filter(F.coalesce(exact, F.lit(False)))
            joined = pts.unionByName(s_a).unionByName(s_b)
        if joined is None:
            joined = _apply_refine(cand, left_geom, rgeom, predicate,
                                   distance)
        return joined.select(*out_cols)

    if how_n == "inner":
        return _inner(lt, [])

    # lattice: content-derived ids over the ORIGINAL columns — exploded
    # copies of a row share the id by design, so the distinct-id set
    # means "matched at least once" and orig-side joins keep exact
    # per-row multiplicity (see content_row_id)
    lids = ["__sjb_lid1", "__sjb_lid2"]
    rids = ["__sjb_rid1", "__sjb_rid2"]
    need_l = how_n in _LEFT_ID_MODES
    need_r = how_n in _RIGHT_ID_MODES
    # exploded layout copies and home copies are linked ONLY by content
    # ids, so there is no checkpoint fallback here: map-typed columns
    # (unhashable) fail loud instead of wrong
    if need_l and any(_type_has_map(lt.schema[c].dataType)
                      for c in orig_cols):
        raise NotImplementedError(
            "non-inner bucketed spatial joins need hashable row content; "
            "map-typed columns are unsupported here — use spatial_join")
    lt_t, orig = lt, None
    if need_l:
        id_exprs = _content_id_exprs(orig_cols, lt.schema)
        lt_t = lt.withColumn(lids[0], id_exprs[0]) \
                 .withColumn(lids[1], id_exprs[1])
        orig = layout_original(spark, layout_table) \
            .withColumn(lids[0], id_exprs[0]) \
            .withColumn(lids[1], id_exprs[1])
    r_orig = None
    if need_r:
        # right modes preserve the NON-layout side: tag the exploded
        # right stream with content ids (re_ is a closure of
        # _candidates, so retagging here flows into the candidate join);
        # exploded copies (same-grid second layout) share ids by design
        r_orig_cols = [rcols[c] for c in right_df.columns
                       if rcols[c] not in rlayout]
        if any(_type_has_map(re_.schema[c].dataType)
               for c in r_orig_cols):
            raise NotImplementedError(
                "non-inner bucketed spatial joins need hashable row "
                "content; map-typed columns are unsupported here — use "
                "spatial_join")
        rid_exprs = _content_id_exprs(r_orig_cols, re_.schema)
        re_ = re_.withColumn(rids[0], rid_exprs[0]) \
                 .withColumn(rids[1], rid_exprs[1])
        r_orig = right_r if right_meta is None \
            else right_r.filter(r_home()).drop(*rlayout)
        r_orig = r_orig.withColumn(rids[0], rid_exprs[0]) \
                       .withColumn(rids[1], rid_exprs[1])
    inner = _inner(lt_t, (lids if need_l else []) +
                   (rids if need_r else []))
    return join_mode_from_inner(how_n, inner, orig, lids, r_orig, rids)
