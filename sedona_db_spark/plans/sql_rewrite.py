"""SQL-level spatial join planning.

Reroutes ``spark.sql("... FROM a JOIN b ON ST_Intersects(a.g, b.g)")``
through the engine's real spatial join operators instead of Spark's default
plan for a non-equi join (BroadcastNestedLoopJoin with a per-row scalar-UDF
refine — the documented worst practice).

Reference parity: this is the PySpark-side analogue of the reference's
logical optimizer rules ``MergeSpatialFilterIntoJoin`` +
``SpatialJoinLogicalRewrite`` (rust/sedona-query-planner/src/optimizer.rs:
197-261, 306-415) and the KNN join rewrite (optimizer.rs:140-195,417-555):

- ``a JOIN b ON ST_Pred(a.g, b.g)`` -> ``spatial_join`` — the whole
  join-type lattice: INNER / LEFT / RIGHT / FULL [OUTER] / [LEFT] SEMI /
  [LEFT] ANTI (reference SpatialJoinExec join types,
  rust/sedona-spatial-join/src/exec.rs:235-240)
- ``FROM a, b WHERE ST_Pred(...)`` / CROSS JOIN + WHERE -> same (the
  reference merges the filter into the join first; optimizer.rs:197-261)
- ``ON ST_DWithin(a.g, b.g, d)`` -> distance join
- ``ON ST_KNN(q.g, o.g, k, use_spheroid)`` -> ``knn_join`` (inner only).
  Conjuncts above the join keep SQL placement, so an object-side filter
  applies AFTER neighbor selection — the reference pins exactly this
  (optimizer.rs:417-555 blocks object-side pushdown; Spark's own rules
  cannot push a non-partition-key filter below the ranking window).
- DECLINES (falls back to vanilla Spark planning) when an equi-key
  conjunct links both sides — Spark's hash join + post-filter is already
  the right plan (reference declines identically, optimizer.rs:253-257).

Architecture note ("why not a Catalyst rule"): injecting a logical rule
needs JVM code; a pure-PySpark engine intercepts at its session front door
instead.  ``install_sql_rewrite(spark)`` (called by ``register_all``) wraps
the session's ``sql`` method: a cheap regex precheck skips everything
without a spatial predicate + join, a token-level matcher handles the
supported shapes, and ANY non-matching or ambiguous query falls back to the
original planner unchanged.  The rewritten join subtree is registered as a
temp view and the rest of the query (projection, WHERE, GROUP BY, ORDER BY,
set ops above) runs over it verbatim, so SQL semantics outside the join are
Spark's own.
"""

from __future__ import annotations

import hashlib
import re
import warnings

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from sedona_db_spark.operators.result_cache import BoundedMemo, plan_key

# ----------------------------------------------------------------------
# tokenizer
# ----------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+|--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^']|'')*')
    | (?P<qid>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<num>(?:\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)(?:[dDlLfFsSyY]|[bB][dD])?(?![A-Za-z_0-9]))
    | (?P<id>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<op><=>|<>|<=|>=|!=|\|\||::|->>?|==)
    | (?P<ch>.)
    """,
    re.S | re.X,
)


def _tokenize(sql: str) -> list[str] | None:
    """SQL -> token list (whitespace/comments dropped).  None on oddities."""
    toks = []
    pos = 0
    for m in _TOKEN_RE.finditer(sql):
        if m.start() != pos:
            return None
        pos = m.end()
        if m.lastgroup != "ws":
            toks.append(m.group())
    if pos != len(sql):
        return None
    return toks


def _render(toks: list[str]) -> str:
    """Token list -> SQL text.  A space between every token is valid Spark
    SQL except inside qualified names, which the rewrite collapses into
    single tokens before rendering."""
    return " ".join(toks)


# ----------------------------------------------------------------------
# predicate tables (reference spatial_predicate.rs:44-214 relation set)
# ----------------------------------------------------------------------

_PRED_NAMES = {
    "ST_INTERSECTS": "intersects",
    "ST_CONTAINS": "contains",
    "ST_WITHIN": "within",
    "ST_COVERS": "covers",
    "ST_COVEREDBY": "covered_by",
    "ST_COVERED_BY": "covered_by",
    "ST_TOUCHES": "touches",
    "ST_CROSSES": "crosses",
    "ST_OVERLAPS": "overlaps",
    "ST_EQUALS": "equals",
}
# predicate(B, A) equivalent to transpose(predicate)(A, B)
_TRANSPOSE = {
    "contains": "within",
    "within": "contains",
    "covers": "covered_by",
    "covered_by": "covers",
    "intersects": "intersects",
    "equals": "equals",
    "touches": "touches",
    "overlaps": "overlaps",
    # crosses is intentionally absent: OGC defines it via dim() cases and
    # the engine does not certify arg-swap symmetry
}

# join-type mirror for running a query with its sides swapped (the
# bucketed layout operator is left-anchored): preserve-left becomes
# preserve-right and vice versa
_MIRROR_HOW = {
    "inner": "inner", "full": "full",
    "left": "right", "right": "left",
    "left_semi": "right_semi", "left_anti": "right_anti",
    "right_semi": "left_semi", "right_anti": "left_anti",
}

# raster-vs-geometry join predicates (reference join eligibility:
# rust/sedona-expr/src/spatial_predicate.rs:203-205).  The engine
# defines RS_Pred(r, g) as ST_Pred(RS_Envelope(r), g) (the skew-correct
# footprint polygon), so the join routes as an ordinary spatial join
# over a materialized footprint column — EXACT, not a candidate cut.
_RS_PRED_NAMES = {
    "RS_INTERSECTS": "intersects",
    "RS_CONTAINS": "contains",
    "RS_WITHIN": "within",
}

_PRECHECK = re.compile(
    r"\b(?:ST_(INTERSECTS|CONTAINS|WITHIN|COVERS|COVERED_?BY|TOUCHES|CROSSES|"
    r"OVERLAPS|EQUALS|DWITHIN|KNN|DISTANCE)|"
    r"RS_(INTERSECTS|CONTAINS|WITHIN))\s*\(",
    re.I,
)

_BLOCK_END = {
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW", "QUALIFY", "DISTRIBUTE", "CLUSTER", "SORT",
}
_JOIN_WORDS = {"JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "SEMI",
               "ANTI", "NATURAL", "LATERAL"}
_NOT_ALIAS = _BLOCK_END | _JOIN_WORDS | {"ON", "USING", "AS"}


class _Decline(Exception):
    """Shape not rewritable — fall back to vanilla planning."""


class _Rel:
    """One relation in the FROM clause: a (multi-part) table name or a
    parenthesized subquery, plus its alias."""

    def __init__(self, start: int, end: int, alias: str, is_subquery: bool,
                 text: str):
        self.start = start          # token span [start, end)
        self.end = end
        self.alias = alias
        self.is_subquery = is_subquery
        self.text = text            # table name or subquery SQL


def _depths(toks: list[str]) -> list[int]:
    out = []
    d = 0
    for t in toks:
        if t == ")":
            d -= 1
        out.append(d)
        if t == "(":
            d += 1
    return out


def _is_ident(t: str) -> bool:
    return bool(re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", t)) or (
        t[:1] in "`\"" and len(t) >= 2)


def _unquote(t: str) -> str:
    if t[:1] == "`" and t[-1:] == "`":
        return t[1:-1].replace("``", "`")
    if t[:1] == '"' and t[-1:] == '"':
        return t[1:-1].replace('""', '"')
    return t


def _parse_rel(toks: list[str], i: int) -> tuple[_Rel, int]:
    """Parse a relation reference starting at token i."""
    n = len(toks)
    if i >= n:
        raise _Decline
    if toks[i] == "(":
        d = 0
        j = i
        while j < n:
            if toks[j] == "(":
                d += 1
            elif toks[j] == ")":
                d -= 1
                if d == 0:
                    break
            j += 1
        if j >= n:
            raise _Decline
        body = _render(toks[i + 1:j])
        j += 1
        alias, j = _parse_alias(toks, j)
        if alias is None:
            raise _Decline   # subquery needs an alias
        return _Rel(i, j, alias, True, body), j
    # multipart identifier
    if not _is_ident(toks[i]) or toks[i].upper() in _NOT_ALIAS:
        raise _Decline
    parts = [toks[i]]
    j = i + 1
    while j + 1 < n and toks[j] == "." and _is_ident(toks[j + 1]):
        parts.append(toks[j + 1])
        j += 2
    alias, j = _parse_alias(toks, j)
    name = ".".join(parts)
    if alias is None:
        alias = _unquote(parts[-1])
    return _Rel(i, j, alias, False, name), j


def _parse_alias(toks: list[str], j: int) -> tuple[str | None, int]:
    n = len(toks)
    if j < n and toks[j].upper() == "AS" and j + 1 < n and _is_ident(toks[j + 1]):
        return _unquote(toks[j + 1]), j + 2
    if j < n and _is_ident(toks[j]) and toks[j].upper() not in _NOT_ALIAS:
        return _unquote(toks[j]), j + 1
    return None, j


def _split_conjuncts(toks: list[str], lo: int, hi: int) -> list[tuple[int, int]]:
    """Split toks[lo:hi] on top-level AND -> list of (start, end) spans."""
    spans = []
    d = 0
    start = lo
    for j in range(lo, hi):
        t = toks[j]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and t.upper() == "AND":
            spans.append((start, j))
            start = j + 1
        elif d == 0 and (t.upper() == "OR"
                         or (t.upper() == "NOT"
                             and not (j + 1 < hi
                                      and toks[j + 1].upper() == "EXISTS"))):
            # disjunctions / negations not rewritable — except NOT
            # EXISTS, which stays inside its own conjunct span and is
            # handled by the anti-join rewrite
            raise _Decline
    spans.append((start, hi))
    return [s for s in spans if s[1] > s[0]]


class _SpatialConjunct:
    def __init__(self, kind: str, predicate: str | None,
                 arg_rels: list[str], arg_cols: list[str],
                 extra: list[float]):
        self.kind = kind            # 'relation' | 'dwithin' | 'knn'
        self.predicate = predicate
        self.arg_rels = arg_rels    # alias of relation per geometry arg
        self.arg_cols = arg_cols
        self.extra = extra          # [distance] or [k, use_spheroid]
        # comparison-form conjuncts (ST_Distance(a,b) < d) drive the join
        # via the dwithin operator but must ALSO survive verbatim as an
        # exact refine over the join output (strict-vs-inclusive boundary
        # and the dwithin kernel's 1e-12 tolerance both stay exact)
        self.keep_refine = False
        # column-valued distance (reference DistancePredicate
        # distance_side, rust/sedona-expr/src/spatial_predicate.rs:44-99):
        # (alias, col) of the per-row radius; the join's candidate cut
        # uses the column's MAX and the original conjunct survives as the
        # exact per-row refine (keep_refine forced on)
        self.dist_col: tuple[str, str] | None = None
        # RS_Pred(raster, geometry): arg0 is a raster struct column;
        # the join materializes its footprint (RS_Envelope) and routes
        # as an ordinary spatial join — exact by definition, since the
        # engine defines RS_Pred(r, g) = ST_Pred(RS_Envelope(r), g)
        self.raster0 = False


def _qualified_ref(toks, lo, hi, aliases, schemas):
    """Span is exactly one geometry reference -> (alias, col) or None."""
    span = toks[lo:hi]
    if len(span) == 3 and span[1] == "." and _is_ident(span[0]) and _is_ident(span[2]):
        a = _unquote(span[0])
        if a in aliases:
            return a, _unquote(span[2])
        return None
    if len(span) == 1 and _is_ident(span[0]):
        col = _unquote(span[0])
        owners = [a for a in aliases if col in schemas[a]]
        if len(owners) == 1:
            return owners[0], col
        return None
    return None


def _literal_number(toks, lo, hi):
    span = toks[lo:hi]
    if len(span) == 1 and re.fullmatch(r"[\d.eE+-]+", span[0]):
        try:
            return float(span[0])
        except ValueError:
            return None
    if len(span) == 2 and span[0] == "-":
        v = _literal_number(toks, lo + 1, hi)
        return -v if v is not None else None
    return None


def _parse_distance_comparison(toks, lo, hi, aliases, schemas):
    """``ST_Distance(g1, g2) < d`` / ``<= d`` and the reversed
    ``d > ST_Distance(g1, g2)`` / ``>= ...`` forms — the reference
    accepts exactly these as distance-join predicates
    (sedona-expr/src/utils.rs parse_distance_predicate; Lt/LtEq with the
    call on either side).  Returns a dwithin _SpatialConjunct with
    ``keep_refine`` set, or None."""
    depth = 0
    for j in range(lo, hi):
        t = toks[j]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t in ("<", "<=", ">", ">="):
            if t in ("<", "<="):
                fn_lo, fn_hi, num_lo, num_hi = lo, j, j + 1, hi
            else:
                fn_lo, fn_hi, num_lo, num_hi = j + 1, hi, lo, j
            if (fn_hi - fn_lo < 4 or toks[fn_lo].upper() != "ST_DISTANCE"
                    or toks[fn_lo + 1] != "(" or toks[fn_hi - 1] != ")"):
                return None
            dist = _literal_number(toks, num_lo, num_hi)
            dref = None
            if dist is None or dist < 0:
                # column-valued bound: ST_Distance(a.g, b.g) < a.radius
                # (reference distance_side, spatial_predicate.rs:44-99)
                dref = _qualified_ref(toks, num_lo, num_hi,
                                      aliases, schemas)
                if dref is None or dref[1] not in schemas[dref[0]]:
                    return None
            args = _split_args(toks, fn_lo + 2, fn_hi - 1)
            if args is None or len(args) != 2:
                return None
            ref_a = _qualified_ref(toks, args[0][0], args[0][1],
                                   aliases, schemas)
            ref_b = _qualified_ref(toks, args[1][0], args[1][1],
                                   aliases, schemas)
            if ref_a is None or ref_b is None:
                return None
            (ra, ca), (rb, cb) = ref_a, ref_b
            if ra == rb:
                return None
            sc = _SpatialConjunct("dwithin", None, [ra, rb], [ca, cb],
                                  [dist])
            sc.dist_col = dref
            sc.keep_refine = True
            return sc
    return None


def _parse_spatial_conjunct(toks, lo, hi, aliases, schemas):
    """Parse toks[lo:hi] as ST_Pred(...) over the two join relations.
    Returns _SpatialConjunct or None (not spatial)."""
    if hi - lo < 4 or toks[lo + 1] != "(" or toks[hi - 1] != ")":
        return _parse_distance_comparison(toks, lo, hi, aliases, schemas)
    fname = toks[lo].upper()
    if (fname not in _PRED_NAMES and fname not in _RS_PRED_NAMES
            and fname not in ("ST_DWITHIN", "ST_KNN")):
        return _parse_distance_comparison(toks, lo, hi, aliases, schemas)
    # split args on top-level commas inside the call
    d = 0
    args = []
    start = lo + 2
    for j in range(lo + 2, hi - 1):
        t = toks[j]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and t == ",":
            args.append((start, j))
            start = j + 1
    args.append((start, hi - 1))
    if d != 0:
        raise _Decline

    def geo(idx):
        ref = _qualified_ref(toks, args[idx][0], args[idx][1], aliases, schemas)
        if ref is None:
            raise _Decline
        return ref

    if fname in _PRED_NAMES:
        if len(args) != 2:
            raise _Decline
        (ra, ca), (rb, cb) = geo(0), geo(1)
        if ra == rb:
            raise _Decline
        return _SpatialConjunct("relation", _PRED_NAMES[fname],
                                [ra, rb], [ca, cb], [])
    if fname in _RS_PRED_NAMES:
        # RS_Pred(raster, geometry): arg0 is the raster side
        if len(args) != 2:
            raise _Decline
        (ra, ca), (rb, cb) = geo(0), geo(1)
        if ra == rb:
            raise _Decline
        sc = _SpatialConjunct("relation", _RS_PRED_NAMES[fname],
                              [ra, rb], [ca, cb], [])
        sc.raster0 = True
        return sc
    if fname == "ST_DWITHIN":
        if len(args) != 3:
            raise _Decline
        (ra, ca), (rb, cb) = geo(0), geo(1)
        if ra == rb:
            raise _Decline
        dist = _literal_number(toks, args[2][0], args[2][1])
        if dist is not None:
            return _SpatialConjunct("dwithin", None, [ra, rb], [ca, cb],
                                    [dist])
        # column-valued radius: ST_DWithin(a.g, b.g, a.radius) — the
        # reference's distance_side handling
        # (rust/sedona-expr/src/spatial_predicate.rs:44-99).  The
        # radius must live on exactly ONE side; an expression mixing
        # both sides has no single owning relation to max over ->
        # decline to vanilla.
        dref = _qualified_ref(toks, args[2][0], args[2][1],
                              aliases, schemas)
        if dref is None or dref[1] not in schemas[dref[0]]:
            raise _Decline
        sc = _SpatialConjunct("dwithin", None, [ra, rb], [ca, cb], [None])
        sc.dist_col = dref
        sc.keep_refine = True     # original conjunct = exact per-row refine
        return sc
    # ST_KNN(q, o, k, use_spheroid)
    if len(args) != 4:
        raise _Decline
    (ra, ca), (rb, cb) = geo(0), geo(1)
    k = _literal_number(toks, args[2][0], args[2][1])
    sph_span = toks[args[3][0]:args[3][1]]
    if (ra == rb or k is None or k != int(k) or k <= 0
            or len(sph_span) != 1
            or sph_span[0].upper() not in ("TRUE", "FALSE")):
        raise _Decline
    return _SpatialConjunct("knn", None, [ra, rb], [ca, cb],
                            [int(k), sph_span[0].upper() == "TRUE"])


def _refs_relations(toks, lo, hi, aliases, schemas) -> set[str]:
    """Which of the two join relations does toks[lo:hi] reference?"""
    out = set()
    j = lo
    while j < hi:
        t = toks[j]
        if _is_ident(t):
            a = _unquote(t)
            if a in aliases and j + 2 < hi and toks[j + 1] == ".":
                out.add(a)
                j += 3
                continue
            is_fn_call = j + 1 < hi and toks[j + 1] == "("
            if not is_fn_call and t.upper() not in _NOT_ALIAS:
                col = _unquote(t)
                owners = [al for al in aliases if col in schemas[al]]
                if len(owners) == 1:
                    out.add(owners[0])
        j += 1
    return out


def _is_equi_conjunct(toks, lo, hi, aliases, schemas) -> bool:
    """x = y with x and y from different join sides (reference declines
    the spatial rewrite then — optimizer.rs:253-257)."""
    d = 0
    for j in range(lo, hi):
        t = toks[j]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and t == "=":
            lhs = _refs_relations(toks, lo, j, aliases, schemas)
            rhs = _refs_relations(toks, j + 1, hi, aliases, schemas)
            if lhs and rhs and lhs != rhs:
                return True
    return False


# ----------------------------------------------------------------------
# the rewrite
# ----------------------------------------------------------------------

def _join_view_name(key) -> str:
    """Temp-view name of a rewrite's join, from its memo key (query text,
    plan confs, plan key): a memo hit replays the view built for exactly
    those relations, never a join rebuilt under another version."""
    return "__sedona_sql_join_" + hashlib.sha1(
        repr(key).encode()).hexdigest()[:12]


class _Match:
    pass


def _find_match(toks, depths, spark, vanilla_sql):
    """Find the first rewritable FROM clause; returns a _Match or raises
    _Decline."""
    n = len(toks)
    for i in range(n):
        if toks[i].upper() != "FROM":
            continue
        d = depths[i]
        try:
            rel1, j = _parse_rel(toks, i + 1)
        except _Decline:
            continue
        how = None
        comma_form = False
        if j < n and toks[j] == ",":
            how, comma_form = "inner", True
            j += 1
        elif j < n and toks[j].upper() == "JOIN":
            how = "inner"
            j += 1
        elif j + 1 < n and toks[j].upper() == "INNER" and toks[j + 1].upper() == "JOIN":
            how = "inner"
            j += 2
        elif j + 1 < n and toks[j].upper() == "CROSS" and toks[j + 1].upper() == "JOIN":
            how, comma_form = "inner", True
            j += 2
        elif j + 1 < n and toks[j].upper() == "LEFT" and toks[j + 1].upper() == "JOIN":
            how = "left"
            j += 2
        elif (j + 2 < n and toks[j].upper() == "LEFT"
              and toks[j + 1].upper() == "OUTER" and toks[j + 2].upper() == "JOIN"):
            how = "left"
            j += 3
        # full join-type lattice (reference SpatialJoinExec supports
        # Left/Right/Full/LeftSemi/LeftAnti/RightSemi/RightAnti,
        # rust/sedona-spatial-join/src/exec.rs:235-240)
        elif j + 1 < n and toks[j].upper() == "RIGHT" and toks[j + 1].upper() == "JOIN":
            how = "right"
            j += 2
        elif (j + 2 < n and toks[j].upper() == "RIGHT"
              and toks[j + 1].upper() == "OUTER" and toks[j + 2].upper() == "JOIN"):
            how = "right"
            j += 3
        elif j + 1 < n and toks[j].upper() == "FULL" and toks[j + 1].upper() == "JOIN":
            how = "full"
            j += 2
        elif (j + 2 < n and toks[j].upper() == "FULL"
              and toks[j + 1].upper() == "OUTER" and toks[j + 2].upper() == "JOIN"):
            how = "full"
            j += 3
        elif (j + 2 < n and toks[j].upper() == "LEFT"
              and toks[j + 1].upper() == "SEMI" and toks[j + 2].upper() == "JOIN"):
            how = "left_semi"
            j += 3
        elif j + 1 < n and toks[j].upper() == "SEMI" and toks[j + 1].upper() == "JOIN":
            how = "left_semi"
            j += 2
        elif (j + 2 < n and toks[j].upper() == "LEFT"
              and toks[j + 1].upper() == "ANTI" and toks[j + 2].upper() == "JOIN"):
            how = "left_anti"
            j += 3
        elif j + 1 < n and toks[j].upper() == "ANTI" and toks[j + 1].upper() == "JOIN":
            how = "left_anti"
            j += 2
        else:
            continue
        try:
            rel2, j = _parse_rel(toks, j)
        except _Decline:
            continue
        if rel1.alias == rel2.alias:
            continue

        m = _Match()
        m.rel1, m.rel2, m.how, m.comma_form = rel1, rel2, how, comma_form
        m.from_idx, m.depth = i, d

        if comma_form:
            # conjuncts live in the WHERE clause of this block
            if not (j < n and depths[j] == d and toks[j].upper() == "WHERE"):
                continue
            m.join_end = j          # FROM span ends before WHERE
            cond_lo = j + 1
        else:
            if not (j < n and toks[j].upper() == "ON"):
                continue
            cond_lo = j + 1
        # condition extends to next block keyword at depth d (or a
        # further JOIN -> decline: single-join shapes only)
        k = cond_lo
        while k < n and depths[k] >= d:
            if depths[k] == d:
                u = toks[k].upper()
                if u in _BLOCK_END and not comma_form:
                    break
                if comma_form and u in (_BLOCK_END - {"WHERE"}):
                    break
                if u in _JOIN_WORDS or u == ",":
                    raise _Decline   # multi-join FROM clause
            k += 1
        m.cond_lo, m.cond_hi = cond_lo, k
        if not comma_form:
            m.join_end = k
        return m
    raise _Decline


def _resolve_df(spark, vanilla_sql, rel: _Rel) -> DataFrame:
    # a name the catalog does not hold (a CTE, an outer reference) is a
    # shape the matcher does not cover, not a rewrite fault
    try:
        if rel.is_subquery:
            return vanilla_sql(rel.text)
        df = spark.table(rel.text)
    except AnalysisException:
        raise _Decline
    # A bucketed layout table stores one PHYSICAL copy per covering grid
    # cell; inside the rewrite a bare reference always means the LOGICAL
    # rows (r10 advisor: a query that fell off the cell route — extra
    # conjunct, geometry mismatch — must not silently change row
    # multiplicity vs the routed form).  The cell route itself reads the
    # stored cells by TABLE NAME, so this never slows the routed path.
    try:
        from sedona_db_spark.operators.spatial_join import (
            layout_original, read_layout_meta)
        if read_layout_meta(spark, rel.text) is not None:
            return layout_original(spark, rel.text)
    except Exception:
        pass
    return df


def _map_alias_refs(span, aliases, out_name, prefix="") -> list[str]:
    """Rewrite ``alias.col`` references to ``aliases`` within a token
    span onto the join view's column names (``prefix`` qualifies them)."""
    res, i = [], 0
    while i < len(span):
        t = span[i]
        if (_is_ident(t) and _unquote(t) in aliases and i + 2 < len(span)
                and span[i + 1] == "." and _is_ident(span[i + 2])):
            col = out_name(_unquote(t), _unquote(span[i + 2]))
            res.append(f"{prefix}`{col}`")
            i += 3
            continue
        res.append(t)
        i += 1
    return res


def _run_over_view(joined, vname, out, vanilla_sql) -> DataFrame:
    """Register ``joined`` as ``vname`` and run the rebuilt query tokens
    ``out`` over it, tagged with their text for the rewrite memo."""
    joined.createOrReplaceTempView(vname)
    rewritten = _render(out)
    result = vanilla_sql(rewritten)
    result._sedona_rewritten_sql = rewritten
    return result


def try_rewrite(spark: SparkSession, sql: str, vanilla_sql,
                vname: str) -> DataFrame | None:
    """Attempt the spatial-join rewrite, registering the join under the
    temp view ``vname``; None means 'use vanilla'."""
    if not _PRECHECK.search(sql):
        return None
    toks = _tokenize(sql)
    if toks is None:
        return None
    try:
        return _rewrite(spark, sql, toks, vanilla_sql, vname)
    except _Decline:
        pass
    try:
        return _rewrite_exists(spark, sql, toks, vanilla_sql, vname)
    except _Decline:
        pass
    try:
        return _rewrite_chain(spark, sql, toks, vanilla_sql, vname)
    except _Decline:
        return None


def _rewrite(spark, sql, toks, vanilla_sql, vname):
    depths = _depths(toks)
    m = _find_match(toks, depths, spark, vanilla_sql)

    ldf = _resolve_df(spark, vanilla_sql, m.rel1)
    rdf = _resolve_df(spark, vanilla_sql, m.rel2)
    aliases = (m.rel1.alias, m.rel2.alias)

    # column pruning through the rewrite boundary: the join view would
    # otherwise drag every source column through the operator's Arrow/
    # python stages (any SQL column reference appears as its literal
    # identifier token, so keeping every mentioned name is safe).
    # `SELECT *` keeps both sides whole, `alias.*` keeps that side whole;
    # `count(*)`-style stars (token directly after "(") don't block.
    star_sides = set()
    for i, t in enumerate(toks):
        if t != "*" or (i > 0 and toks[i - 1] == "("):
            continue
        if i > 0 and toks[i - 1] == "." and i >= 2 and _is_ident(toks[i - 2]):
            star_sides.add(_unquote(toks[i - 2]))
        else:
            star_sides.update(aliases)
    mentioned = {_unquote(t) for t in toks if _is_ident(t)}
    ldf_full, rdf_full = ldf, rdf
    if m.rel1.alias not in star_sides:
        ldf = ldf.select([c for c in ldf.columns if c in mentioned])
    if m.rel2.alias not in star_sides:
        rdf = rdf.select([c for c in rdf.columns if c in mentioned])
    schemas = {m.rel1.alias: set(ldf.columns),
               m.rel2.alias: set(rdf.columns)}

    conjuncts = _split_conjuncts(toks, m.cond_lo, m.cond_hi)
    spatial = None
    spatial_span = None
    rest = []
    spatials = []
    for (lo, hi) in conjuncts:
        span = (lo + 1, hi - 1) if (
            toks[lo] == "(" and toks[hi - 1] == ")"
            and min(depths[lo + 1:hi - 1] or [0]) > depths[lo]) else (lo, hi)
        sc = _parse_spatial_conjunct(toks, span[0], span[1], aliases, schemas)
        if sc is not None:
            spatials.append((sc, (lo, hi)))
        else:
            if _is_equi_conjunct(toks, span[0], span[1], aliases, schemas):
                raise _Decline       # equi-key present: hash join wins
            rest.append((lo, hi))
    if not spatials:
        raise _Decline
    # For non-inner modes, every conjunct beyond the candidate-
    # generating one must be applied INSIDE the inner core before the
    # lattice bookkeeping (a refine only ever shrinks the inner result,
    # so match tracking is unchanged — applying it as an outer WHERE
    # would instead drop padded LEFT rows / flip anti verdicts).
    inner_refines: list[tuple[int, int]] = []
    if len(spatials) == 1:
        spatial, spatial_span = spatials[0]
    else:
        # two+ spatial predicates (e.g. ST_Intersects(a,b) AND
        # ST_DWithin(a,b,d)): one becomes the candidate-generating
        # join, the others ride as exact per-row refines (the SAME
        # dispatched kernels vanilla evaluates, so boundary semantics
        # are unchanged; conjunction only ever shrinks the chosen
        # join's result).  Inner joins put the refines in the rebuilt
        # WHERE; the rest of the lattice (round 10) filters the inner
        # core before row-id bookkeeping.  KNN is not a row filter, so
        # any KNN conjunct declines.
        if any(sc.kind == "knn" for sc, _ in spatials):
            raise _Decline

        def _rank(sc):
            # prefer the cheapest candidate cut: plain relation bbox,
            # then literal-radius dwithin, then column-radius/
            # comparison forms (those add an eager MAX agg)
            if sc.kind == "relation" and not sc.keep_refine:
                return 0
            if sc.kind == "dwithin" and sc.dist_col is None \
                    and not sc.keep_refine:
                return 1
            return 2
        spatials.sort(key=lambda p: _rank(p[0]))
        spatial, spatial_span = spatials[0]
        if not m.comma_form:
            # ON-clause extras -> surviving WHERE conjuncts (inner) or
            # inner-core refines (lattice); in comma form they already
            # sit in the WHERE text and stay there
            if m.how == "inner":
                rest.extend(sp for _sc, sp in spatials[1:])
            else:
                inner_refines.extend(sp for _sc, sp in spatials[1:])
    if spatial.keep_refine:
        # comparison form: the exact refine survives as a WHERE
        # conjunct (inner) or filters the inner core (lattice modes —
        # an outer WHERE would break LEFT/anti match semantics)
        if not m.comma_form:
            if m.how == "inner":
                rest.append(spatial_span)
            else:
                inner_refines.append(spatial_span)
        elif m.how != "inner":       # comma form is always inner
            raise _Decline
    if m.how != "inner" and not m.comma_form and rest:
        # extra non-spatial ON conjuncts likewise refine the inner core
        # (round 10; previously a blanket decline that left vanilla
        # ERRORING on any outer/semi/anti python-UDF join)
        inner_refines.extend(rest)
        rest = []
    if spatial.kind == "knn" and m.how != "inner":
        raise _Decline

    # geometry columns must exist on their relations
    for a, c in zip(spatial.arg_rels, spatial.arg_cols):
        if c not in schemas[a]:
            raise _Decline

    # -------- certified shadow coordinates (round 12) ----------------
    # When a side's geometry argument is a shadow-certified point
    # column of a NAMED relation (certify_point_view /
    # certify_point_table), keep the shadow doubles through pruning and
    # thread them into the operator: that side's bbox pruning column
    # and the codegen dwithin refine come straight from the stored
    # doubles (no Python bbox pass), refine conjuncts substitute them
    # via _subst_certified_calls, and — when nothing else references
    # the geometry — its ST_Point constructor prunes out of the plan
    # entirely.
    geom_by_alias = {a: c for a, c in zip(spatial.arg_rels,
                                          spatial.arg_cols)}
    rel_by_alias = {m.rel1.alias: m.rel1, m.rel2.alias: m.rel2}
    df_by_alias = {m.rel1.alias: ldf, m.rel2.alias: rdf}
    full_by_alias = {m.rel1.alias: ldf_full, m.rel2.alias: rdf_full}
    shadows: dict[str, dict[str, tuple]] = {}
    for a in aliases:
        gcol = geom_by_alias.get(a)
        rel = rel_by_alias.get(a)
        if gcol is None or rel is None:
            continue
        # a bare `SELECT * FROM <name> [WHERE ...]` subquery keeps the
        # base relation's certificate: the shadow invariant is per-row
        # (bit-equal doubles, matched NULLs), so any row FILTER
        # preserves it and `*` preserves the columns; any other
        # projection shape declines (column identity not tracked)
        tbl = (_subquery_shadow_base(rel.text) if rel.is_subquery
               else rel.text)
        if tbl is None:
            continue
        try:
            xy = _relation_shadow(spark, tbl, gcol)
        except Exception:
            xy = None
        full_cols = full_by_alias[a].columns
        if not xy or xy[0] not in full_cols or xy[1] not in full_cols:
            continue
        cur = df_by_alias[a]
        if any(c not in cur.columns for c in xy):
            keep = set(cur.columns) | set(xy)
            df_by_alias[a] = full_by_alias[a].select(
                [c for c in full_cols if c in keep])
        shadows[a] = {gcol: tuple(xy)}
    if shadows:
        ldf = df_by_alias[m.rel1.alias]
        rdf = df_by_alias[m.rel2.alias]
        schemas = {m.rel1.alias: set(ldf.columns),
                   m.rel2.alias: set(rdf.columns)}

    # -------- column disambiguation (right side renamed on collision)
    lcols = list(ldf.columns)
    collide = set(lcols) & set(rdf.columns)
    rmap = {c: (f"{m.rel2.alias}__{c}" if c in collide else c)
            for c in rdf.columns}
    if any(v in lcols for c, v in rmap.items() if v != c):
        raise _Decline               # pathological rename collision
    from pyspark.sql import functions as F
    rdf_r = rdf.select([F.col(c).alias(a) for c, a in rmap.items()])

    def out_name(alias, col):
        if alias == m.rel1.alias:
            return col
        return rmap.get(col, col)

    g1 = geom_by_alias.get(m.rel1.alias)
    g2_src = geom_by_alias.get(m.rel2.alias)
    g2 = rmap.get(g2_src, g2_src)

    # shadow tuples resolved onto the operator-side column names
    sxy1 = shadows.get(m.rel1.alias, {}).get(g1)
    sxy2 = shadows.get(m.rel2.alias, {}).get(g2_src)
    if sxy2 is not None:
        sxy2 = (rmap.get(sxy2[0], sxy2[0]), rmap.get(sxy2[1], sxy2[1]))

    def _map_span(lo, hi):
        """_map_alias_refs over a conjunct span, with certified-scalar calls
        substituted by native shadow arithmetic first (round 12)."""
        seg = toks[lo:hi]
        if shadows:
            sub = _subst_certified_calls(seg, shadows, aliases, schemas)
            if sub is not None:
                seg = sub
        return _map_alias_refs(seg, aliases, out_name)

    if spatial.dist_col is not None:
        da, dc = spatial.dist_col
        spatial.dist_col_resolved = (da, out_name(da, dc))

    if inner_refines and m.how != "inner":
        # lattice modes with extra conjuncts (round 10): build the
        # candidate join as INNER, filter it with the exact per-row
        # conjuncts (mapped onto the view's output names), then derive
        # the requested mode from row-id match tracking — semantically
        # `ON (c1 AND c2 AND ...)`, because the refined inner result IS
        # the true match set and a refine only ever shrinks it.
        import copy
        m_inner = copy.copy(m)
        m_inner.how = "inner"
        refine_sql = " AND ".join(
            "( " + _render(_map_span(lo, hi)) + " )"
            for lo, hi in inner_refines)

        def _refined_inner(l2, r2):
            return _build_join(spark, m_inner, spatial, l2, r2, g1, g2,
                               sxy1=sxy1, sxy2=sxy2) \
                .filter(F.expr(refine_sql))

        # shadow-certified geometries stay out of the lattice content
        # hash (bit-determined by their shadow doubles), so the
        # constructor prunes from the id-only branches
        joined = _lattice(ldf, rdf_r, m.how, _refined_inner,
                          l_exclude=(g1,) if sxy1 else (),
                          r_exclude=(g2,) if sxy2 else ())
    else:
        joined = _build_join(spark, m, spatial, ldf, rdf_r, g1, g2,
                             sxy1=sxy1, sxy2=sxy2)

    # -------- rebuild the query text over the join view: the FROM span
    # [from_idx, join_end) becomes the view; in comma form the spatial
    # conjunct becomes TRUE inside the surviving WHERE
    out = []
    i = 0
    n = len(toks)
    while i < n:
        if i == m.from_idx:
            out.append("FROM")
            out.append(vname)
            if not m.comma_form and rest:
                # surviving ON conjuncts -> WHERE conjuncts (inner join:
                # identical semantics)
                parts = []
                for (lo, hi) in rest:
                    parts.append("( " + _render(_map_span(lo, hi)) + " )")
                nxt = m.join_end
                if nxt < n and toks[nxt].upper() == "WHERE":
                    out.extend(["WHERE", " AND ".join(parts), "AND"])
                    i = nxt + 1
                    continue
                out.extend(["WHERE", " AND ".join(parts)])
            i = m.join_end
            continue
        if (m.comma_form and not spatial.keep_refine
                and spatial_span[0] <= i < spatial_span[1]):
            if i == spatial_span[0]:
                out.append("TRUE")
            i += 1
            continue
        t = toks[i]
        if _is_ident(t) and _unquote(t) in aliases and i + 1 < n and toks[i + 1] == ".":
            a = _unquote(t)
            if i + 2 < n and toks[i + 2] == "*":
                src = lcols if a == m.rel1.alias else list(rmap.values())
                out.append(" , ".join(f"`{c}`" for c in src))
                i += 3
                continue
            if i + 2 < n and _is_ident(toks[i + 2]):
                out.append(f"`{out_name(a, _unquote(toks[i + 2]))}`")
                i += 3
                continue
        out.append(t)
        i += 1

    return _run_over_view(joined, vname, out, vanilla_sql)


def _probe_geography(df, col, n=64):
    """(tagged_count, probed_count) over the first n non-null geometries.
    The engine's geography values carry their edge tag in the VALUE
    (same-name dispatch), so plan-time routing can only probe — the
    planar operator's bbox stage re-checks every row and fails loud if
    tagged values hide past the probe depth."""
    from sedona_db_spark.operators.spatial_join import _wkb_is_geography
    vals = [r[0] for r in df.select(col).limit(n).collect()
            if r[0] is not None]
    return sum(1 for v in vals if _wkb_is_geography(v)), len(vals)


def _plan_conf_fingerprint(spark) -> str:
    """Plan-affecting session options, folded into the rewrite memo key
    (a memo entry built under one setting must never serve a query run
    under another)."""
    try:
        return "|ties=" + str(spark.conf.get(
            "spark.sedona_db.spatial_join.knn_include_tie_breakers",
            "false")).lower()
    except Exception:
        return "|ties=false"


def _probe_geog_points(df, col, n=64) -> bool:
    """True when the first n non-null geography values are 2-D points
    (tagged point WKB is exactly 21 bytes).  Plan choice only: the
    point route's extraction kernel re-checks every row and fails loud
    if a non-point hides past the probe."""
    vals = [r[0] for r in df.select(col).limit(n).collect()
            if r[0] is not None]
    return all(len(v) == 21 for v in vals)


def _lattice(ldf, rdf_r, how, inner_fn, l_exclude: tuple = (),
             r_exclude: tuple = ()) -> DataFrame:
    """Join mode ``how`` from the inner-join builder ``inner_fn`` over
    content-id-tagged sides (operators.spatial_join.join_mode_from_inner).
    ``rdf_r`` columns are already collision-renamed by the caller, so
    ids never clash."""
    from sedona_db_spark.operators.spatial_join import (join_mode_from_inner,
                                                        tag_row_ids)
    l2, lids, r2, rids = tag_row_ids(how, ldf, rdf_r, "__lat",
                                     l_exclude, r_exclude)
    return join_mode_from_inner(how, inner_fn(l2, r2), l2, lids, r2, rids)


def _build_geography_dwithin(spark, ldf, rdf_r, g1, g2, dist) -> DataFrame:
    """Geography ST_DWithin join: extract point lon/lat (raising loud on
    non-point or untagged rows — the route is only certified for
    uniformly tagged points), run the native grid-partitioned
    great-circle join with a hair of slack, then refine with the SAME
    dispatched ST_DWithin kernel vanilla SQL would run — bit-identical
    boundary semantics by construction.  Reference parity: the dedicated
    geography join planner registered after the default spatial planner
    (rust/sedona-spatial-join-geography, context.rs:163-172)."""
    from pyspark.sql import functions as F

    from sedona_db_spark.functions import get_udf
    from sedona_db_spark.operators.geography_join import \
        geography_dwithin_join
    from sedona_db_spark.operators.spatial_join import geog_point_xy_col

    l2 = ldf.withColumn("__gxy", geog_point_xy_col(F.col(g1))) \
            .withColumn("__llon", F.col("__gxy.lon")) \
            .withColumn("__llat", F.col("__gxy.lat")).drop("__gxy")
    r2 = rdf_r.withColumn("__gxy", geog_point_xy_col(F.col(g2))) \
              .withColumn("__rlon", F.col("__gxy.lon")) \
              .withColumn("__rlat", F.col("__gxy.lat")).drop("__gxy")
    # build on the (estimated) smaller side; slack keeps the operator cut
    # a superset of the kernel's boundary before the exact refine
    from sedona_db_spark.plans.width import planned_size_bytes
    slack = float(dist) * (1.0 + 1e-9) + 1e-6
    sl, sr = planned_size_bytes(l2), planned_size_bytes(r2)
    if sl is not None and sr is not None and sl < sr:
        out = geography_dwithin_join(l2, r2, slack,
                                     build_lon="__llon", build_lat="__llat",
                                     probe_lon="__rlon", probe_lat="__rlat")
    else:
        out = geography_dwithin_join(r2, l2, slack,
                                     build_lon="__rlon", build_lat="__rlat",
                                     probe_lon="__llon", probe_lat="__llat")
    dw = get_udf("ST_DWithin")
    out = out.filter(dw(F.col(g1), F.col(g2), F.lit(float(dist))))
    return out.select(list(ldf.columns) + list(rdf_r.columns))


def _max_radius(m, spatial, ldf, rdf_r) -> float:
    """Exact MAX of a column-valued radius (shared by the planar and
    geography column-radius paths — ADVICE r9 #4): ONE pushdown-friendly
    agg job; parquet column stats usually make it metadata-only for raw
    columns.  Runs eagerly at plan time and is deliberately NOT
    memoized on the plan hash: a stale (lower) MAX under changed data
    would undercut the candidate expansion and silently drop pairs —
    unlike the memoized grid edges, which are balance-only.  All-NULL /
    empty radius returns 0.0: candidates at touch-only expansion, then
    the exact refine drops every row (NULL never satisfies the
    predicate) — correct empty result."""
    from pyspark.sql import functions as F
    da, dcn = spatial.dist_col_resolved
    side = ldf if da == m.rel1.alias else rdf_r
    mx = side.agg(F.max(F.col(dcn).cast("double"))).first()[0]
    d = float(mx) if mx is not None else 0.0
    return d if d > 0.0 else 0.0


def _try_layout_route(spark, m, spatial, ldf, rdf_r, g1, g2):
    """Auto-route a certified spatial join onto a persisted bucketed
    layout (round 10, r9 verdict #4): when one side is a BARE catalog
    table written by write_bucketed_layout and the join's geometry
    argument for that side IS the layout geometry, the join reads the
    STORED cells via spatial_join_bucketed — no per-query Python bbox
    pass over that side and no exchange above its scan.  Returns None
    (caller keeps the grid path) on: subqueries, KNN/comparison-form/
    column-radius shapes, geometry mismatch, _LAYOUT_COLS referenced in
    the query, column collisions the bucketed operator would prefix
    differently than the rebuilt SQL expects, a right-side layout in a
    non-inner mode (the bucketed lattice is left-anchored), or when the
    caller is a lattice inner-builder carrying row-id columns.

    Semantics note: a DIRECT (vanilla) scan of a layout table exposes
    its per-cell physical copies — layout_original() is the logical
    view for those; this route interprets the table logically inside
    the certified spatial-join shapes, matching spatial_join's row
    multiplicity exactly (home-cell / reference-cell dedup)."""
    from sedona_db_spark.operators.spatial_join import (
        _LAYOUT_COLS, read_layout_meta, spatial_join_bucketed)
    if spatial.kind == "knn" or spatial.keep_refine \
            or spatial.dist_col is not None or spatial.raster0:
        return None
    if any(c.startswith("__lat_") for c in
           list(ldf.columns) + list(rdf_r.columns)):
        return None                  # lattice builder: ids must survive
    if spatial.kind == "relation":
        pred, dist = spatial.predicate, None
    elif spatial.kind == "dwithin":
        pred, dist = "intersects", float(spatial.extra[0])
    else:
        return None

    def meta_of(rel):
        if rel.is_subquery:
            return None
        try:
            return read_layout_meta(spark, rel.text)
        except Exception:
            return None

    first_is_left = spatial.arg_rels[0] == m.rel1.alias
    lay = set(_LAYOUT_COLS)
    m1 = meta_of(m.rel1)
    m2 = meta_of(m.rel2)
    if m1 is not None and m1.get("geom") == g1:
        lt_cols = set(spark.table(m.rel1.text).columns)
        if m2 is not None:
            # BOTH sides are layouts: the right side must be passed as
            # its TABLE NAME so the bucketed operator reads its stored
            # cells (same grid -> zero-exchange SMJ) — passing rdf_r
            # would feed the PHYSICAL per-cell copies as rows and
            # duplicate pairs for multi-cell geometries.  Requires the
            # rewrite to have renamed nothing and a clean column split.
            rt_cols = set(spark.table(m.rel2.text).columns)
            ok = (g2 == m2.get("geom")
                  and set(rdf_r.columns) <= rt_cols
                  and not (set(rdf_r.columns) & lay)
                  and not ((rt_cols - lay) & (lt_cols - lay)))
            if ok and not (set(ldf.columns) & lay):
                p = pred if (first_is_left or dist is not None) \
                    else _TRANSPOSE.get(pred)
                if p is not None:
                    return spatial_join_bucketed(
                        spark, m.rel1.text, m.rel2.text,
                        predicate=p, distance=dist, how=m.how)
            return None
        if not (set(rdf_r.columns) & lt_cols) \
                and not (set(ldf.columns) & lay):
            if first_is_left or dist is not None:
                p = pred
            else:
                p = _TRANSPOSE.get(pred)
            if p is not None:
                return spatial_join_bucketed(
                    spark, m.rel1.text, rdf_r, right_geom=g2,
                    predicate=p, distance=dist, how=m.how)
    if m2 is not None and g2 == m2.get("geom"):
        # right-side layout: only when the rewrite renamed nothing
        # (else the rebuilt text references names the layout join
        # cannot produce) and nothing would be right_-prefixed.
        # The bucketed operator is left-anchored, so the query's join
        # type is MIRRORED (query-left LEFT JOIN layout == bucketed
        # RIGHT join preserving the non-layout side) — r10 verdict #4:
        # LEFT/SEMI/ANTI over a layout table also skip the per-query
        # grid pass now.
        how_m = _MIRROR_HOW.get(m.how)
        rt_cols = set(spark.table(m.rel2.text).columns)
        if how_m is not None and set(rdf_r.columns) <= rt_cols \
                and not (set(rdf_r.columns) & lay) \
                and not (set(ldf.columns) & rt_cols):
            if (not first_is_left) or dist is not None:
                p = pred
            else:
                p = _TRANSPOSE.get(pred)
            if p is not None:
                return spatial_join_bucketed(
                    spark, m.rel2.text, ldf, right_geom=g1,
                    predicate=p, distance=dist, how=how_m)
    return None


def _build_join(spark, m, spatial, ldf, rdf_r, g1, g2,
                sxy1: tuple | None = None,
                sxy2: tuple | None = None) -> DataFrame:
    """Route the matched shape into the engine's join operators.
    ``sxy1``/``sxy2``: certified shadow coordinate column names for the
    two geometry arguments (resolved onto ldf / rdf_r), threaded into
    the planar operator so the certified side's bbox pruning column is
    pure codegen (see spatial_join left_xy/right_xy)."""
    from sedona_db_spark.operators.knn_join import knn_join
    from sedona_db_spark.operators.spatial_join import spatial_join

    # raster-vs-geometry join (reference eligibility,
    # spatial_predicate.rs:203-205): materialize the footprint polygon
    # on the raster side and join it as ordinary geometry — placed
    # BEFORE the geography probe (raster columns are structs, never
    # geography-tagged WKB).
    if spatial.raster0:
        from pyspark.sql import functions as F
        pred = spatial.predicate
        fp = "__rs_fp"
        if spatial.arg_rels[0] == m.rel1.alias:
            l2 = ldf.withColumn(fp, F.expr(f"RS_Envelope(`{g1}`)"))
            out = spatial_join(l2, rdf_r, left_geom=fp, right_geom=g2,
                               predicate=pred, how=m.how)
        else:
            p2 = _TRANSPOSE.get(pred)
            if p2 is None:
                raise _Decline
            r2 = rdf_r.withColumn(fp, F.expr(f"RS_Envelope(`{g2}`)"))
            out = spatial_join(ldf, r2, left_geom=g1, right_geom=fp,
                               predicate=p2, how=m.how)
        return out.drop(fp)

    # geography values (in-band edge tags) make the planar operators
    # numerically wrong: probe and route.  Uniformly tagged sides get
    # native geography joins — across the whole join-type lattice via
    # the same inner-core + row-id bookkeeping the planar operator uses
    # (vanilla cannot plan ANY outer/semi/anti over a UDF predicate, so
    # declining would be an error, not a fallback):
    #   - all-point ST_DWithin: tight modular-cell great-circle join
    #   - any other dwithin shape: spherical cell-cover join (r9)
    #   - relation predicates (ST_Intersects/Contains/...): spherical
    #     cell-cover join (r9) — previously a _Decline, which left
    #     vanilla planning an O(n*m) BroadcastNestedLoopJoin with the
    #     per-pair Python kernel (r8 verdict "What's wrong #1")
    # Mixed tagged/planar columns decline to vanilla, whose per-row
    # kernels dispatch per value.
    # a shadow-certified column is plain LE point WKB by certificate
    # (the header check bans the geography tag), so its probe job is
    # skipped — (0 tagged, 1 probed) keeps the mixed-side decline logic
    nt1, n1 = (0, 1) if sxy1 is not None else _probe_geography(ldf, g1)
    nt2, n2 = (0, 1) if sxy2 is not None else _probe_geography(rdf_r, g2)
    if nt1 or nt2:
        if not (nt1 == n1 and nt2 == n2 and n1 and n2):
            raise _Decline
        from sedona_db_spark.operators.geography_join import (
            _RELATION_SQL, _geography_relation_inner)
        if spatial.kind == "dwithin" and spatial.dist_col is None \
                and not spatial.keep_refine:
            dist = spatial.extra[0]
            if _probe_geog_points(ldf, g1) and _probe_geog_points(rdf_r, g2):
                # all-point fast path (per-row kernel guard keeps it
                # honest if a non-point hides past the probe)
                if m.how == "inner":
                    return _build_geography_dwithin(spark, ldf, rdf_r,
                                                    g1, g2, dist)
                return _lattice(
                    ldf, rdf_r, m.how,
                    lambda l2, r2: _build_geography_dwithin(
                        spark, l2, r2, g1, g2, dist))
            builder = lambda l2, r2: _geography_relation_inner(  # noqa: E731
                l2, r2, g1, g2, "intersects", float(dist), None)
        elif spatial.kind == "dwithin":
            # comparison form (ST_Distance(g1,g2) < d, keep_refine) and/or
            # column-valued radius over geography: candidate cut at the
            # exact MAX radius via the spherical cell-cover join; the
            # ORIGINAL conjunct survives as the exact per-row WHERE
            # refine (keep_refine is forced on for dist_col, and
            # comparison forms are certified inner-only upstream).
            # Mirrors the planar column-radius path below; reference
            # distance_side, spatial_predicate.rs:44-99.
            dist = spatial.extra[0]
            if spatial.dist_col is not None:
                dist = _max_radius(m, spatial, ldf, rdf_r)
            if dist < 0.0:
                dist = 0.0
            builder = lambda l2, r2: _geography_relation_inner(  # noqa: E731
                l2, r2, g1, g2, "intersects", float(dist), None)
        elif spatial.kind == "relation" \
                and spatial.predicate in _RELATION_SQL \
                and not spatial.keep_refine:
            builder = lambda l2, r2: _geography_relation_inner(  # noqa: E731
                l2, r2, g1, g2, spatial.predicate, None, None)
        else:
            raise _Decline
        if m.how == "inner":
            return builder(ldf, rdf_r)
        return _lattice(ldf, rdf_r, m.how, builder)

    routed = _try_layout_route(spark, m, spatial, ldf, rdf_r, g1, g2)
    if routed is not None:
        return routed

    first_is_left = spatial.arg_rels[0] == m.rel1.alias
    if spatial.kind == "knn":
        k, use_spheroid = spatial.extra
        if not first_is_left:
            raise _Decline           # ST_KNN(queries, objects, ...) order
        # tie-breaker inclusion is a session option in the reference
        # (sedona.spatial_join.knn_include_tie_breakers,
        #  sedona-common/src/option.rs:97-99), not a function argument —
        # mirror that as a Spark conf
        ties = str(spark.conf.get(
            "spark.sedona_db.spatial_join.knn_include_tie_breakers",
            "false")).lower() == "true"
        out = knn_join(ldf, rdf_r, int(k), query_geom=g1, object_geom=g2,
                       use_spheroid=bool(use_spheroid), include_ties=ties)
        # the SQL surface exposes both sides' columns (+ knn_distance)
        return out
    if spatial.kind == "dwithin":
        dist = spatial.extra[0]
        if spatial.dist_col is not None:
            # column-valued radius: the candidate cut expands every bbox
            # by the column's exact MAX, and the ORIGINAL conjunct
            # survives as the exact per-row refine (keep_refine).
            # Reference distance_side, spatial_predicate.rs:44-99.
            dist = _max_radius(m, spatial, ldf, rdf_r)
        if m.how == "inner":
            # symmetric: index the smaller side (see build-side note below)
            from sedona_db_spark.plans.width import planned_size_bytes
            sl = planned_size_bytes(ldf)
            sr = planned_size_bytes(rdf_r)
            if sl is not None and sr is not None and sl < sr:
                return spatial_join(rdf_r, ldf, left_geom=g2, right_geom=g1,
                                    predicate="intersects",
                                    distance=dist, how="inner",
                                    left_xy=sxy2, right_xy=sxy1)
        return spatial_join(ldf, rdf_r, left_geom=g1, right_geom=g2,
                            predicate="intersects",
                            distance=dist, how=m.how,
                            left_xy=sxy1, right_xy=sxy2)
    pred = spatial.predicate
    if m.how == "inner":
        # spatial_join builds its index on the RIGHT side, so put the
        # (estimated) smaller relation there — plan-time Catalyst stats,
        # no job; transpose the predicate when the swap flips arg order
        # (the reference's physical planner makes the same build-side
        # choice from statistics).
        from sedona_db_spark.plans.width import planned_size_bytes
        if first_is_left:
            a_df, ga, b_df, gb = ldf, g1, rdf_r, g2
            a_xy, b_xy = sxy1, sxy2
        else:
            a_df, ga, b_df, gb = rdf_r, g2, ldf, g1
            a_xy, b_xy = sxy2, sxy1
        sa = planned_size_bytes(a_df)
        sb = planned_size_bytes(b_df)
        if (sa is not None and sb is not None and sa < sb
                and pred in _TRANSPOSE):
            return spatial_join(b_df, a_df, left_geom=gb, right_geom=ga,
                                predicate=_TRANSPOSE[pred], how="inner",
                                left_xy=b_xy, right_xy=a_xy)
        return spatial_join(a_df, b_df, left_geom=ga, right_geom=gb,
                            predicate=pred, how="inner",
                            left_xy=a_xy, right_xy=b_xy)
    # outer/semi/anti modes: operator-left must stay the SQL left
    # relation (the mode lattice is side-sensitive), so when the
    # predicate's first argument is the right relation the predicate is
    # transposed instead of swapping sides
    if not first_is_left:
        pred = _TRANSPOSE.get(pred)
        if pred is None:
            raise _Decline
    return spatial_join(ldf, rdf_r, left_geom=g1, right_geom=g2,
                        predicate=pred, how=m.how,
                        left_xy=sxy1, right_xy=sxy2)


# ----------------------------------------------------------------------
# spatial WHERE [NOT] EXISTS: the subquery-correlation spelling of the
# semi/anti spatial join (reference SpatialJoinExec LeftSemi/LeftAnti,
# exec.rs:235-240).  Vanilla Spark cannot decorrelate a Python-UDF
# predicate (UNSUPPORTED_SUBQUERY_EXPRESSION / nested-loop fallback), so
#   SELECT ... FROM t1 a WHERE [NOT] EXISTS (
#       SELECT ... FROM t2 b WHERE ST_Pred(a.g, b.g) [AND b-only...])
# routes through spatial_join(how=left_semi/left_anti): inner-only
# conjuncts filter the subquery side first (exact EXISTS semantics),
# the EXISTS conjunct is replaced by TRUE, and the outer FROM is
# re-aliased onto the joined view so every other outer reference
# survives verbatim.  Declines: multi-relation outer FROM, KNN or
# comparison-form/column-radius predicates (their refine cannot live
# inside an EXISTS), conjuncts referencing the outer side, GROUP/etc
# inside the subquery.
# ----------------------------------------------------------------------


def _rewrite_exists(spark, sql, toks, vanilla_sql, vname):
    depths = _depths(toks)
    n = len(toks)
    for i in range(n):
        if toks[i].upper() != "FROM" or depths[i] != 0:
            continue
        try:
            rel1, j = _parse_rel(toks, i + 1)
        except _Decline:
            continue
        if not (j < n and depths[j] == 0 and toks[j].upper() == "WHERE"):
            continue                 # single-relation FROM + WHERE only
        w_lo = j + 1
        k = w_lo
        stop = _BLOCK_END - {"WHERE"}
        while k < n and (depths[k] > 0
                         or toks[k].upper() not in stop):
            k += 1
        w_hi = k
        for (lo, hi) in _split_conjuncts(toks, w_lo, w_hi):
            p = lo
            neg = False
            if toks[p].upper() == "NOT":
                neg, p = True, p + 1
            if (p + 1 >= hi or toks[p].upper() != "EXISTS"
                    or toks[p + 1] != "(" or toks[hi - 1] != ")"):
                continue
            try:
                return _build_exists(spark, sql, toks, depths, rel1,
                                     (i, j), (lo, hi),
                                     (p + 2, hi - 1), neg, vanilla_sql,
                                     vname)
            except _Decline:
                continue
    raise _Decline


def _build_exists(spark, sql, toks, depths, rel1, from_span, conj_span,
                  sub_span, neg, vanilla_sql, vname):
    from pyspark.sql import functions as F
    n = len(toks)
    sub_lo, sub_hi = sub_span
    d_sub = depths[sub_lo]
    # subquery: SELECT ... FROM rel2 [WHERE ...], nothing else
    f_idx = None
    for k in range(sub_lo, sub_hi):
        if depths[k] == d_sub and toks[k].upper() == "FROM":
            f_idx = k
            break
        if depths[k] == d_sub and toks[k].upper() in _BLOCK_END:
            raise _Decline
    if f_idx is None:
        raise _Decline
    rel2, k = _parse_rel(toks, f_idx + 1)
    if rel2.alias == rel1.alias:
        raise _Decline
    inner_conjs: list[tuple[int, int]] = []
    if k < sub_hi:
        if depths[k] != d_sub or toks[k].upper() != "WHERE":
            raise _Decline           # joins / GROUP BY etc inside EXISTS
        for kk in range(k + 1, sub_hi):
            if depths[kk] == d_sub and toks[kk].upper() in _BLOCK_END:
                raise _Decline
        inner_conjs = _split_conjuncts(toks, k + 1, sub_hi)

    ldf = _resolve_df(spark, vanilla_sql, rel1)
    rdf = _resolve_df(spark, vanilla_sql, rel2)
    aliases = (rel1.alias, rel2.alias)
    schemas = {rel1.alias: set(ldf.columns), rel2.alias: set(rdf.columns)}

    spatial = None
    rest = []
    for (lo, hi) in inner_conjs:
        span = (lo + 1, hi - 1) if (
            toks[lo] == "(" and toks[hi - 1] == ")"
            and min(depths[lo + 1:hi - 1] or [0]) > depths[lo]) else (lo, hi)
        sc = _parse_spatial_conjunct(toks, span[0], span[1],
                                     aliases, schemas)
        if sc is not None:
            if spatial is not None:
                raise _Decline
            spatial = sc
        else:
            refs = _refs_relations(toks, span[0], span[1],
                                   aliases, schemas)
            if rel1.alias in refs:
                raise _Decline       # outer-correlated non-spatial conjunct
            rest.append((lo, hi))
    if spatial is None or spatial.kind == "knn" or spatial.keep_refine:
        raise _Decline
    for a, c in zip(spatial.arg_rels, spatial.arg_cols):
        if c not in schemas[a]:
            raise _Decline

    # inner-only conjuncts filter the subquery side BEFORE the semi join
    # (exact EXISTS semantics) — rebuilt as a vanilla subquery so their
    # original token text runs unchanged
    if rest:
        src = (f"({rel2.text})" if rel2.is_subquery else rel2.text)
        cond = " AND ".join(
            "( " + _render(toks[lo:hi]) + " )" for lo, hi in rest)
        rdf = vanilla_sql(
            f"SELECT * FROM {src} AS {rel2.alias} WHERE {cond}")

    # right-side collision rename (same convention as the main path)
    lcols = list(ldf.columns)
    rmap = {c: (f"{rel2.alias}__{c}" if c in lcols else c)
            for c in rdf.columns}
    if any(v in lcols for c, v in rmap.items() if v != c):
        raise _Decline
    rdf_r = rdf.select([F.col(c).alias(a) for c, a in rmap.items()])

    m = _Match()
    m.rel1, m.rel2 = rel1, rel2
    m.how = "left_anti" if neg else "left_semi"
    m.comma_form = False
    lgeom = {a: c for a, c in zip(spatial.arg_rels, spatial.arg_cols)}
    g1 = lgeom.get(rel1.alias)
    g2 = rmap.get(lgeom.get(rel2.alias), lgeom.get(rel2.alias))
    joined = _build_join(spark, m, spatial, ldf, rdf_r, g1, g2)

    out = []
    i = 0
    f_lo, f_hi = from_span
    c_lo, c_hi = conj_span
    while i < n:
        if i == f_lo:
            # re-alias the view onto the outer relation's alias so every
            # other outer reference keeps resolving
            out.extend(["FROM", vname, "AS", f"`{rel1.alias}`"])
            i = f_hi
            continue
        if i == c_lo:
            out.append("TRUE")
            i = c_hi
            continue
        out.append(toks[i])
        i += 1
    return _run_over_view(joined, vname, out, vanilla_sql)


# ----------------------------------------------------------------------
# multi-join FROM chains: the common reference shape
#   FROM dims d JOIN facts f ON d.k = f.k JOIN zones z ON ST_Pred(f.g, z.g)
# For an ALL-INNER chain every ON conjunct is equivalent to a WHERE
# conjunct (inner joins commute and associate), so the one spatial pair
# can be joined by the native operator and re-inserted as a view into a
# comma-form FROM — Catalyst re-derives the hash joins for the surviving
# equi conjuncts.  The single-join path above stays untouched; this path
# only fires for 3+ relations, declines any outer/semi/anti join word,
# a second spatial conjunct, a bare ``SELECT *`` (relation order changes
# the output column order), or an equi key between the SPATIAL pair
# itself (reference optimizer.rs:253-257 — hash join wins then).
# ----------------------------------------------------------------------


def _rewrite_chain(spark, sql, toks, vanilla_sql, vname):
    depths = _depths(toks)
    n = len(toks)
    for i in range(n):
        if toks[i].upper() != "FROM":
            continue
        d = depths[i]
        rels, ons = [], []
        try:
            rel, j = _parse_rel(toks, i + 1)
        except _Decline:
            continue
        rels.append(rel)
        ok = True
        while ok and j < n and depths[j] >= d:
            if depths[j] != d:
                ok = False
                break
            u = toks[j].upper()
            if u == ",":
                try:
                    rel, j = _parse_rel(toks, j + 1)
                except _Decline:
                    ok = False
                    break
                rels.append(rel)
                ons.append(None)
                continue
            if u == "JOIN" or (u in ("INNER", "CROSS") and j + 1 < n
                               and toks[j + 1].upper() == "JOIN"):
                cross = u == "CROSS"
                j2 = j + (1 if u == "JOIN" else 2)
                try:
                    rel, j2 = _parse_rel(toks, j2)
                except _Decline:
                    ok = False
                    break
                if cross:
                    rels.append(rel)
                    ons.append(None)
                    j = j2
                    continue
                if not (j2 < n and toks[j2].upper() == "ON"):
                    ok = False
                    break
                k = j2 + 1
                while k < n and depths[k] >= d:
                    if depths[k] == d:
                        uu = toks[k].upper()
                        if uu in _BLOCK_END or uu in _JOIN_WORDS or uu == ",":
                            break
                    k += 1
                rels.append(rel)
                ons.append((j2 + 1, k))
                j = k
                continue
            if u in _JOIN_WORDS:
                ok = False       # outer / semi / anti / natural: not certified
                break
            break                # WHERE / GROUP / ... ends the chain
        if not ok or len(rels) < 3:
            continue
        from_end = j
        where_span = None
        if j < n and depths[j] == d and toks[j].upper() == "WHERE":
            k = j + 1
            while k < n and depths[k] >= d:
                if depths[k] == d and toks[k].upper() in (_BLOCK_END - {"WHERE"}):
                    break
                k += 1
            where_span = (j + 1, k)
        try:
            return _chain_rewrite(spark, toks, depths, i, rels, ons,
                                  from_end, where_span, vanilla_sql, vname)
        except _Decline:
            continue
    raise _Decline


def _chain_rewrite(spark, toks, depths, from_idx, rels, ons, from_end,
                   where_span, vanilla_sql, vname):
    from pyspark.sql import functions as F

    aliases = [r.alias for r in rels]
    if len(set(aliases)) != len(aliases):
        raise _Decline

    def _in_rel_span(ii):
        return any(r.start <= ii < r.end for r in rels)

    for ii, t in enumerate(toks):
        if (t == "*" and (ii == 0 or toks[ii - 1] not in (".", "("))
                and not _in_rel_span(ii)):
            raise _Decline       # bare * output order depends on rel order
    dfs = {r.alias: _resolve_df(spark, vanilla_sql, r) for r in rels}
    schemas = {a: set(df.columns) for a, df in dfs.items()}

    conjuncts = []
    for span in ons:
        if span is not None:
            conjuncts += _split_conjuncts(toks, span[0], span[1])
    if where_span is not None:
        conjuncts += _split_conjuncts(toks, *where_span)

    spatial = None
    spatial_span = None
    rest = []
    for (lo, hi) in conjuncts:
        span = (lo + 1, hi - 1) if (
            toks[lo] == "(" and toks[hi - 1] == ")"
            and min(depths[lo + 1:hi - 1] or [0]) > depths[lo]) else (lo, hi)
        sc = _parse_spatial_conjunct(toks, span[0], span[1], aliases, schemas)
        if sc is not None:
            if spatial is not None:
                raise _Decline
            spatial, spatial_span = sc, (lo, hi)
        else:
            rest.append((lo, hi))
    if spatial is None:
        raise _Decline
    pa, qa = spatial.arg_rels
    # decline only on an equi key between the SPATIAL pair; equi keys
    # touching other relations are exactly what this path exists to keep
    for (lo, hi) in rest:
        dd = 0
        for jj in range(lo, hi):
            t = toks[jj]
            if t == "(":
                dd += 1
            elif t == ")":
                dd -= 1
            elif dd == 0 and t == "=":
                lhs = _refs_relations(toks, lo, jj, aliases, schemas)
                rhs = _refs_relations(toks, jj + 1, hi, aliases, schemas)
                if lhs and rhs and lhs != rhs and (lhs | rhs) <= {pa, qa}:
                    raise _Decline
    if spatial.keep_refine:
        rest.append(spatial_span)

    order = {a: ix for ix, a in enumerate(aliases)}
    first_alias, second_alias = (pa, qa) if order[pa] < order[qa] else (qa, pa)
    ldf, rdf = dfs[first_alias], dfs[second_alias]

    star_sides = set()
    for ii, t in enumerate(toks):
        if (t == "*" and ii >= 2 and toks[ii - 1] == "."
                and _is_ident(toks[ii - 2]) and not _in_rel_span(ii)):
            star_sides.add(_unquote(toks[ii - 2]))
    mentioned = {_unquote(t) for t in toks if _is_ident(t)}
    if first_alias not in star_sides:
        ldf = ldf.select([c for c in ldf.columns if c in mentioned])
    if second_alias not in star_sides:
        rdf = rdf.select([c for c in rdf.columns if c in mentioned])
    pair_schemas = {first_alias: set(ldf.columns),
                    second_alias: set(rdf.columns)}
    for a, c in zip(spatial.arg_rels, spatial.arg_cols):
        if c not in pair_schemas[a]:
            raise _Decline

    lcols = list(ldf.columns)
    collide = set(lcols) & set(rdf.columns)
    rmap = {c: (f"{second_alias}__{c}" if c in collide else c)
            for c in rdf.columns}
    if any(v in lcols for c, v in rmap.items() if v != c):
        raise _Decline
    rdf_r = rdf.select([F.col(c).alias(a) for c, a in rmap.items()])

    m = _Match()
    m.rel1 = rels[order[first_alias]]
    m.rel2 = rels[order[second_alias]]
    m.how, m.comma_form = "inner", False
    lgeom = {a: c for a, c in zip(spatial.arg_rels, spatial.arg_cols)}
    g1 = lgeom.get(first_alias)
    g2 = rmap.get(lgeom.get(second_alias), lgeom.get(second_alias))

    if spatial.dist_col is not None:
        da, dc = spatial.dist_col
        # a radius column living on a THIRD relation has no owner inside
        # the pair join — decline to vanilla
        if da not in (first_alias, second_alias) \
                or dc not in pair_schemas[da]:
            raise _Decline
        spatial.dist_col_resolved = (
            da, dc if da == first_alias else rmap.get(dc, dc))

    joined = _build_join(spark, m, spatial, ldf, rdf_r, g1, g2)

    pair = {first_alias, second_alias}

    def out_name(alias, col):
        if alias == first_alias:
            return col
        return rmap.get(col, col)

    surviving = [r for r in rels if r.alias not in pair]
    skip_hi = where_span[1] if where_span else from_end
    # select-list span of the matched block: unadorned pair references
    # whose view column was rename-disambiguated get an AS back to their
    # original name, so the output schema matches vanilla planning
    sel_lo = None
    for k2 in range(from_idx - 1, -1, -1):
        if depths[k2] == depths[from_idx] and toks[k2].upper() == "SELECT":
            sel_lo = k2
            break
    out = []
    k = 0
    n = len(toks)
    while k < n:
        if k == from_idx:
            out.append("FROM")
            parts = [_render(toks[r.start:r.end]) for r in surviving]
            parts.append(vname)
            out.append(" , ".join(parts))
            # view-qualified (unlike the single-join path, other
            # relations survive in the FROM: bare names could clash)
            wparts = ["( " + _render(_map_alias_refs(
                toks[lo:hi], pair, out_name, f"`{vname}`.")) + " )"
                      for (lo, hi) in rest]
            if wparts:
                out.append("WHERE")
                out.append(" AND ".join(wparts))
            k = skip_hi
            continue
        t = toks[k]
        in_select = sel_lo is not None and sel_lo < k < from_idx
        if (_is_ident(t) and _unquote(t) in pair and k + 1 < n
                and toks[k + 1] == "."):
            a = _unquote(t)
            if k + 2 < n and toks[k + 2] == "*":
                if a == first_alias:
                    pairs_ = [(c, c) for c in lcols]
                else:
                    pairs_ = [(c, rmap[c]) for c in rmap]
                out.append(" , ".join(
                    f"`{vname}`.`{v}`" + (f" AS `{c}`" if in_select and v != c
                                          else "")
                    for c, v in pairs_))
                k += 3
                continue
            if k + 2 < n and _is_ident(toks[k + 2]):
                col = _unquote(toks[k + 2])
                out_col = out_name(a, col)
                ref = f"`{vname}`.`{out_col}`"
                nxt = toks[k + 3] if k + 3 < n else None
                if (in_select and out_col != col
                        and (nxt == "," or k + 3 == from_idx)):
                    ref += f" AS `{col}`"
                out.append(ref)
                k += 3
                continue
        out.append(t)
        k += 1

    return _run_over_view(joined, vname, out, vanilla_sql)


# ----------------------------------------------------------------------
# scalar peepholes: kernel calls over directly-constructed points
# become native codegen expressions (no WKB, no python stage)
# ----------------------------------------------------------------------

_PEEP_PRECHECK = re.compile(
    r"\bST_(DISTANCESPHERE|DISTANCE|DWITHIN)\s*\(\s*ST_POINT\s*\(", re.I)

# (UPPER name, arity) -> auxiliary SQL name carrying that arity's kernel.
# The reference registers several kernels under ONE SQL name with
# optional arguments (e.g. c/sedona-geos/src/st_relate.rs:151,192);
# Spark UDF registration is fixed-arity, so the SQL front door renames
# the extra-arity call onto the matching kernel (kernels_wave4.py).
_ARITY_RENAMES = {
    ("ST_RELATE", 3): "ST_RelateMatch",
    ("ST_BUFFER", 3): "ST_BufferStyled",
    ("ST_CONCAVEHULL", 3): "ST_ConcaveHullHoles",
    ("ST_FORCE3DM", 2): "ST_Force3DMValue",
    ("ST_FORCE4D", 3): "ST_Force4DValues",
    ("ST_LINEMERGE", 2): "ST_LineMergeDirected",
    ("ST_SCALE", 4): "ST_Scale3D",
    ("ST_DELAUNAYTRIANGLES", 2): "ST_DelaunayTrianglesTol",
    ("ST_DELAUNAYTRIANGLES", 3): "ST_DelaunayTrianglesFlags",
    ("ST_AFFINE", 13): "ST_Affine3D",
    ("ST_MAKELINE", 2): "ST_MakeLineBinary",
    ("ST_HAUSDORFFDISTANCE", 3): "ST_HausdorffDistanceDensify",
    ("ST_TRANSLATE", 4): "ST_Translate3D",
    ("RS_VALUE", 3): "RS_ValueGeom",
    ("RS_SETGEOREFERENCE", 3): "RS_SetGeoReferenceFmt",
    ("RS_GEOREFERENCE", 2): "RS_GeoReferenceFmt",
    ("RS_SETBANDNODATAVALUE", 2): "RS_SetBandNoDataValueB1",
}

# (UPPER name, arity) -> template over the split argument token spans.
# Used where the overload is expressible as a composition of existing
# kernels (constructor + SRID forms, reference st_geomfromtext.rs /
# st_point.rs optional srid argument).
_ARITY_TEMPLATES = {
    ("ST_POINT", 3): "ST_PointCrs ( {0} , {1} , {2} )",
    ("ST_GEOMFROMTEXT", 2): "ST_GeomFromTextCrs ( {0} , {1} )",
    ("ST_GEOMFROMWKT", 2): "ST_GeomFromTextCrs ( {0} , {1} )",
    ("ST_GEOMETRYFROMTEXT", 2): "ST_GeomFromTextCrs ( {0} , {1} )",
    ("ST_GEOMFROMWKB", 2): "ST_SetSRID ( ST_GeomFromWKB ( {0} ) , {1} )",
    ("ST_POINTFROMTEXT", 2): "ST_SetSRID ( ST_PointFromText ( {0} ) , {1} )",
    ("ST_LINEFROMTEXT", 2): "ST_SetSRID ( ST_LineFromText ( {0} ) , {1} )",
    ("ST_LINESTRINGFROMTEXT", 2):
        "ST_SetSRID ( ST_LineStringFromText ( {0} ) , {1} )",
    ("ST_POLYGONFROMTEXT", 2):
        "ST_SetSRID ( ST_PolygonFromText ( {0} ) , {1} )",
    ("ST_MPOINTFROMTEXT", 2):
        "ST_SetSRID ( ST_MPointFromText ( {0} ) , {1} )",
    ("ST_MLINEFROMTEXT", 2):
        "ST_SetSRID ( ST_MLineFromText ( {0} ) , {1} )",
    ("ST_MPOLYFROMTEXT", 2):
        "ST_SetSRID ( ST_MPolyFromText ( {0} ) , {1} )",
    ("ST_GEOMCOLLFROMTEXT", 2):
        "ST_SetSRID ( ST_GeomCollFromText ( {0} ) , {1} )",
    # aggregates: Spark GROUPED_AGG pandas UDFs return ZERO rows for an
    # empty global aggregate; collect_list + scalar finisher restores
    # the one-NULL-row SQL semantics (python/sedonadb test_aggregate)
    ("ST_UNION_AGG", 1): "ST_Union_AggFin ( collect_list ( {0} ) )",
    ("ST_COLLECT_AGG", 1): "ST_Collect_AggFin ( collect_list ( {0} ) )",
    ("ST_CONVEXHULL_AGG", 1):
        "ST_ConvexHull_AggFin ( collect_list ( {0} ) )",
    ("ST_INTERSECTION_AGG", 1):
        "ST_Intersection_AggFin ( collect_list ( {0} ) )",
    ("ST_POLYGONIZE_AGG", 1):
        "ST_Polygonize_AggFin ( collect_list ( {0} ) )",
    ("ST_ENVELOPE_AGG", 1): "ST_Envelope_AggFin ( collect_list ( {0} ) )",
    ("RS_VALUE", 2): "RS_ValueGeom ( {0} , {1} , 1 )",
}

_OVERLOAD_PRECHECK = re.compile(
    "\\b(" + "|".join(sorted({k for k, _ in
                              list(_ARITY_RENAMES) + list(_ARITY_TEMPLATES)}))
    + ")\\s*\\(", re.I)


def rewrite_relate_pattern(sql: str) -> str | None:
    """Rename/expand extra-arity ST_* calls onto their auxiliary kernels
    (see _ARITY_RENAMES / _ARITY_TEMPLATES).  Returns None when the
    query has no overloaded call.  Template expansion can nest (an
    overloaded constructor inside another overloaded call), so passes
    repeat to a small fixpoint."""
    out_sql = sql
    any_change = False
    for _ in range(4):
        toks = _tokenize(out_sql)
        if toks is None:
            return out_sql if any_change else None
        changed = False
        i = 0
        while i < len(toks):
            t = toks[i]
            up = t.upper()
            if (up not in {k for k, _ in _ARITY_RENAMES}
                    and up not in {k for k, _ in _ARITY_TEMPLATES}) \
                    or i + 1 >= len(toks) or toks[i + 1] != "(":
                i += 1
                continue
            d, j = 0, i + 1
            while j < len(toks):
                if toks[j] == "(":
                    d += 1
                elif toks[j] == ")":
                    d -= 1
                    if d == 0:
                        break
                j += 1
            if j >= len(toks):
                i += 1
                continue
            spans = _split_args(toks, i + 2, j)
            arity = len(spans) if spans is not None else -1
            if j + 1 < len(toks) and toks[j + 1].upper() == "OVER":
                i += 1     # window invocation: leave untouched
                continue
            if (up, arity) in _ARITY_RENAMES:
                toks[i] = _ARITY_RENAMES[(up, arity)]
                changed = True
                i += 1
            elif (up, arity) in _ARITY_TEMPLATES:
                # positional substitution (not str.format: argument SQL
                # may contain literal braces)
                repl_toks = []
                for tt in _ARITY_TEMPLATES[(up, arity)].split(" "):
                    if tt.startswith("{") and tt.endswith("}"):
                        lo, hi = spans[int(tt[1:-1])]
                        repl_toks.extend(toks[lo:hi])
                    else:
                        repl_toks.append(tt)
                toks[i:j + 1] = repl_toks
                changed = True
                # restart scan past the replacement head
                i += 1
            else:
                i += 1
        if not changed:
            break
        any_change = True
        out_sql = " ".join(toks)
    return out_sql if any_change else None

# the engine's own haversine (kernels.k_distance_sphere /
# algorithms._EARTH_RADIUS_M) restated in Spark built-ins; java.lang.Math
# and numpy agree to the ulp on these inputs and every contract query
# rounds its output, so the peephole is value-equivalent.  The min(1, .)
# clamp is a CASE, NOT LEAST: Spark's LEAST ignores NULL arguments,
# which would break the kernels' NULL-in-NULL-out contract (the CASE's
# NULL condition falls through to the ELSE, where NULL propagates).
_HAV_ROOT = (
    "SQRT ( "
    "POW ( SIN ( ( RADIANS ( {lat2} ) - RADIANS ( {lat1} ) ) / 2 ) , 2 ) "
    "+ COS ( RADIANS ( {lat1} ) ) * COS ( RADIANS ( {lat2} ) ) "
    "* POW ( SIN ( ( RADIANS ( {lon2} ) - RADIANS ( {lon1} ) ) / 2 ) , 2 )"
    " )")
_HAVERSINE_SQL = ("( 2.0 * 6371008.8 * ( CASE WHEN " + _HAV_ROOT
                  + " > 1.0 THEN ASIN ( 1.0 ) ELSE ASIN ( " + _HAV_ROOT
                  + " ) END ) )")
_EUCLID_SQL = ("( SQRT ( POW ( ( {lon2} ) - ( {lon1} ) , 2 ) "
               "+ POW ( ( {lat2} ) - ( {lat1} ) , 2 ) ) )")


_CERT_PRECHECK = re.compile(
    r"\bST_(DISTANCESPHERE|DISTANCE|DWITHIN|X|Y)\s*\(", re.I)


def _tokenize_spans(sql: str):
    """Like _tokenize but also returns each token's (start, end) char
    span in the ORIGINAL text, so rewrites can splice replacements into
    the source string — token re-rendering drops comments, and with
    them any /*+ ... */ join hints the query depends on."""
    toks, spans = [], []
    pos = 0
    for m in _TOKEN_RE.finditer(sql):
        if m.start() != pos:
            return None, None
        pos = m.end()
        if m.lastgroup != "ws":
            toks.append(m.group())
            spans.append((m.start(), m.end()))
    if pos != len(sql):
        return None, None
    return toks, spans


def _point_table_cols(spark, table: str) -> list[str]:
    """Certified point columns of a stored table (write-time-verified
    property stamped by certify_point_table), [] when absent."""
    import json as _json
    try:
        row = spark.sql(
            f"SHOW TBLPROPERTIES {table} ('sedona.point.cols')").first()
        val = row["value"] if row is not None else None
        if not val or val.startswith("Table") or "does not have" in val:
            return []
        out = _json.loads(val)
        return out if isinstance(out, list) else []
    except Exception:
        return []


def _shadow_cast_sql(col: str) -> str:
    """A shadow coordinate as the DOUBLE the ST_Point kernel received
    (pandas coerces every numeric input to float64, so for a DECIMAL or
    FLOAT shadow the kernel stored its round-to-nearest double image —
    the cast reproduces exactly that; for DOUBLE it is a no-op)."""
    return f"CAST({col} AS DOUBLE)"


def _point_cert_checks(cols, shadow, kind: str = "planar"):
    """Per-column bad-row predicates for point certification (one
    scan).  The cheap native guard (length + header bytes) proves
    21-byte LE point WKB; the VECTORIZED ST_X/ST_Y kernels prove the
    coordinates — ST_X returns NULL exactly for the NaN-coordinate
    (POINT EMPTY) encoding, so requiring non-null kernel output bans
    NaN coords without per-row hex/conv string machinery (measured
    ~10 us/row interpreted vs ~4 us/row for one whole-column kernel
    pass at 1.5M rows).  With a shadow (c -> (xc, yc)) the scan
    additionally proves the stored doubles EQUAL the kernel output
    bit-for-bit: SQL `=` plus a string-form sign-of-zero refinement
    ("-0.0" vs "0.0"; division tricks throw under ANSI mode), and NULL
    geometry rows must have NULL shadows so substitution preserves
    kernel NULL semantics.

    ``kind``: "planar" (plain point WKB) or "geog" (geography-TAGGED
    point WKB, additionally inside the non-pole band — see
    certify_geog_point_view)."""
    guard, _desc, pole_band = _cert_kind(kind)
    checks = []
    for i, c in enumerate(cols):
        ok = (f"({guard(c)} AND ST_X({c}) IS NOT NULL "
              f"AND ST_Y({c}) IS NOT NULL")
        if shadow and c in shadow:
            # the shadow may be stored as DECIMAL (e.g. decimal-typed
            # source arithmetic); the kernel saw its float64 image, so
            # both the check and the substitution go through
            # CAST(.. AS DOUBLE) — _shadow_cast_sql keeps them aligned
            xc, yc = (_shadow_cast_sql(x) for x in shadow[c])
            ok += (f" AND ST_X({c}) = {xc} AND ST_Y({c}) = {yc}"
                   f" AND (ST_X({c}) != 0.0D OR CAST(ST_X({c}) AS STRING)"
                   f" = CAST({xc} AS STRING))"
                   f" AND (ST_Y({c}) != 0.0D OR CAST(ST_Y({c}) AS STRING)"
                   f" = CAST({yc} AS STRING))")
            null_ok = f"({c} IS NULL AND {xc} IS NULL AND {yc} IS NULL)"
        else:
            null_ok = f"{c} IS NULL"
        if pole_band:
            ok += f" AND abs(ST_Y({c})) < 90.0D - 1.0e-9"
        ok += ")"
        checks.append(f"sum(CASE WHEN NOT ({null_ok} OR {ok}) "
                      f"THEN 1 ELSE 0 END) AS bad_{i}")
    return checks


def _cert_kind(kind: str):
    """(header guard SQL builder, value description, pole band?) of a
    certificate kind."""
    if kind == "geog":
        return (_geog_point_guard_sql,
                "non-pole NaN-free tagged 2D point WKB", True)
    from sedona_db_spark.plans.native_point import point_guard_sql
    return point_guard_sql, "NaN-free 2D LE point WKB", False


def _point_cert_scan(spark, relation: str, cols, shadow, what: str,
                     kind: str = "planar"):
    checks = _point_cert_checks(cols, shadow, kind)
    row = spark.sql(
        f"SELECT {', '.join(checks)} FROM {relation}").first()
    for i, c in enumerate(cols):
        bad = row[f"bad_{i}"]
        if bad:
            raise ValueError(
                f"{what}({relation}): column {c} has {bad} rows that "
                f"are not {_cert_kind(kind)[1]}"
                + (" with bit-equal shadow coordinates"
                   if shadow and c in shadow else "")
                + " — refusing to stamp the certificate")


def certify_point_table(spark, table: str, cols: list[str],
                        shadow: dict | None = None) -> None:
    """Verify in ONE scan that every non-null value of each named
    column is a 21-byte little-endian 2D point WKB with non-NaN
    coordinates (the ST_Point kernel's output invariant — NaN inputs
    become NULL geometries, so kernels treat NaN-coordinate points as
    empty), then stamp the table properties the certified scalar
    rewrite trusts.  ``shadow`` maps a point column to sibling
    ``(x_col, y_col)`` DOUBLE columns proven bit-equal to its
    coordinates: the rewrite then substitutes the stored doubles
    directly (zero per-row decode — the only form that scales; WKB bit
    extraction measured ~10 us/row).  Raises if any row violates —
    never stamps a lie."""
    _point_cert_scan(spark, table, cols, shadow, "certify_point_table")
    import json as _json
    val = _json.dumps(cols).replace("'", "''")
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
              f"('sedona.point.cols' = '{val}')")
    if shadow:
        sval = _json.dumps({c: list(xy) for c, xy in shadow.items()}) \
            .replace("'", "''")
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES "
                  f"('sedona.point.shadow' = '{sval}')")


def _certify_view(spark, view: str, shadow: dict, kind: str,
                  what: str) -> None:
    """Verify ``shadow``'s columns of ``view`` in one scan, then register
    the shadow map in the session's view-certificate registry under
    (view, kind), stamped with the view's CURRENT plan key — a later
    CREATE OR REPLACE, or a file appended under the view's path, changes
    the key and silently invalidates the certificate (fail-closed)."""
    _point_cert_scan(spark, view, list(shadow), shadow, what, kind)
    fp = plan_key(spark.table(view))
    if fp is not None:
        if not hasattr(spark, "_sedona_point_view_shadows"):
            spark._sedona_point_view_shadows = {}
        spark._sedona_point_view_shadows[(view, kind)] = (dict(shadow), fp)


def certify_point_view(spark, view: str, shadow: dict) -> None:
    """certify_point_table for a (temp) view, which has no table
    properties: the same predicate, registered as a "planar" view
    certificate (see _certify_view)."""
    _certify_view(spark, view, shadow, "planar", "certify_point_view")


# geography edge tag in the WKB type word (core._SD_GEOG): byte 4 of a
# little-endian 2-D point header
_GEOG_PT_HEADER_HEX = "0101000010"


def _geog_point_guard_sql(col: str) -> str:
    """Boolean SQL: ``col`` is a 21-byte LE geography-tagged 2D point."""
    return (f"(length({col}) = 21 AND "
            f"substring({col}, 1, 5) = X'{_GEOG_PT_HEADER_HEX}')")


def certify_geog_point_view(spark, view: str, shadow: dict) -> None:
    """certify_point_view for GEOGRAPHY point columns (round 12): one
    scan proves every non-null value of each ``shadow`` key is a
    21-byte LE geography-TAGGED 2-D point WKB whose lon/lat are
    bit-equal to the sibling ``(lon_col, lat_col)`` DOUBLE shadows
    (sign-of-zero included), NULL geography rows have NULL shadows,
    and ``abs(lat) < 90 - 1e-9`` — the pole band takes the cover
    kernel's general (degenerate-longitude) path, which the native
    single-cell formula does not reproduce, so certification FAILS
    there rather than stamping a lie.  Raises on any violating row.

    Consumers: geography_relation_join(left_lonlat=...) computes the
    probe side's covering cell, salt and refine inputs natively from
    the shadows, letting the geography constructor prune out of the
    plan entirely."""
    _certify_view(spark, view, shadow, "geog", "certify_geog_point_view")


def geog_shadow_xy_for_view(spark, view: str, col: str):
    """Live certified geography shadow ``(lon_col, lat_col)`` for a
    view's geography column, or None (plan-key-checked: a CREATE OR
    REPLACE or a file append that changes the view silently
    invalidates)."""
    return _view_shadow(spark, view, col, "geog")


def _view_shadow(spark, table: str, col: str, kind: str = "planar"):
    """(x_col, y_col) for a view column holding a ``kind`` certificate
    (certify_point_view / certify_geog_point_view), if the view's plan
    key is unchanged; else None."""
    reg = getattr(spark, "_sedona_point_view_shadows", {})
    shadow, fp = reg.get((table, kind), ({}, None))   # fp is never None
    if col not in shadow:
        return None
    try:
        return tuple(shadow[col]) if plan_key(spark.table(table)) == fp \
            else None
    except Exception:       # the view is gone
        return None


def _point_table_shadow(spark, table: str, col: str):
    """(x_col, y_col) from the stored shadow property, or None."""
    import json as _json
    try:
        row = spark.sql(
            f"SHOW TBLPROPERTIES {table} ('sedona.point.shadow')").first()
        val = row["value"] if row is not None else None
        if not val or val.startswith("Table") or "does not have" in val:
            return None
        m = _json.loads(val)
        xy = m.get(col)
        return tuple(xy) if isinstance(xy, list) and len(xy) == 2 else None
    except Exception:
        return None


def _relation_shadow(spark, tbl: str, col: str):
    """Live certified shadow ``(x_col, y_col)`` for a named relation's
    point column, from the session view registry (plan-key-checked)
    or the write-time table property — None when uncertified."""
    return _view_shadow(spark, tbl, col) or _point_table_shadow(spark, tbl, col)


def _subquery_shadow_base(text: str) -> str | None:
    """``SELECT * FROM <name> [WHERE/ORDER/LIMIT ...]`` -> the base
    relation name, else None.  Only this shape may inherit the base's
    point-shadow certificate: the invariant is per-row, so filters and
    row subsets preserve it, and bare ``*`` preserves column identity."""
    t = _tokenize(text)
    if not t or len(t) < 4:
        return None
    if (t[0].upper() != "SELECT" or t[1] != "*" or t[2].upper() != "FROM"
            or not _is_ident(t[3])):
        return None
    if len(t) > 4 and t[4].upper() not in ("WHERE", "ORDER", "LIMIT"):
        return None
    return _unquote(t[3])


def _subst_certified_calls(span: list[str], shadows: dict,
                           aliases: tuple, schemas: dict) -> list[str] | None:
    """Span-local certified-scalar substitution for the join rewrite's
    refine conjuncts (round 12, extending the r11 scalar rewrite into
    the lattice's refine position): ST_Distance / ST_DWithin / ST_X /
    ST_Y calls whose geometry arguments are references to
    shadow-certified point columns are replaced by the SAME native
    arithmetic rewrite_certified_scalar emits — the shadow doubles
    substitute the coordinates (bit-equal by certificate), sqrt-form
    distance, the dwithin ``<= d + 1e-12`` kernel boundary.  Emitted
    references stay alias-qualified token triples (``a . px``) so the
    caller's _map_alias_refs pass renames them onto the joined view.

    ``shadows``: alias -> {geom_col: (x_col, y_col)}.  Returns the new
    token list, or None when nothing substituted (callers keep the
    original span — the kernels stay exact for every shape this
    declines).  ``aliases`` is the FULL alias tuple (not just the
    shadow-bearing ones) so bare-column owner resolution matches the
    main parser's."""

    def pt_xy(lo, hi):
        q = _qualified_ref(span, lo, hi, aliases, schemas)
        if q is None:
            return None
        xy = shadows.get(q[0], {}).get(q[1])
        if xy is None:
            return None
        return (f"CAST ( {q[0]} . {xy[0]} AS DOUBLE )",
                f"CAST ( {q[0]} . {xy[1]} AS DOUBLE )")

    out: list[str] = []
    changed = False
    i, n = 0, len(span)
    while i < n:
        u = span[i].upper()
        if u in ("ST_DISTANCESPHERE", "ST_DISTANCE", "ST_DWITHIN",
                 "ST_X", "ST_Y") and i + 1 < n and span[i + 1] == "(":
            d, j = 0, i + 1
            while j < n:
                if span[j] == "(":
                    d += 1
                elif span[j] == ")":
                    d -= 1
                    if d == 0:
                        break
                j += 1
            if j >= n:
                return None
            repl = None
            if u in ("ST_X", "ST_Y"):
                xy = pt_xy(i + 2, j)
                if xy is not None:
                    repl = xy[0] if u == "ST_X" else xy[1]
            elif u == "ST_DWITHIN":
                parts = _split_args(span, i + 2, j)
                if parts is not None and len(parts) == 3:
                    xy1, xy2 = pt_xy(*parts[0]), pt_xy(*parts[1])
                    if xy1 is not None and xy2 is not None:
                        dist = _render(span[parts[2][0]:parts[2][1]])
                        repl = ("( " + _EUCLID_SQL.format(
                            lon1=xy1[0], lat1=xy1[1],
                            lon2=xy2[0], lat2=xy2[1])
                            + f" <= ( ( {dist} ) + 1e-12 ) )")
            else:
                args = _split_two_args(span, i + 2, j)
                if args is not None:
                    xy1, xy2 = pt_xy(*args[0]), pt_xy(*args[1])
                    if xy1 is not None and xy2 is not None:
                        fmt = (_HAVERSINE_SQL if u == "ST_DISTANCESPHERE"
                               else _EUCLID_SQL)
                        repl = fmt.format(lon1=xy1[0], lat1=xy1[1],
                                          lon2=xy2[0], lat2=xy2[1])
            if repl is not None:
                repl_toks = _tokenize(repl)
                if repl_toks is None:
                    return None
                out.extend(repl_toks)
                changed = True
                i = j + 1
                continue
        out.append(span[i])
        i += 1
    return out if changed else None


# WKB bit extraction is exact but costs ~10 us/row/coordinate in
# interpreted string machinery (hex/conv/concat); above this estimated
# relation size the rewrite declines extraction and leaves the
# vectorized Arrow kernel in place (~4 us/row/pass).  Shadow columns
# (zero decode cost) are preferred at ANY size and ignore this gate.
_EXTRACT_MAX_BYTES_CONF = "spark.sedona.scalarRewrite.extractMaxBytes"
_EXTRACT_MAX_BYTES_DEFAULT = 4 * 1024 * 1024


def _rel_size_bytes(df) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def rewrite_certified_scalar(spark, sql: str, vanilla_sql) -> str | None:
    """Rewrite scalar ST_X/ST_Y/ST_Distance/ST_DWithin/ST_DistanceSphere
    calls over CERTIFIED all-point columns into pure whole-stage-codegen
    arithmetic — no Arrow/Python round trip.  Coordinate sources, in
    preference order:

    1. SHADOW COLUMNS — sibling DOUBLE columns proven bit-equal to the
       point's coordinates at certify time (certify_point_table /
       certify_point_view).  Zero per-row decode; the only form whose
       cost scales (a stored-column scan reads 16 B/row).
    2. WKB BIT EXTRACTION (plans/native_point.py) — exact but ~10 us/
       row/coordinate of interpreted string machinery, so gated on the
       relation's estimated size (spark.sedona.scalarRewrite.
       extractMaxBytes, default 4 MiB); above the gate the vectorized
       Arrow kernel stays.  Available when the table property names the
       column or the relation's analyzed plan proves it is the 2-arg
       ST_Point constructor's output (the r10 plan-time certificate).

    Conservative: any alias ambiguity, subquery-sourced arg, or
    uncertified column leaves that call untouched.  Returns spliced SQL
    text (comments/hints of the original preserved) or None.

    ST_X/ST_Y substitution is bit-exact (same stored double).  The
    distance forms use the same _EUCLID/_HAVERSINE formulas as the
    ST_Point-literal peephole — sqrt(dx^2+dy^2) vs the kernel's
    np.hypot differs only in the last ulp (the DuckDB oracles compute
    the sqrt form, so the rewrite moves Spark CLOSER to the oracle)."""
    if not _CERT_PRECHECK.search(sql):
        return None
    toks, spans = _tokenize_spans(sql)
    if toks is None:
        return None
    from sedona_db_spark.operators.spatial_join import (
        _point_constructor_certified)
    from sedona_db_spark.plans.native_point import (
        point_x_sql, point_y_sql)
    n = len(toks)
    # --- collect relations (any depth; duplicate/subquery alias poisons)
    rels: dict[str, str | None] = {}
    i = 0
    while i < n:
        if toks[i].upper() in ("FROM", "JOIN"):
            j = i + 1
            while True:
                try:
                    rel, j = _parse_rel(toks, j)
                except _Decline:
                    break
                if rel.is_subquery:
                    rels[rel.alias] = None
                elif rel.alias in rels and rels[rel.alias] != rel.text:
                    rels[rel.alias] = None
                else:
                    rels.setdefault(rel.alias, rel.text)
                if j < n and toks[j] == ",":
                    j += 1
                    continue
                break
            i = j
            continue
        i += 1
    if not rels:
        return None
    dfs: dict[str, DataFrame] = {}
    schemas: dict[str, list[str]] = {}
    for a, tbl in list(rels.items()):
        if tbl is None:
            schemas[a] = []
            continue
        try:
            dfs[a] = spark.table(tbl)
            schemas[a] = dfs[a].columns
        except Exception:
            rels[a] = None
            schemas[a] = []
    cert_memo: dict[tuple[str, str], tuple | None] = {}

    def cert_kind(alias: str, col: str):
        """('shadow', xc, yc) | ('extract',) | None for a relation
        column, memoized per (table, col)."""
        tbl = rels.get(alias)
        if tbl is None or col not in schemas[alias]:
            return None
        key = (tbl, col)
        if key in cert_memo:
            return cert_memo[key]
        out = None
        xy = _relation_shadow(spark, tbl, col)
        if xy and xy[0] in schemas[alias] and xy[1] in schemas[alias]:
            out = ("shadow",) + tuple(xy)
        else:
            ok = col in _point_table_cols(spark, tbl)
            if not ok:
                try:
                    ok = _point_constructor_certified(dfs[alias], col)
                except Exception:
                    ok = False
            if ok:
                try:
                    cap = int(spark.conf.get(
                        _EXTRACT_MAX_BYTES_CONF,
                        str(_EXTRACT_MAX_BYTES_DEFAULT)))
                except Exception:
                    cap = _EXTRACT_MAX_BYTES_DEFAULT
                size = _rel_size_bytes(dfs[alias])
                if size is not None and size <= cap:
                    out = ("extract",)
        cert_memo[key] = out
        return out

    def pt_xy(lo, hi):
        """Arg span -> (x_sql, y_sql) coordinate expressions of a
        certified point column ref, or None."""
        q = _qualified_ref(toks, lo, hi, rels, schemas)
        if q is None:
            return None
        kind = cert_kind(*q)
        if kind is None:
            return None
        alias = q[0]
        if kind[0] == "shadow":
            return (_shadow_cast_sql(f"{alias}.{kind[1]}"),
                    _shadow_cast_sql(f"{alias}.{kind[2]}"))
        ref = sql[spans[lo][0]:spans[hi - 1][1]]
        return (point_x_sql(ref), point_y_sql(ref))

    # --- scan calls and build splice list
    edits: list[tuple[int, int, str]] = []
    i = 0
    while i < n:
        u = toks[i].upper()
        if u in ("ST_DISTANCESPHERE", "ST_DISTANCE", "ST_DWITHIN",
                 "ST_X", "ST_Y") and i + 1 < n and toks[i + 1] == "(":
            d, j = 0, i + 1
            while j < n:
                if toks[j] == "(":
                    d += 1
                elif toks[j] == ")":
                    d -= 1
                    if d == 0:
                        break
                j += 1
            if j >= n:
                return None
            repl = None
            if u in ("ST_X", "ST_Y"):
                xy = pt_xy(i + 2, j)
                if xy is not None:
                    repl = xy[0] if u == "ST_X" else xy[1]
            elif u == "ST_DWITHIN":
                parts = _split_args(toks, i + 2, j)
                if parts is not None and len(parts) == 3:
                    xy1 = pt_xy(*parts[0])
                    xy2 = pt_xy(*parts[1])
                    if xy1 is not None and xy2 is not None:
                        dist = sql[spans[parts[2][0]][0]:
                                   spans[parts[2][1] - 1][1]]
                        # kernel boundary: r <= d + 1e-12 (_EPS)
                        repl = ("( " + _EUCLID_SQL.format(
                            lon1=xy1[0], lat1=xy1[1],
                            lon2=xy2[0], lat2=xy2[1])
                            + f" <= ( ( {dist} ) + 1e-12 ) )")
            else:
                args = _split_two_args(toks, i + 2, j)
                if args is not None:
                    xy1 = pt_xy(*args[0])
                    xy2 = pt_xy(*args[1])
                    if xy1 is not None and xy2 is not None:
                        fmt = (_HAVERSINE_SQL if u == "ST_DISTANCESPHERE"
                               else _EUCLID_SQL)
                        repl = fmt.format(
                            lon1=xy1[0], lat1=xy1[1],
                            lon2=xy2[0], lat2=xy2[1])
            if repl is not None:
                edits.append((spans[i][0], spans[j][1], repl))
                i = j + 1
                continue
        i += 1
    if not edits:
        return None
    out = sql
    for s, e, txt in reversed(edits):
        out = out[:s] + txt + out[e:]
    return out


def _split_two_args(toks, lo, hi):
    """toks[lo:hi] = contents of a call; split on the single top-level
    comma -> ((a_lo, a_hi), (b_lo, b_hi)) or None."""
    d = 0
    cut = None
    for j in range(lo, hi):
        t = toks[j]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and t == ",":
            if cut is not None:
                return None
            cut = j
    if cut is None or cut == lo or cut == hi - 1:
        return None
    return (lo, cut), (cut + 1, hi)


def _split_args(toks, lo, hi):
    """toks[lo:hi] = call contents; split on top-level commas -> list of
    (a_lo, a_hi) spans (no arity constraint), or None when empty."""
    d = 0
    spans = []
    start = lo
    for j in range(lo, hi):
        t = toks[j]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and t == ",":
            spans.append((start, j))
            start = j + 1
    spans.append((start, hi))
    if any(s[1] <= s[0] for s in spans):
        return None
    return spans


def _match_point_call(toks, lo, hi):
    """toks[lo:hi] == ST_Point ( X , Y ) -> (x_span, y_span) or None."""
    if (hi - lo < 6 or toks[lo].upper() != "ST_POINT" or toks[lo + 1] != "("
            or toks[hi - 1] != ")"):
        return None
    return _split_two_args(toks, lo + 2, hi - 1)


def peephole_scalar(sql: str) -> str | None:
    """Rewrite ST_DistanceSphere/ST_Distance over two directly
    constructed ST_Point(x, y) calls into the equivalent native
    arithmetic (whole-stage codegen: the measured sf10 wall of the
    haversine bulk kernel drops ~5x by deleting the WKB build +
    Arrow/python round trip).  Returns the rewritten SQL or None."""
    if not _PEEP_PRECHECK.search(sql):
        return None
    toks = _tokenize(sql)
    if toks is None:
        return None
    changed = False
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        u = t.upper()
        if u in ("ST_DISTANCESPHERE", "ST_DISTANCE", "ST_DWITHIN") \
                and i + 1 < n and toks[i + 1] == "(":
            d = 0
            j = i + 1
            while j < n:
                if toks[j] == "(":
                    d += 1
                elif toks[j] == ")":
                    d -= 1
                    if d == 0:
                        break
                j += 1
            if j < n:
                def _span(s):
                    inner = _render(toks[s[0]:s[1]])
                    return peephole_scalar(inner) or inner

                repl = None
                if u == "ST_DWITHIN":
                    parts = _split_args(toks, i + 2, j)
                    if parts is not None and len(parts) == 3:
                        pa = _match_point_call(toks, *parts[0])
                        pb = _match_point_call(toks, *parts[1])
                        if pa is not None and pb is not None:
                            dist = _span(parts[2])
                            # the kernel compares r <= d + 1e-12
                            # (algorithms.dwithin _EPS): keep the
                            # boundary semantics identical
                            repl = ("( " + _EUCLID_SQL.format(
                                lon1=_span(pa[0]), lat1=_span(pa[1]),
                                lon2=_span(pb[0]), lat2=_span(pb[1]))
                                + f" <= ( ( {dist} ) + 1e-12 ) )")
                else:
                    args = _split_two_args(toks, i + 2, j)
                    if args is not None:
                        pa = _match_point_call(toks, *args[0])
                        pb = _match_point_call(toks, *args[1])
                        if pa is not None and pb is not None:
                            fmt = (_HAVERSINE_SQL
                                   if u == "ST_DISTANCESPHERE"
                                   else _EUCLID_SQL)
                            repl = fmt.format(
                                lon1=_span(pa[0]), lat1=_span(pa[1]),
                                lon2=_span(pb[0]), lat2=_span(pb[1]))
                if repl is not None:
                    out.append(repl)
                    changed = True
                    i = j + 1
                    continue
        out.append(t)
        i += 1
    return _render(out) if changed else None


# ----------------------------------------------------------------------
# session installation
# ----------------------------------------------------------------------

def _route(spark, query: str, vanilla, vname: str):
    """The rewrite of ``query``: a routed DataFrame (its join registered
    as ``vname``), a rewritten text to run vanilla, or None (decline)."""
    peeped = peephole_scalar(query)
    text = peeped if peeped is not None else query
    out = try_rewrite(spark, text, vanilla, vname)
    if out is not None:
        return out
    # scalar spatial calls over certified all-point columns -> native
    # bit-extraction arithmetic (runs on the peepholed text, so both
    # rewrites compose)
    return rewrite_certified_scalar(spark, text, vanilla) or peeped


def _warn_rewrite_failed(exc: Exception) -> None:
    # a rewrite bug must not pass for a decline: the vanilla plan is
    # correct but may be a Python-predicate nested-loop join
    warnings.warn(f"spatial SQL rewrite failed, answering with the vanilla "
                  f"plan: {type(exc).__name__}: {exc}", RuntimeWarning,
                  stacklevel=3)


def _is_query(sql: str) -> bool:
    """Whether ``sql`` is a plain query, which ``spark.sql`` only
    analyses; a command (INSERT, CTAS, CREATE VIEW) runs at once, so it
    must never run again for a plan key.  Anything odd is a command."""
    toks = _tokenize(sql)
    if not toks or toks[0].upper() not in ("SELECT", "WITH", "FROM",
                                           "VALUES", "TABLE", "("):
        return False
    # WITH ... INSERT, FROM s INSERT ... (multi-insert)
    return not any(d == 0 and t.upper() in ("INSERT", "UPDATE", "DELETE",
                                            "MERGE")
                   for t, d in zip(toks, _depths(toks)))


def install_sql_rewrite(spark: SparkSession) -> None:
    """Wrap ``spark.sql`` so spatial joins plan through the engine's
    operators.  Idempotent per session; vanilla behavior for every
    non-matching query (including parameterized sql(..., args)).

    Rewrites and declines of queries are memoized on (query text, plan
    confs, ``plan_key`` of the query's vanilla analyzed plan, which
    inlines every view, table and file listing it reads), so a replaced
    view, an appended file or a changed conf is a new key; a hit replays
    the rewritten SQL against the join view named from its key, which is
    dropped with the entry.  Commands and queries without a plan key are
    routed per call, never memoized; a rewrite that raises warns and
    answers vanilla, unmemoized."""
    if getattr(spark, "_sedona_sql_rewrite_memo", None) is not None:
        return
    vanilla = spark.sql

    def _drop_join_view(key, routed) -> None:
        if routed is not None:
            try:
                spark.catalog.dropTempView(_join_view_name(key))
            except Exception:
                pass            # session already stopped

    memo = BoundedMemo(256, on_evict=_drop_join_view)
    _MISS = object()

    def sql(query, *args, **kwargs):
        if args or kwargs or not isinstance(query, str):
            return vanilla(query, *args, **kwargs)
        if _OVERLOAD_PRECHECK.search(query):
            try:
                query = rewrite_relate_pattern(query) or query
            except Exception as exc:
                _warn_rewrite_failed(exc)
        if not (_PRECHECK.search(query) or _PEEP_PRECHECK.search(query)
                or _CERT_PRECHECK.search(query)):
            return vanilla(query)
        base = pk = None
        if _is_query(query):
            try:
                base = vanilla(query)
            except Exception:
                pass            # re-raised by the vanilla answer below
            pk = plan_key(base) if base is not None else None
        key = (query, _plan_conf_fingerprint(spark), pk)
        hit = memo.get(key, _MISS)       # pk None is never stored
        if hit is None:          # a memoized decline
            return base
        if hit is not _MISS:
            return vanilla(hit)
        try:
            out = _route(spark, query, vanilla, _join_view_name(key))
        except Exception as exc:
            _warn_rewrite_failed(exc)
            return base if base is not None else vanilla(query)
        routed = getattr(out, "_sedona_rewritten_sql", out)
        if pk is not None:
            memo.put(key, routed)
        if isinstance(out, DataFrame):
            return out
        if routed is not None:
            return vanilla(routed)
        return base if base is not None else vanilla(query)

    spark.sql = sql
    spark._sedona_sql_rewrite_memo = memo
