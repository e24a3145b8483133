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
- ``WHERE [NOT] EXISTS (SELECT .. FROM b WHERE ST_Pred(a.g, b.g) ..)``
  -> the same route as ``LEFT SEMI/ANTI JOIN``, and all-inner FROM
  chains of 3+ relations -> the spatial pair through the operator, the
  rest through Catalyst's hash joins (the matcher banner lists shapes)
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
from collections import namedtuple

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

# the spatial join predicate calls (the comparison form aside)
_SPATIAL_CALLS = set(_PRED_NAMES) | set(_RS_PRED_NAMES) | {"ST_DWITHIN",
                                                           "ST_KNN"}

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


# integer literal suffixes -> magnitude of the type's most negative value
_INT_SUFFIX_MAX = {"L": 2 ** 63, "S": 2 ** 15, "Y": 2 ** 7}
_NUM_LITERAL = re.compile(r"(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?(BD|D|L|S|Y)?",
                          re.I)


def _literal_number(toks, lo, hi):
    """A (negated) numeric literal span -> the double vanilla Spark hands
    the kernel, else None.  Plain, ``D`` and ``BD`` literals are the
    decimal's nearest double; ``L``/``S``/``Y`` integers must fit their
    type; ``F`` (a float32, rounded before the kernel sees it) is not a
    literal here, so its conjunct declines."""
    span = toks[lo:hi]
    sign = 1
    if len(span) == 2 and span[0] == "-":
        sign, span = -1, span[1:]
    m = _NUM_LITERAL.fullmatch(span[0]) if len(span) == 1 else None
    if m is None:
        return None
    body, exp, suffix = m.group(1), m.group(2), (m.group(3) or "").upper()
    if suffix in _INT_SUFFIX_MAX:
        if not body.isdigit() or exp \
                or int(body) > _INT_SUFFIX_MAX[suffix] - (sign > 0):
            return None
        return float(sign * int(body))
    return sign * float(body + (exp or ""))


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
    if fname not in _SPATIAL_CALLS:
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


def _is_equi_conjunct(toks, lo, hi, aliases, schemas, pair) -> bool:
    """x = y with x and y from the two different relations of ``pair``
    (reference declines the spatial rewrite then — optimizer.rs:253-257);
    equi keys touching any other relation are what a chain keeps for
    Catalyst's hash joins."""
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
            if lhs and rhs and lhs != rhs and (lhs | rhs) <= set(pair):
                return True
    return False


# ----------------------------------------------------------------------
# the matcher: one FROM-clause scanner for every routed shape
#
#   FROM a <join word> b ON c1 AND ...    two relations: the join word
#                                         picks the mode, across the whole
#                                         lattice (INNER / LEFT / RIGHT /
#                                         FULL / SEMI / ANTI)
#   FROM a, b / a CROSS JOIN b WHERE ...  inner; the conjuncts live in the
#                                         WHERE (the reference merges the
#                                         filter into the join first,
#                                         optimizer.rs:197-261)
#   FROM a JOIN b ON .. JOIN c ON ..      three or more relations, all
#   / FROM a, b, c WHERE ...              inner (inner joins commute and
#                                         associate, so every ON conjunct
#                                         is a WHERE conjunct): the spatial
#                                         conjunct picks the pair, the
#                                         other relations stay in the FROM
#                                         and Catalyst re-derives their
#                                         hash joins
#   FROM a WHERE .. [NOT] EXISTS (        normalized onto FROM a LEFT
#     SELECT .. FROM b WHERE ..)          SEMI/ANTI JOIN b' ON <the one
#                                         spatial or a-naming conjunct>,
#                                         where b' is b pre-filtered by
#                                         the others
#                                         (reference SpatialJoinExec
#                                         LeftSemi/LeftAnti; vanilla Spark
#                                         cannot decorrelate a Python-UDF
#                                         predicate)
#
# Every shape then runs the one pair-join core (_rewrite).  The matcher
# declines NATURAL / USING / LATERAL joins, repeated aliases, a 3+ chain
# with an outer/semi/anti join word or a bare ``*`` (the output column
# order would follow the view, not the FROM list), an EXISTS subquery with
# joins / GROUP BY / ... or with other than exactly one spatial or
# outer-naming conjunct, and top-level OR / NOT in a conjunct list.  The core
# declines when no conjunct is spatial, spatial conjuncts name different
# pairs, an equi key links the pair (hash join wins — reference
# optimizer.rs:253-257), KNN sits outside an inner join, a radius
# column lives outside the pair, or a pair alias inside a moved ON
# conjunct is re-declared by a subquery there.  The emitter maps only the
# `alias.col` tokens that bind to the matched query block
# (_query_scopes): a subquery or UNION branch that declares the alias
# again keeps its own text.
# ----------------------------------------------------------------------

# join words -> the mode of the join they introduce; "cross" (a comma or
# CROSS JOIN) is an inner join whose condition lives in the WHERE clause
_JOIN_KINDS = {
    (",",): "cross", ("CROSS", "JOIN"): "cross",
    ("JOIN",): "inner", ("INNER", "JOIN"): "inner",
    ("LEFT", "JOIN"): "left", ("LEFT", "OUTER", "JOIN"): "left",
    ("RIGHT", "JOIN"): "right", ("RIGHT", "OUTER", "JOIN"): "right",
    ("FULL", "JOIN"): "full", ("FULL", "OUTER", "JOIN"): "full",
    ("SEMI", "JOIN"): "left_semi", ("LEFT", "SEMI", "JOIN"): "left_semi",
    ("ANTI", "JOIN"): "left_anti", ("LEFT", "ANTI", "JOIN"): "left_anti",
}


def _join_kind(toks, j):
    """(mode, index past the words) of the join words at token j, or
    (None, j)."""
    for w in (3, 2, 1):
        kind = _JOIN_KINDS.get(tuple(t.upper() for t in toks[j:j + w]))
        if kind is not None:
            return kind, j + w
    return None, j


def _span_end(toks, depths, k, d, stops, joins=False):
    """End of the clause starting at token k of a depth-d block: the
    first depth-d token in ``stops`` (or join word, with ``joins``), or
    the block's close."""
    n = len(toks)
    while k < n and depths[k] >= d:
        if depths[k] == d and (toks[k].upper() in stops
                               or (joins and _join_kind(toks, k)[0])):
            break
        k += 1
    return k


def _scan_from(toks, depths, i):
    """The FROM clause at token i -> (relations, join modes, ON spans
    (None after a cross join), clause end)."""
    n, d = len(toks), depths[i]
    rel, j = _parse_rel(toks, i + 1)
    rels, kinds, ons = [rel], [], []
    while j < n and depths[j] == d:
        kind, j = _join_kind(toks, j)
        if kind is None:
            break
        rel, j = _parse_rel(toks, j)
        on = None
        if kind != "cross":
            if not (j < n and toks[j].upper() == "ON"):
                raise _Decline           # USING (...)
            on = (j + 1, _span_end(toks, depths, j + 1, d, _BLOCK_END,
                                   joins=True))
            j = on[1]
        rels.append(rel)
        kinds.append(kind)
        ons.append(on)
    if j < n and depths[j] == d and toks[j].upper() not in _BLOCK_END:
        raise _Decline                   # NATURAL / LATERAL / ...
    return rels, kinds, ons, j


# A FROM clause the rewrite may route: its relations, the join mode of
# its spatial pair, and the ON / WHERE conjunct spans to classify.  The
# emitter replaces tokens [from_idx, end) — the FROM clause — and turns
# ``true_span`` (an EXISTS conjunct) into TRUE.
_Match = namedtuple("_Match", "from_idx end rels how on where true_span",
                    defaults=(None,))


_SET_OPS = {"UNION", "INTERSECT", "EXCEPT", "MINUS"}


def _query_scopes(toks, depths):
    """(lo, hi, depth, aliases) of every query block with a FROM clause:
    its SELECT up to a set operator at its depth or the close of its
    parentheses.  ``aliases`` (the FROM clause's relation aliases) is
    None when the clause does not parse.  An ``alias.col`` token binds
    to the innermost block that declares the alias."""
    scopes = []
    for f, t in enumerate(toks):
        if t.upper() != "FROM":
            continue
        d = depths[f]
        lo = f - 1
        while lo >= 0 and depths[lo] >= d and not (
                depths[lo] == d and toks[lo].upper() in _SET_OPS | {"SELECT"}):
            lo -= 1
        if lo < 0 or depths[lo] != d or toks[lo].upper() != "SELECT":
            continue                     # EXTRACT(.. FROM ..) and kin
        hi = _span_end(toks, depths, f + 1, d, _SET_OPS)
        try:
            aliases = {r.alias for r in _scan_from(toks, depths, f)[0]}
        except _Decline:
            aliases = None
        scopes.append((lo, hi, d, aliases))
    return scopes


def _binding_scope(scopes, k, alias):
    """The innermost query block around token k that declares ``alias``
    (or whose FROM clause did not parse), or None."""
    return max((s for s in scopes if s[0] <= k < s[1]
                and (s[3] is None or alias in s[3])),
               key=lambda s: s[2], default=None)


def _joins_outer(toks, depths, lo, hi, alias) -> bool:
    """Whether the EXISTS conjunct toks[lo:hi] belongs in the join
    condition: it holds an ``alias.col`` reference to the outer relation
    or is a spatial-predicate call (whose bare geometry names resolve
    against both sides)."""
    lo, hi = _unparen(toks, depths, lo, hi)
    if toks[lo].upper() in _SPATIAL_CALLS and toks[lo + 1:lo + 2] == ["("]:
        return True
    return any(_is_ident(toks[j]) and _unquote(toks[j]) == alias
               and toks[j + 1] == "." for j in range(lo, hi - 2))


def _matches(toks, depths):
    """Every FROM clause of the query the core may route, in text order."""
    for i, t in enumerate(toks):
        if t.upper() != "FROM":
            continue
        try:
            rels, kinds, ons, end = _scan_from(toks, depths, i)
            where = None
            if end < len(toks) and toks[end].upper() == "WHERE":
                where = (end + 1, _span_end(toks, depths, end + 1, depths[i],
                                            _BLOCK_END - {"WHERE"}))
            if len(rels) == 1:
                if depths[i] == 0 and where is not None:
                    for lo, hi in _split_conjuncts(toks, *where):
                        m = _exists_match(toks, depths, i, rels[0], lo, hi)
                        if m is not None:
                            yield m
                continue
            if len({r.alias for r in rels}) != len(rels):
                continue
            if len(rels) > 2 and (set(kinds) - {"inner", "cross"} or any(
                    t2 == "*" and k and toks[k - 1] not in (".", "(")
                    and not any(r.start <= k < r.end for r in rels)
                    for k, t2 in enumerate(toks))):
                continue
            on = [c for span in ons if span is not None
                  for c in _split_conjuncts(toks, *span)]
            wh = (_split_conjuncts(toks, *where)
                  if where is not None and (len(rels) > 2 or "cross" in kinds)
                  else [])
            how = kinds[0] if len(rels) == 2 and kinds[0] != "cross" \
                else "inner"
            yield _Match(i, end, rels, how, on, wh)
        except _Decline:
            continue


def _exists_match(toks, depths, i, rel1, lo, hi):
    """The conjunct toks[lo:hi] of ``FROM rel1 WHERE ...`` as a semi/anti
    _Match when it is ``[NOT] EXISTS (SELECT .. FROM r2 b [WHERE ..])``,
    else None.  The one conjunct that is a spatial predicate or names
    rel1 becomes the ON clause; the others pre-filter r2 as
    ``(SELECT * FROM r2 AS b WHERE ..) b`` (exact EXISTS semantics; a bare
    name of rel1 there fails analysis, which declines), and that shape
    keeps r2's certificate (_subquery_shadow_base)."""
    p = lo + (toks[lo].upper() == "NOT")
    if not (p + 1 < hi and toks[p].upper() == "EXISTS"
            and toks[p + 1] == "(" and toks[hi - 1] == ")"):
        return None
    sub_lo, sub_hi = p + 2, hi - 1
    ds = depths[sub_lo]
    f = next((k for k in range(sub_lo, sub_hi) if depths[k] == ds
              and toks[k].upper() in _BLOCK_END | {"FROM"}), None)
    if f is None or toks[f].upper() != "FROM":
        return None
    try:
        rels, _, _, end = _scan_from(toks, depths, f)
        conjs = []
        if end < sub_hi:
            if toks[end].upper() != "WHERE" or any(
                    depths[k] == ds and toks[k].upper() in _BLOCK_END
                    for k in range(end + 1, sub_hi)):
                return None
            conjs = _split_conjuncts(toks, end + 1, sub_hi)
    except _Decline:
        return None
    outer = [c for c in conjs if _joins_outer(toks, depths, *c, rel1.alias)]
    if len(rels) != 1 or rels[0].alias == rel1.alias or len(outer) != 1:
        return None
    rel2 = rels[0]
    pre = [c for c in conjs if c not in outer]
    if pre:
        src = f"( {rel2.text} )" if rel2.is_subquery else rel2.text
        cond = " AND ".join("( " + _render(toks[a:b]) + " )" for a, b in pre)
        rel2 = _Rel(rel2.start, rel2.end, rel2.alias, True,
                    f"SELECT * FROM {src} AS `{rel2.alias}` WHERE {cond}")
    return _Match(i, rel1.end, [rel1, rel2],
                  "left_anti" if p > lo else "left_semi", outer, [],
                  true_span=(lo, hi))


# ----------------------------------------------------------------------
# the rewrite
# ----------------------------------------------------------------------

def _join_view_name(key) -> str:
    """Temp-view name of a rewrite's join, from its memo key (query text,
    plan confs, plan key): a memo hit replays the view built for exactly
    those relations, never a join rebuilt under another version."""
    return "__sedona_sql_join_" + hashlib.sha1(
        repr(key).encode()).hexdigest()[:12]


# the spatial pair handed to the join builders: its two relations in
# FROM order and the join mode
_Pair = namedtuple("_Pair", "rel1 rel2 how")


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
    temp view ``vname``; None means 'use vanilla'.  The first FROM clause
    (in text order) the core routes wins."""
    if not _PRECHECK.search(sql):
        return None
    toks = _tokenize(sql)
    if toks is None:
        return None
    depths = _depths(toks)
    for m in _matches(toks, depths):
        try:
            return _rewrite(spark, toks, depths, m, vanilla_sql, vname)
        except _Decline:
            continue
    return None


def _unparen(toks, depths, lo, hi) -> tuple[int, int]:
    """A conjunct span without one pair of enclosing parentheses."""
    if (toks[lo] == "(" and toks[hi - 1] == ")"
            and min(depths[lo + 1:hi - 1] or [0]) > depths[lo]):
        return lo + 1, hi - 1
    return lo, hi


def _candidate_rank(sc) -> int:
    """Cheapest candidate cut first: plain relation bbox, then
    literal-radius dwithin, then column-radius / comparison forms
    (those add an eager MAX agg)."""
    if sc.kind == "relation" and not sc.keep_refine:
        return 0
    if sc.kind == "dwithin" and sc.dist_col is None and not sc.keep_refine:
        return 1
    return 2


def _rewrite(spark, toks, depths, m: _Match, vanilla_sql, vname):
    """The pair-join core: route the spatial pair of ``m`` through the
    engine's operators and run the rebuilt query over the join view."""
    from pyspark.sql import functions as F

    # the query block of the matched FROM clause: only its own
    # `alias.col` / `alias.*` tokens (and correlated ones in blocks
    # nested in it that do not declare the alias again) refer to the pair
    scopes = _query_scopes(toks, depths)
    d = depths[m.from_idx]
    mine = next((s for s in scopes if s[0] < m.from_idx < s[1]
                 and s[2] == d), None)
    if mine is None:
        raise _Decline

    def binds_here(k, a) -> bool:
        s = _binding_scope(scopes, k, a)
        if s is not None and s[3] is None:
            raise _Decline               # a nested FROM we cannot read
        return s is mine

    dfs = {r.alias: _resolve_df(spark, vanilla_sql, r) for r in m.rels}
    aliases = tuple(dfs)
    full = dict(dfs)

    # column pruning through the rewrite boundary: the join view would
    # otherwise drag every source column through the operator's Arrow/
    # python stages (any SQL column reference appears as its literal
    # identifier token, so keeping every mentioned name is safe).
    # A bare `*` keeps every side whole, `alias.*` of the matched block
    # keeps that side whole; `count(*)`-style stars (token directly
    # after "(") don't block, nor, in a 3+ chain, the stars inside a
    # relation's own subquery.
    skip = [r for r in m.rels if r.is_subquery] if len(m.rels) > 2 else []
    star_sides = set()
    for i, t in enumerate(toks):
        if (t != "*" or (i > 0 and toks[i - 1] == "(")
                or any(r.start <= i < r.end for r in skip)):
            continue
        if i >= 2 and toks[i - 1] == "." and _is_ident(toks[i - 2]):
            a = _unquote(toks[i - 2])
            if a in aliases and binds_here(i - 2, a):
                star_sides.add(a)
        else:
            star_sides.update(aliases)
    mentioned = {_unquote(t) for t in toks if _is_ident(t)}
    for a in aliases:
        if a not in star_sides:
            dfs[a] = dfs[a].select([c for c in dfs[a].columns
                                    if c in mentioned])
    schemas = {a: set(df.columns) for a, df in dfs.items()}

    spatials, rest = [], []
    for span in m.on + m.where:
        sc = _parse_spatial_conjunct(toks, *_unparen(toks, depths, *span),
                                     aliases, schemas)
        if sc is None:
            rest.append(span)
        else:
            spatials.append((sc, span))
    if not spatials:
        raise _Decline
    # two+ spatial predicates (e.g. ST_Intersects(a,b) AND
    # ST_DWithin(a,b,d)): the cheapest becomes the candidate-generating
    # join, the others ride as exact per-row refines (the SAME
    # dispatched kernels vanilla evaluates, so boundary semantics are
    # unchanged; conjunction only ever shrinks the chosen join's
    # result).  KNN is not a row filter, so any KNN conjunct declines.
    if len(spatials) > 1:
        if any(sc.kind == "knn" for sc, _ in spatials):
            raise _Decline
        spatials.sort(key=lambda p: _candidate_rank(p[0]))
    spatial, spatial_span = spatials[0]
    pair = tuple(a for a in aliases if a in spatial.arg_rels)
    if any(set(sc.arg_rels) != set(pair) for sc, _ in spatials):
        raise _Decline
    if any(_is_equi_conjunct(toks, *_unparen(toks, depths, *span),
                             aliases, schemas, pair) for span in rest):
        raise _Decline               # equi-key present: hash join wins
    if spatial.kind == "knn" and m.how != "inner":
        raise _Decline
    if spatial.dist_col is not None and spatial.dist_col[0] not in pair:
        raise _Decline               # radius on a third relation
    for a, c in zip(spatial.arg_rels, spatial.arg_cols):
        if c not in schemas[a]:
            raise _Decline

    # ON conjuncts beyond the candidate-generating one (the other
    # spatial predicates, a comparison form's exact refine, plain
    # conjuncts): inner joins move them to the rebuilt WHERE; the rest
    # of the lattice (round 10) filters the inner core with them before
    # the row-id mode bookkeeping (a refine only ever shrinks the inner
    # result, so match tracking is unchanged — an outer WHERE would
    # instead drop padded LEFT rows / flip anti verdicts).  WHERE
    # conjuncts stay in place; the spatial one there becomes TRUE.
    extra = [span for _, span in spatials[1:]]
    if spatial.keep_refine:
        extra.append(spatial_span)
    on_rest = [s for s in rest if s in m.on]
    on_extra = [s for s in extra if s in m.on]
    if m.how == "inner":
        moved, refines = on_rest + on_extra, []
    else:
        moved, refines = [], on_extra + on_rest
    true_at = dict([m.true_span] if m.true_span is not None else [])
    if not spatial.keep_refine and spatial_span in m.where:
        true_at[spatial_span[0]] = spatial_span[1]

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
    geom = dict(zip(spatial.arg_rels, spatial.arg_cols))
    rel_of = {r.alias: r for r in m.rels}
    shadows: dict[str, dict[str, tuple]] = {}
    for a in pair:
        rel = rel_of[a]
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
            xy = _relation_shadow(spark, tbl, geom[a])
        except Exception:
            xy = None
        full_cols = full[a].columns
        if not xy or xy[0] not in full_cols or xy[1] not in full_cols:
            continue
        if any(c not in dfs[a].columns for c in xy):
            keep = set(dfs[a].columns) | set(xy)
            dfs[a] = full[a].select([c for c in full_cols if c in keep])
        shadows[a] = {geom[a]: tuple(xy)}
    if shadows:
        schemas.update({a: set(dfs[a].columns) for a in pair})

    # -------- column disambiguation (right side renamed on collision)
    a1, a2 = pair
    ldf, rdf = dfs[a1], dfs[a2]
    lcols = list(ldf.columns)
    collide = set(lcols) & set(rdf.columns)
    rmap = {c: (f"{a2}__{c}" if c in collide else c) for c in rdf.columns}
    if any(v in lcols for c, v in rmap.items() if v != c):
        raise _Decline               # pathological rename collision
    rdf_r = rdf.select([F.col(c).alias(v) for c, v in rmap.items()])

    def out_name(alias, col):
        return col if alias == a1 else rmap.get(col, col)

    g1, g2 = geom[a1], rmap.get(geom[a2], geom[a2])
    # shadow tuples resolved onto the operator-side column names
    sxy1 = shadows.get(a1, {}).get(g1)
    sxy2 = shadows.get(a2, {}).get(geom[a2])
    if sxy2 is not None:
        sxy2 = (rmap.get(sxy2[0], sxy2[0]), rmap.get(sxy2[1], sxy2[1]))
    if spatial.dist_col is not None:
        da, dc = spatial.dist_col
        spatial.dist_col_resolved = (da, out_name(da, dc))

    def map_span(lo, hi, prefix=""):
        """_map_alias_refs over a conjunct span, with certified-scalar
        calls substituted by native shadow arithmetic first (round 12)."""
        for k in range(lo, hi - 1):
            a = _unquote(toks[k])
            if a in pair and toks[k + 1] == ".":
                s = _binding_scope(scopes, k, a)
                if s is not None and lo <= s[0] < hi:
                    raise _Decline       # a subquery in it re-declares a
        seg = toks[lo:hi]
        if shadows:
            seg = _subst_certified_calls(seg, shadows, aliases,
                                         schemas) or seg
        return _map_alias_refs(seg, pair, out_name, prefix)

    # the view's `alias.col` / `alias.*` tokens (semi/anti views hold the
    # left side only) that bind to the matched block
    shown = pair if m.how not in ("left_semi", "left_anti") else (a1,)
    view_refs = {k for k in range(len(toks) - 2)
                 if _is_ident(toks[k]) and _unquote(toks[k]) in shown
                 and toks[k + 1] == "."
                 and (toks[k + 2] == "*" or _is_ident(toks[k + 2]))
                 and binds_here(k, _unquote(toks[k]))}

    pj = _Pair(rel_of[a1], rel_of[a2], m.how)
    if refines:
        # lattice modes with extra conjuncts (round 10): build the
        # candidate join as INNER, filter it with the exact per-row
        # conjuncts (mapped onto the view's output names), then derive
        # the requested mode from row-id match tracking — semantically
        # `ON (c1 AND c2 AND ...)`, because the refined inner result IS
        # the true match set and a refine only ever shrinks it.
        refine_sql = " AND ".join(
            "( " + _render(map_span(lo, hi)) + " )" for lo, hi in refines)

        def _refined_inner(l2, r2):
            return _build_join(spark, pj._replace(how="inner"), spatial,
                               l2, r2, g1, g2, sxy1=sxy1, sxy2=sxy2) \
                .filter(F.expr(refine_sql))

        # shadow-certified geometries stay out of the lattice content
        # hash (bit-determined by their shadow doubles), so the
        # constructor prunes from the id-only branches
        joined = _lattice(ldf, rdf_r, m.how, _refined_inner,
                          l_exclude=(g1,) if sxy1 else (),
                          r_exclude=(g2,) if sxy2 else ())
    else:
        joined = _build_join(spark, pj, spatial, ldf, rdf_r, g1, g2,
                             sxy1=sxy1, sxy2=sxy2)

    # -------- the emitter: the FROM clause becomes the relations outside
    # the pair plus the join view; moved ON conjuncts open the WHERE,
    # ahead of the original WHERE in parentheses; the view's `alias.col` /
    # `alias.*` tokens map onto its columns, and an unaliased select-list
    # reference to a renamed column gets AS back to its own name, so the
    # output schema matches vanilla planning.  A bare `*` select item is
    # spelled as every visible relation's `alias.*`, in FROM order.
    view = f"`{vname}`."
    sel = mine[0]

    def star(a, in_select):
        if a not in pair:
            return f"`{a}`.*"
        cols = [(c, c) for c in lcols] if a == a1 else list(rmap.items())
        return " , ".join(
            f"{view}`{v}`" + (f" AS `{c}`" if in_select and v != c else "")
            for c, v in cols)

    # an ST_KNN view also carries knn_distance (vanilla cannot plan the
    # join, so its `SELECT *` keeps the view's columns): after the pair
    visible = [r.alias for r in m.rels if r.alias not in pair
               or r.alias in shown]
    stars = [star(a, True) for a in visible]
    if spatial.kind == "knn":
        last = max(i for i, a in enumerate(visible) if a in pair)
        stars[last] += f" , {view}`knn_distance`"
    bare_star = " , ".join(stars)
    out = []
    k, n, close_at = 0, len(toks), None
    while k < n:
        if k == close_at:
            out.append(")")
        if k == m.from_idx:
            out.append("FROM")
            out.append(" , ".join([_render(toks[r.start:r.end])
                                   for r in m.rels if r.alias not in pair]
                                  + [vname]))
            k = m.end
            if moved:
                out.append("WHERE")
                out.append(" AND ".join(
                    "( " + _render(map_span(lo, hi, view)) + " )"
                    for lo, hi in moved))
                if k < n and toks[k].upper() == "WHERE":
                    out.extend(["AND", "("])
                    close_at = _span_end(toks, depths, k + 1, d,
                                         _BLOCK_END - {"WHERE"})
                    k += 1
            continue
        if k in true_at:
            out.append("TRUE")
            k = true_at[k]
            continue
        if (toks[k] == "*" and sel < k < m.from_idx and depths[k] == d
                and toks[k - 1].upper() in ("SELECT", "DISTINCT", "ALL", ",")
                and (k + 1 == m.from_idx or toks[k + 1] == ",")):
            out.append(bare_star)
            k += 1
            continue
        if k in view_refs:
            a = _unquote(toks[k])
            in_select = sel < k < m.from_idx and depths[k] == d
            if toks[k + 2] == "*":
                out.append(star(a, in_select))
            else:
                col = _unquote(toks[k + 2])
                v = out_name(a, col)
                item = (in_select and toks[k - 1].upper() in (
                    "SELECT", "DISTINCT", "ALL", ",")
                    and (k + 3 == m.from_idx or toks[k + 3] == ","))
                out.append(f"{view}`{v}`"
                           + (f" AS `{col}`" if item and v != col else ""))
            k += 3
            continue
        out.append(toks[k])
        k += 1
    if close_at == n:
        out.append(")")
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
        # the SQL surface exposes both sides' columns (+ knn_distance,
        # which a bare `SELECT *` keeps)
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
    """``SELECT * FROM <name> [[AS] alias] [WHERE/ORDER/LIMIT ...]`` ->
    the base relation name, else None.  Only this shape may inherit the
    base's point-shadow certificate: the invariant is per-row, so filters
    and row subsets preserve it, and bare ``*`` preserves column
    identity."""
    t = _tokenize(text)
    if not t or len(t) < 4:
        return None
    if (t[0].upper() != "SELECT" or t[1] != "*" or t[2].upper() != "FROM"
            or not _is_ident(t[3])):
        return None
    _alias, j = _parse_alias(t, 4)
    if len(t) > j and t[j].upper() not in ("WHERE", "ORDER", "LIMIT"):
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
