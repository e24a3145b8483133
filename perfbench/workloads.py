"""The benchmark workloads: set-up, one operation, answer checks.

Each workload has the set-up hooks of :class:`Workload` (views,
certificates, layouts: the part of ``setup_s`` after session start), an
untimed ``warmup(ctx)``, and ``op(ctx, i)``, which runs operation ``i``
and returns an :class:`Op`.  An operation's wall time is, for every
step, construction plus a full execution that fetches the (small)
result; answer checks run afterwards, outside the timed region (their
time is ``Op.check_s``), against DuckDB, NumPy or Python oracles
computed from the generated inputs alone.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import spans as tr

EARTH_R = 6371008.8     # mean Earth radius, metres (haversine)


@dataclass
class Ctx:
    spark: object
    tracer: tr.Tracer
    rpc: tr.RpcCounter | None
    inputs: str               # per-seed input cache
    work: str                 # scratch outputs (geoparquet, layouts)
    seed: int
    steps: list = field(default_factory=list)   # traced step records

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


@dataclass
class Op:
    wall_s: float
    input_rows: int
    ok: bool
    result_rows: int
    digest: str
    detail: str = ""       # what went wrong, if anything
    label: str = ""        # what the operation ran
    check_s: float = 0.0   # answer-check time, outside wall_s


def digest(df: pd.DataFrame, keys: list[str]) -> str:
    """Order-insensitive digest of the integer key columns of a result."""
    if df.empty:
        return "0" * 16
    h = pd.util.hash_pandas_object(df[keys].fillna(-1).astype("int64"),
                                   index=False).to_numpy(dtype=np.uint64)
    return "%016x" % int(h.sum(dtype=np.uint64))


def same_rows(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
              floats: tuple = (), rtol: float = 1e-9) -> bool:
    """Rows equal as multisets: integer keys exactly, floats to rtol."""
    if len(got) != len(want):
        return False
    cols = keys + list(floats)
    g, w = got[cols].copy(), want[cols].copy()
    for c in keys:
        g[c] = g[c].fillna(-1).astype("int64")
        w[c] = w[c].fillna(-1).astype("int64")
    g = g.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = w.sort_values(keys, kind="mergesort").reset_index(drop=True)
    if not (g[keys].to_numpy() == w[keys].to_numpy()).all():
        return False
    return all(np.allclose(g[c].to_numpy(float), w[c].to_numpy(float),
                           rtol=rtol, atol=rtol) for c in floats)


# a join predicate evaluated by a Python UDF over candidate pairs: the
# vanilla nested-loop plan the engine's routes exist to avoid
_PY_PREDICATE = re.compile(r"EvalPython \[(ST_Intersects|ST_Contains|ST_Within"
                           r"|ST_DWithin|ST_KNN)\(", re.IGNORECASE)


def run_step(ctx: Ctx, layer: str, build, py_nodes: bool = False):
    """Construct a DataFrame with ``build()`` and execute it in full,
    fetching its rows (every result here is small, so the fetch costs
    what a ``noop`` write would and the check needs no second
    execution).  Returns ``(df, rows, wall_s)``; a traced call also
    appends a step record with the construction RPCs, plan-time jobs
    and the SQL metrics of the step's executions."""
    spark = ctx.spark
    if not ctx.traced:
        t0 = time.perf_counter()
        df = build()
        rows = df.toPandas()
        return df, rows, time.perf_counter() - t0
    t0 = time.perf_counter()
    j0 = tr.last_job_id(spark)
    r0 = ctx.rpc.n
    with ctx.tracer.span(layer):
        tc = time.perf_counter()
        df = build()
        construct = time.perf_counter() - tc
    rpc = ctx.rpc.n - r0
    j1 = tr.last_job_id(spark)
    e0 = max(tr.sql_execution_ids(spark), default=-1)
    with ctx.tracer.span("exec"):
        te = time.perf_counter()
        rows = df.toPandas()
        exec_s = time.perf_counter() - te
    wall = time.perf_counter() - t0
    tr.wait_listeners(spark)
    ids = [e for e in tr.sql_execution_ids(spark) if e > e0]
    rec = {"op": ctx.tracer.op_id, "layer": layer, "construct_s": construct,
           "construct_rpc": rpc, "plan_jobs": j1 - j0, "exec_s": exec_s,
           "bookkeeping_s": wall - construct - exec_s, "out_rows": len(rows),
           "failed_tasks": tr.failed_tasks(spark, j1, tr.last_job_id(spark))}
    rec.update(tr.execution_ledger(spark, ids))
    from sedona_db_spark.plans import inspect
    plan = inspect.executed_plan(df)
    rec["cache_scan"] = "InMemoryTableScan" in plan
    rec["python_predicate"] = bool(_PY_PREDICATE.search(plan))
    if py_nodes:
        rec["python_nodes"] = inspect.python_eval_count(df)
    ctx.steps.append(rec)
    return df, rows, wall


# ----------------------------------------------------------------------
# spatial_sql: an interactive session through spark.sql
# ----------------------------------------------------------------------

# name -> (modulus, second-parameter choices, Spark SQL, DuckDB SQL or
#          None for a NumPy oracle, keys, floats, tables read)
_TEMPLATES = {
    "contains_agg": (
        8, [0],
        "SELECT b.id AS bid, count(*) AS n FROM pts p JOIN "
        "(SELECT * FROM boxes WHERE id % {m} = {r}) b "
        "ON ST_Contains(b.geom, p.geom) GROUP BY b.id",
        "SELECT b.id AS bid, count(*) AS n FROM pts p JOIN "
        "(SELECT * FROM boxes WHERE id % {m} = {r}) b "
        "ON p.x > b.x0 AND p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1 "
        "GROUP BY b.id",
        ["bid", "n"], (), ("pts", "boxes")),
    "dwithin_agg": (
        8, [1.0, 1.5, 2.0, 2.5],
        "SELECT c.id AS cid, count(*) AS n FROM "
        "(SELECT * FROM centers WHERE id % {m} = {r}) c JOIN pts p "
        "ON ST_DWithin(c.geom, p.geom, {a}) GROUP BY c.id",
        "SELECT c.id AS cid, count(*) AS n FROM "
        "(SELECT * FROM centers WHERE id % {m} = {r}) c JOIN pts p "
        "ON sqrt(power(p.x - c.x, 2) + power(p.y - c.y, 2)) <= {a} "
        "GROUP BY c.id",
        ["cid", "n"], (), ("centers", "pts")),
    "knn": (
        8, [1, 3, 5],
        "SELECT c.id AS cid, p.id AS pid FROM "
        "(SELECT * FROM centers WHERE id % {m} = {r}) c JOIN pts p "
        "ON ST_KNN(c.geom, p.geom, {a}, false)",
        None,
        ["cid", "pid"], (), ("centers", "pts")),
    "left_within": (
        8, [0],
        "SELECT p.id AS pid, b.id AS bid FROM "
        "(SELECT * FROM arrivals WHERE id % {m} = {r}) p "
        "LEFT JOIN boxes b ON ST_Within(p.geom, b.geom)",
        "SELECT p.id AS pid, b.id AS bid FROM "
        "(SELECT * FROM arrivals WHERE id % {m} = {r}) p LEFT JOIN boxes b "
        "ON p.x > b.x0 AND p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1",
        ["pid", "bid"], (), ("arrivals", "boxes")),
    "semi_within": (
        16, [0],
        "SELECT p.id AS pid FROM (SELECT * FROM pts WHERE id % {m} = {r}) p "
        "LEFT SEMI JOIN boxes b ON ST_Within(p.geom, b.geom)",
        "SELECT p.id AS pid FROM (SELECT * FROM pts WHERE id % {m} = {r}) p "
        "WHERE EXISTS (SELECT 1 FROM boxes b WHERE p.x > b.x0 AND "
        "p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1)",
        ["pid"], (), ("pts", "boxes")),
    "anti_within": (
        16, [0],
        "SELECT p.id AS pid FROM (SELECT * FROM pts WHERE id % {m} = {r}) p "
        "LEFT ANTI JOIN boxes b ON ST_Within(p.geom, b.geom)",
        "SELECT p.id AS pid FROM (SELECT * FROM pts WHERE id % {m} = {r}) p "
        "WHERE NOT EXISTS (SELECT 1 FROM boxes b WHERE p.x > b.x0 AND "
        "p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1)",
        ["pid"], (), ("pts", "boxes")),
    "geog_dwithin": (
        4, [200000.0],
        "SELECT a.id AS aid, b.id AS bid FROM "
        "(SELECT * FROM gpts WHERE id % {m} = {r}) a JOIN gsites b "
        "ON ST_DWithin(a.g, b.g, {a})",
        "SELECT aid, bid FROM (SELECT a.id AS aid, b.id AS bid, "
        "2 * " + repr(EARTH_R) + " * asin(sqrt("
        "pow(sin(radians(b.lat - a.lat) / 2), 2) + cos(radians(a.lat)) * "
        "cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon) / 2), 2))) AS d "
        "FROM (SELECT * FROM gpts WHERE id % {m} = {r}) a, gsites b) "
        "WHERE d <= {a}",
        ["aid", "bid"], (), ("gpts", "gsites")),
    "layout_agg": (
        8, [0],
        "SELECT b.id AS bid, count(*) AS n FROM pts_layout c JOIN "
        "(SELECT * FROM boxes WHERE id % {m} = {r}) b "
        "ON ST_Within(c.geom, b.geom) GROUP BY b.id",
        "SELECT b.id AS bid, count(*) AS n FROM pts p JOIN "
        "(SELECT * FROM boxes WHERE id % {m} = {r}) b "
        "ON p.x > b.x0 AND p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1 "
        "GROUP BY b.id",
        ["bid", "n"], (), ("pts", "boxes")),
    "distance_scalar": (
        64, [10.0, 30.0, 50.0, 70.0, 90.0],
        "SELECT id, ST_Distance(geom, ST_Point({a}, 50.0)) AS d "
        "FROM pts WHERE id % {m} = {r}",
        "SELECT id, sqrt(power(x - {a}, 2) + power(y - 50.0, 2)) AS d "
        "FROM pts WHERE id % {m} = {r}",
        ["id"], ("d",), ("pts",)),
}

# the dashboard's panels; every other template is issued ad hoc
PANELS = ("contains_agg", "dwithin_agg")
AD_HOC = tuple(t for t in _TEMPLATES if t not in PANELS)
CYCLE = 5               # steps per cycle: two new texts, three refreshes
NEW_AT = (0, 2)         # the cycle's new-text steps
REPLACE_EVERY = CYCLE   # steps between arrivals-view replacements
_TABLE_ROWS = {"pts": gen.N_PTS, "arrivals": gen.N_ARRIVAL,
               "boxes": gen.N_BOXES, "centers": gen.N_CENTERS,
               "gpts": gen.N_GPTS, "gsites": gen.N_GSITES}


class Workload:
    """Set-up hooks a workload may override; each defaults to nothing."""

    def load(self, ctx: Ctx) -> None:
        """Register the input views (``session.load_s``)."""

    def certify(self, ctx: Ctx) -> None:
        """Certify view columns for the SQL rewrite (``plans.certify_s``)."""

    def layout(self, ctx: Ctx) -> None:
        """Write persisted layouts (``operators.layout_write_s``)."""

    min_ops: int   # operations a run issues at least, whatever its length


class SpatialSql(Workload):
    """Interactive spatial SQL: a closed loop of seeded queries."""

    name = "spatial_sql"
    # through the step that issues the last ad hoc template the first time
    min_ops = ((len(AD_HOC) - 1) // len(NEW_AT) * CYCLE
               + NEW_AT[(len(AD_HOC) - 1) % len(NEW_AT)] + 1)

    def __init__(self, ctx: Ctx):
        self.paths = gen.spatial_sql_inputs(ctx.inputs, ctx.seed)
        self.rng = np.random.default_rng([ctx.seed, 7])
        # the dashboard: two panels over views that never change
        self.panels = [(name, int(self.rng.integers(_TEMPLATES[name][0])),
                        _TEMPLATES[name][1][0]) for name in PANELS]
        self.issued: list[tuple] = list(self.panels)
        self.slice = 0
        self.memo_texts: set[str] = set()
        self.expected: dict = {}
        import duckdb
        self.duck = duckdb.connect()
        for n in ("pts", "boxes", "centers", "gpts", "gsites"):
            self.duck.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                              f"read_parquet('{self.paths[n]}')")
        self._duck_arrivals()
        self.np_pts = self.duck.execute(
            "SELECT id, x, y FROM pts ORDER BY id").fetchnumpy()
        self.np_centers = self.duck.execute(
            "SELECT id, x, y FROM centers ORDER BY id").fetchnumpy()

    def _duck_arrivals(self):
        self.duck.execute("CREATE OR REPLACE VIEW arrivals AS SELECT * FROM "
                          f"read_parquet('{self.paths[f'arrivals_{self.slice}']}')")

    def _view(self, spark, name: str, path: str, cols: str) -> None:
        spark.read.parquet(path).selectExpr(*cols.split(";")) \
            .createOrReplaceTempView(name)

    def load(self, ctx: Ctx) -> None:
        sp = ctx.spark
        pt = "id;x;y;ST_Point(x, y) AS geom"
        self._view(sp, "pts", self.paths["pts"], pt)
        self._view(sp, "centers", self.paths["centers"], pt)
        self._view(sp, "arrivals", self.paths[f"arrivals_{self.slice}"], pt)
        self._view(sp, "boxes", self.paths["boxes"],
                   "id;x0;y0;x1;y1;ST_MakeEnvelope(x0, y0, x1, y1) AS geom")
        gp = "id;lon;lat;ST_GeogPoint(lon, lat) AS g"
        self._view(sp, "gpts", self.paths["gpts"], gp)
        self._view(sp, "gsites", self.paths["gsites"], gp)

    def certify(self, ctx: Ctx) -> None:
        from sedona_db_spark.plans.sql_rewrite import (
            certify_geog_point_view, certify_point_view)
        certify_point_view(ctx.spark, "pts", {"geom": ("x", "y")})
        certify_geog_point_view(ctx.spark, "gpts", {"g": ("lon", "lat")})

    def layout(self, ctx: Ctx) -> None:
        from sedona_db_spark.operators.spatial_join import \
            write_bucketed_layout
        write_bucketed_layout(ctx.spark.table("pts").select("id", "geom"),
                              "pts_layout", geom="geom")

    def warmup(self, ctx: Ctx) -> None:
        # a text outside the mix starts the Python workers; the
        # dashboard panels are opened once, so timed refreshes replay
        ctx.spark.sql("SELECT count(*) FROM pts p JOIN boxes b ON "
                      "ST_Intersects(b.geom, p.geom) AND b.id = -1") \
            .write.format("noop").mode("overwrite").save()
        for name, r, a in self.panels:
            m, _c, sql = _TEMPLATES[name][:3]
            text = sql.format(m=m, r=r, a=a)
            ctx.spark.sql(text).write.format("noop").mode("overwrite").save()
            self.memo_texts.add(text)

    def _draw(self, i: int) -> tuple:
        """Two steps of every CYCLE issue a new text (ad hoc), taking the
        AD_HOC templates in a fixed order so every run issues each of
        them within its first ``min_ops`` steps; the other steps refresh
        the dashboard's panels in turn.  The seed picks the literals."""
        c, k = divmod(i, CYCLE)
        if k not in NEW_AT:
            refresh = c * (CYCLE - len(NEW_AT)) + k - sum(n < k for n in NEW_AT)
            return self.panels[refresh % len(self.panels)]
        name = AD_HOC[(c * len(NEW_AT) + NEW_AT.index(k)) % len(AD_HOC)]
        m, choices = _TEMPLATES[name][:2]
        for _ in range(64):
            key = (name, int(self.rng.integers(m)),
                   choices[self.rng.integers(len(choices))])
            if key not in self.issued:
                return key
        raise RuntimeError(f"every {name} query text has been issued")

    def _replace_arrivals(self, ctx: Ctx) -> None:
        """New data arrives: the arrivals view moves to the next slice.
        Only ad hoc texts, each issued once, read it, so no memoized
        rewrite is replayed against the old view (the memo is keyed on
        query text: a repeated text would be, ROADMAP item 1)."""
        self.slice = (self.slice + 1) % gen.N_SLICES
        with ctx.tracer.span("session.replace_view"):
            self._view(ctx.spark, "arrivals",
                       self.paths[f"arrivals_{self.slice}"],
                       "id;x;y;ST_Point(x, y) AS geom")
        self._duck_arrivals()

    def op(self, ctx: Ctx, i: int) -> Op:
        if i > 0 and i % REPLACE_EVERY == 0:
            self._replace_arrivals(ctx)
        name, r, a = self._draw(i)
        if i % CYCLE in NEW_AT:
            self.issued.append((name, r, a))
        m, _c, sql, duck_sql, keys, floats, tables = _TEMPLATES[name]
        text = sql.format(m=m, r=r, a=a)
        new = text not in self.memo_texts
        self.memo_texts.add(text)
        _df, got, wall = run_step(ctx, "plans.sql",
                                  lambda: ctx.spark.sql(text), py_nodes=True)
        if ctx.traced:
            ctx.steps[-1].update(template=name, new_text=new,
                                 spatial_join=name != "distance_scalar")
        t_check = time.perf_counter()
        ver = (name, r, a, self.slice if "arrivals" in tables else None)
        want = self.expected.get(ver)
        if want is None:
            if duck_sql is None:
                want = self._knn_oracle(m, r, a)
            else:
                want = self.duck.execute(duck_sql.format(m=m, r=r, a=a)).df()
            self.expected[ver] = want
        rows = sum(_TABLE_ROWS[t] for t in tables)
        ok = same_rows(got, want, keys, floats)
        return Op(wall, rows, ok, len(got), digest(got, keys),
                  "" if ok else f"{name}: {len(got)} rows vs {len(want)}",
                  label=f"{name}{'' if new else ' (repeat)'}",
                  check_s=time.perf_counter() - t_check)

    def _knn_oracle(self, m: int, r: int, k: int) -> pd.DataFrame:
        P, C = self.np_pts, self.np_centers
        out_c, out_p = [], []
        for cid, cx, cy in zip(C["id"], C["x"], C["y"]):
            if cid % m != r:
                continue
            d2 = (P["x"] - cx) ** 2 + (P["y"] - cy) ** 2
            near = np.lexsort((P["id"], d2))[:k]
            out_c.extend([cid] * len(near))
            out_p.extend(P["id"][near])
        return pd.DataFrame({"cid": out_c, "pid": out_p})


# ----------------------------------------------------------------------
# text_curation: LLM-data pipeline over fresh document shards
# ----------------------------------------------------------------------

WARMUP_SHARD = 10_000   # shard index of the untimed warm-up operation
QUALITY_MIN = 0.853     # no score equals it exactly (see _quality_oracle)
MINHASH_THRESHOLD = 0.5
# MinHash (64 permutations, 16 bands) misses a pair of shingle Jaccard
# >= 0.8 with probability < 1e-3, and reports one of Jaccard <= 0.2 with
# probability < 1e-6: planted near-duplicates at or above the first must
# be reported, and no reported pair may be at or below the second
MUST_PAIR_J = 0.8
MAY_PAIR_J = 0.2
SHINGLE_K = 3
GRAM_N = 13
PACK_BUDGET = 512
_STOP = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")


class TextCuration(Workload):
    """One operation = one fresh shard through the quality gate, MinHash
    LSH pairs + connected components, exact-substring dedup and
    sequence packing."""

    name = "text_curation"
    # a run of the listed length holds four shards; a slow host still
    # gets four, so its median is taken over the same positions
    min_ops = 4

    def __init__(self, ctx: Ctx):
        gen.text_shard(ctx.inputs, ctx.seed, 0)

    def warmup(self, ctx: Ctx) -> None:
        self._run(ctx, WARMUP_SHARD,
                  gen.text_shard(ctx.inputs, ctx.seed, WARMUP_SHARD),
                  check=False)

    def op(self, ctx: Ctx, i: int) -> Op:
        path = gen.text_shard(ctx.inputs, ctx.seed, i)
        gen.text_shard(ctx.inputs, ctx.seed, i + 1)   # prefetch, untimed
        return self._run(ctx, i, path, check=True)

    def _run(self, ctx: Ctx, i: int, path: str, check: bool) -> Op:
        from pyspark.sql import functions as F

        from sedona_db_spark.functions import text as tx
        from sedona_db_spark.operators.batching import pack_sequences
        from sedona_db_spark.operators.dedup import (connected_components,
                                                     exact_substring_dedup,
                                                     minhash_candidate_pairs)
        sp = ctx.spark
        docs = sp.read.parquet(path).select("doc_id", "text")
        lo, hi = i * 1_000_000, i * 1_000_000 + gen.TEXT_DOCS
        gate, got_gate, wall = run_step(
            ctx, "functions.quality_gate", lambda: docs.where(
                tx.quality_score_fast(F.col("text")) >= QUALITY_MIN),
            py_nodes=True)
        pairs, got_pairs, w = run_step(
            ctx, "operators.minhash_candidate_pairs",
            lambda: minhash_candidate_pairs(gate, threshold=MINHASH_THRESHOLD))
        wall += w
        _cc, got_cc, w = run_step(ctx, "operators.connected_components",
                                  lambda: connected_components(pairs))
        wall += w
        dd, got_dd, w = run_step(ctx, "operators.exact_substring_dedup",
                                 lambda: exact_substring_dedup(
                                     gate, n=GRAM_N, min_count=2))
        wall += w
        _pk, got_pk, w = run_step(ctx, "operators.pack_sequences", lambda: (
            pack_sequences(dd.select("doc_id", (F.col("n_tokens")
                                                - F.col("n_removed"))
                                     .alias("n_tokens")),
                           PACK_BUDGET, id_bounds=(lo, hi))))
        wall += w
        if not check:
            return Op(wall, 0, True, 0, "")
        t_check = time.perf_counter()
        op = self._check(path, got_gate, got_pairs, got_cc, got_dd, got_pk,
                         wall)
        op.check_s = time.perf_counter() - t_check
        return op

    def _check(self, path, got_gate, got_pairs, got_cc, got_dd, got_pk,
               wall) -> Op:
        """Every step's fetched rows against oracles over the shard."""
        import pyarrow.parquet as pq
        t = pq.read_table(path).to_pydict()
        ids, texts = np.asarray(t["doc_id"]), t["text"]
        keep = self._quality_oracle(path)
        bad = []
        rows = sum(map(len, (got_gate, got_pairs, got_cc, got_dd, got_pk)))
        if sorted(got_gate["doc_id"]) != sorted(ids[keep]):
            bad.append("gate")
        kept = {int(d): s for d, s, k in zip(ids, texts, keep) if k}
        if not _pairs_ok(got_pairs, kept, ids, t["dup_of"]):
            bad.append("pairs")
        # components must be the closure of the candidate pairs
        if (dict(zip(got_cc["node"], got_cc["component"]))
                != _components(got_pairs)):
            bad.append("components")
        want_dd = _substring_oracle(kept)
        got_map = {int(d): (s, int(r)) for d, s, r in
                   zip(got_dd["doc_id"], got_dd["text"], got_dd["n_removed"])}
        if got_map != want_dd:
            bad.append("dedup")
        order = sorted(want_dd)
        n_tok = np.array([len(want_dd[d][0].split()) for d in order],
                         dtype=np.int64)
        start = np.concatenate([[0], np.cumsum(n_tok)[:-1]])
        last = (start + np.maximum(n_tok, 1) - 1) // PACK_BUDGET
        want_pk = pd.DataFrame({"doc_id": order, "n_tokens": n_tok,
                                "start_offset": start,
                                "seq_first": start // PACK_BUDGET,
                                "seq_last": last})
        if not same_rows(got_pk, want_pk, ["doc_id", "n_tokens",
                                           "start_offset", "seq_first",
                                           "seq_last"]):
            bad.append("pack")
        return Op(wall, gen.TEXT_DOCS, not bad, rows,
                  digest(got_pk, ["doc_id", "start_offset"]), ",".join(bad),
                  label=os.path.basename(path))

    @staticmethod
    def _quality_oracle(path: str) -> np.ndarray:
        """The quality score in DuckDB (the formula the engine's fast
        kernel implements), thresholded at QUALITY_MIN."""
        import duckdb
        stop = ", ".join(f"'{w}'" for w in _STOP)
        q = f"""
          WITH s AS (
            SELECT doc_id, text, list_filter(regexp_split_to_array(
              lower(trim(text)), '\\s+'), t -> t != '') AS toks
            FROM read_parquet('{path}')),
          m AS (
            SELECT doc_id, len(toks) AS n_tok,
              len(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) * 1.0
                / greatest(len(text), 1) AS punct,
              len(regexp_replace(text, '\\s+', '', 'g')) * 1.0
                / greatest(len(toks), 1) AS wl,
              len(list_filter(toks, t -> list_contains([{stop}], t))) * 1.0
                / greatest(len(toks), 1) AS swr
            FROM s)
          SELECT doc_id,
            0.3 * (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END)
            + 0.3 * (1.0 - punct) + 0.2 * least(swr * 4.0, 1.0)
            + 0.2 * (CASE WHEN wl >= 2.0 AND wl <= 12.0 THEN 1.0 ELSE 0.0 END) AS q
          FROM m ORDER BY doc_id"""
        with duckdb.connect() as con:
            return con.execute(q).df()["q"].to_numpy() >= QUALITY_MIN


def _shingles(text: str) -> set:
    toks = text.lower().split()
    return {tuple(toks[j:j + SHINGLE_K])
            for j in range(max(len(toks) - SHINGLE_K + 1, 1))}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / max(len(sa | sb), 1)


def _pairs_ok(got: pd.DataFrame, kept: dict, ids, dup_of) -> bool:
    """MinHash pairs against exact shingle Jaccard: every pair joins two
    gated documents at Jaccard above MAY_PAIR_J, and every planted
    near-duplicate pair (``dup_of``, the copied document's id, always
    the smaller) of gated documents at Jaccard >= MUST_PAIR_J is among
    them."""
    pairs = {(int(a), int(b)) for a, b in zip(got["id_a"], got["id_b"])}
    if len(pairs) != len(got):
        return False
    for a, b in pairs:
        if a >= b or a not in kept or b not in kept \
                or _jaccard(kept[a], kept[b]) <= MAY_PAIR_J:
            return False
    for b, a in zip(ids, dup_of):
        a, b = int(a), int(b)
        if a in kept and b in kept and (a, b) not in pairs \
                and _jaccard(kept[a], kept[b]) >= MUST_PAIR_J:
            return False
    return True


def _components(edges: pd.DataFrame) -> dict:
    """node -> min node id of its component (union-find)."""
    parent: dict = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    for a, b in zip(edges["id_a"], edges["id_b"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


_WS = re.compile(r"\s+")


def _substring_oracle(docs: dict) -> dict:
    """ExactSubstr: drop every token GRAM_N-gram (case-insensitive) that
    occurs at least twice in the corpus; doc -> (clean text, removed)."""
    toks = {d: [t for t in _WS.split(s) if t] for d, s in docs.items()}
    count: dict = {}
    for tk in toks.values():
        low = [t.lower() for t in tk]
        for j in range(len(low) - GRAM_N + 1):
            g = hashlib.blake2b(" ".join(low[j:j + GRAM_N]).encode(),
                                digest_size=16).digest()
            count[g] = count.get(g, 0) + 1
    out = {}
    for d, tk in toks.items():
        low = [t.lower() for t in tk]
        drop = np.zeros(len(tk), dtype=bool)
        for j in range(len(low) - GRAM_N + 1):
            g = hashlib.blake2b(" ".join(low[j:j + GRAM_N]).encode(),
                                digest_size=16).digest()
            if count[g] >= 2:
                drop[j:j + GRAM_N] = True
        kept = [t for t, x in zip(tk, drop) if not x]
        out[d] = (" ".join(kept), int(drop.sum()))
    return out


WORKLOADS = {w.name: w for w in (SpatialSql, TextCuration)}
