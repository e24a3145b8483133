"""Deduplication operators for training-data pipelines (north-star ops).

Not in the geospatial reference; designed Spark-first for 100 TB:
- exact_dedup: one hash-shuffle, keeps deterministic winner per key.
- minhash_lsh_dedup: shingle -> MinHash signature (Arrow-batched UDF) ->
  band-bucket equi-join (LSH) -> signature-overlap verification (native
  array ops) -> remove docs having a duplicate with a smaller id.  Only
  shuffles are the band groupBy and the pair join — no cross join ever.
- simhash_dedup: 64-bit SimHash, banded into 4x16-bit chunks (any pair at
  hamming distance <= 3 shares at least one chunk — pigeonhole), verified
  with native bit_count.
- ngram_jaccard_pairs: exact n-gram Jaccard via explode + equi-join +
  count aggregation; fully native SQL (DuckDB-oracle-able).
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sedona_db_spark.functions import text as tx
from sedona_db_spark.operators.result_cache import (PAIR_RESULT_POOL,
                                                    SIG_FRAME_POOL)


def exact_dedup(df: DataFrame, cols: list[str] | None = None,
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (the min id) per exact content hash."""
    if cols is None:
        cols = [c for c in df.columns if c != id_col]
    key = F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]))
    return (df.withColumn("__rn", F.row_number().over(
        Window.partitionBy(key).orderBy(F.col(id_col))))
        .filter(F.col("__rn") == 1).drop("__rn"))


def fingerprint_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-content fingerprint (md5 of
    whitespace-collapsed lowercase text)."""
    fp = tx.doc_fingerprint(F.col(text_col))
    return (df.withColumn("__fp", fp)
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy("__fp").orderBy(F.col(id_col))))
            .filter(F.col("__rn") == 1).drop("__rn", "__fp"))


def remove_duplicate_lines(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", min_count: int = 2,
                           sep: str = "\n") -> DataFrame:
    """C4/RefinedWeb-style corpus line dedup: drop every line whose exact
    text occurs >= min_count times ACROSS the corpus, then reassemble
    each document from its surviving lines in original order.

    Output = input columns with `text_col` replaced by the cleaned text
    (documents whose lines all vanish keep an empty string).

    Scale shape (100 TB): posexplode -> one groupBy shuffle on the line
    (map-side partial counts collapse the boilerplate lines that
    dominate real corpora) -> frequency equi-join back -> one groupBy
    per doc reassembling via array_sort over (pos, line) structs.  No
    window over the whole corpus, no driver collect; every stage is
    native codegen."""
    others = [c for c in df.columns if c != text_col]
    lines = df.select(
        *others,
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1))
        .alias("__pos", "__line"))
    counts = (lines.groupBy("__line")
              .agg(F.count(F.lit(1)).alias("__n"))
              .filter(F.col("__n") >= min_count)
              .select("__line"))
    keep = lines.join(counts, "__line", "left_anti")
    rebuilt = (keep.groupBy(*others)
               .agg(F.concat_ws(sep, F.transform(
                   F.array_sort(F.collect_list(
                       F.struct(F.col("__pos"), F.col("__line")))),
                   lambda s: s["__line"])).alias(text_col)))
    # docs that lost every line still belong in the output (empty text)
    survivors = df.select(*others).join(
        rebuilt.select(*others), others, "left_anti") \
        .withColumn(text_col, F.lit(""))
    return rebuilt.unionByName(survivors).select(*df.columns)


def line_dup_stats(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_count: int = 2,
                   sep: str = "\n") -> DataFrame:
    """Per-document duplicated-line exposure (the RefinedWeb doc-level
    counterpart of ``remove_duplicate_lines``): instead of cutting
    lines, score each document by how much of it is corpus-duplicated
    boilerplate — RefinedWeb-class pipelines DROP documents whose
    duplicate-line fraction (by line count or by characters) exceeds a
    threshold, on the grounds that a mostly-boilerplate page is low
    value even after the boilerplate is removed.

    Returns (id, n_lines, n_dup_lines, dup_line_frac, dup_char_frac).
    Scale shape: identical to remove_duplicate_lines — posexplode, one
    line groupBy with map-side partial counts, a LEFT SEMI membership
    probe, one per-doc aggregate.  Filter with
    ``.where(F.col('dup_line_frac') <= t)``."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1))
        .alias("__pos", "__line"))
    dup = (lines.groupBy("__line")
           .agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") >= int(min_count))
           .select("__line", F.lit(1).alias("__isdup")))
    # LEFT join (not semi) so ONE per-doc aggregate yields totals AND
    # dup-flagged sums together — the semi-join formulation read the
    # exploded lines a third time for the totals branch
    flagged = lines.join(dup.hint("shuffle_hash"), "__line", "left")
    stats = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__nl"),
        F.sum(F.length("__line")).alias("__nc"),
        F.sum(F.coalesce("__isdup", F.lit(0))).alias("__dl"),
        F.sum(F.when(F.col("__isdup").isNotNull(), F.length("__line"))
              .otherwise(F.lit(0))).alias("__dc"))
    base = df.select(id_col).join(stats, id_col, "left")
    nl = F.coalesce("__nl", F.lit(0)).cast("long")
    dl = F.coalesce("__dl", F.lit(0)).cast("long")
    nc = F.coalesce("__nc", F.lit(0)).cast("long")
    dc = F.coalesce("__dc", F.lit(0)).cast("long")
    return base.select(
        id_col, nl.alias("n_lines"), dl.alias("n_dup_lines"),
        F.round(F.when(nl == 0, F.lit(0.0)).otherwise(dl / nl), 6)
        .alias("dup_line_frac"),
        F.round(F.when(nc == 0, F.lit(0.0)).otherwise(dc / nc), 6)
        .alias("dup_char_frac"))


# Java's \s character class, exactly ([ \t\n\x0B\f\r], ASCII-only): the
# kernel below must tokenize bit-identically to functions.text.tokens()
# (split(lower(trim(text)), '\\s+')) or decontamination joins diverge
# from every other pipeline operator's view of the same document.
_JAVA_WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")


def _batch_gram_hashes(s: pd.Series, n: int):
    """Tokenize a batch (Java-\\s-exact, lowered) and return
    ``(gram_hashes, offsets)``: one flat int64 array of per-gram 64-bit
    hashes plus per-row offsets into it (row i's grams are
    ``gram_hashes[offsets[i]:offsets[i+1]]``).

    r11 (guide §4.2, do the heavy lifting vectorized): the former
    formulation materialized every n-gram STRING (``' '.join`` of n
    tokens — O(n x corpus bytes) of Python string building) before one
    vectorized siphash.  Now each TOKEN is hashed once (one flat
    ``pd.util.hash_array`` call — deterministic fixed-key siphash,
    stable across workers and sessions; ``categorize=False`` because
    near-unique inputs make the factorize pre-pass pure overhead, 6x
    measured) and a gram's hash is the position-weighted sum
    ``sum_j token_hash[i+j] * C_j (mod 2^64)`` with fixed distinct odd
    multipliers ``C_j`` — computed for the whole flat batch in n
    vectorized multiply-adds, then sliced per row (grams spanning row
    boundaries are discarded by the slicing).  Tokens cannot contain
    whitespace, so gram identity over token tuples equals gram identity
    over the joined strings; hash agreement is closed under the two
    kernels below, and collisions stay ~2^-64 (a swap of unequal tokens
    at positions j,k changes the sum by (h_a-h_b)(C_j-C_k) != 0 mod
    2^64 except on a vanishing set).  Measured 1.9x on the 13-gram
    kernel at sf0.1 shapes."""
    import numpy as np
    tok_flat: list = []
    offs = [0]
    for txt in s:
        if txt:
            tok_flat.extend(t for t in _JAVA_WS_RE.split(txt.lower()) if t)
        offs.append(len(tok_flat))
    if tok_flat:
        th = pd.util.hash_array(np.array(tok_flat, dtype=object),
                                categorize=False)
    else:
        th = np.empty(0, dtype="uint64")
    L = len(th)
    mults = _gram_mults(n)
    if L >= n:
        with np.errstate(over="ignore"):
            G = th[:L - n + 1] * mults[0]
            for j in range(1, n):
                G = G + th[j:L - n + 1 + j] * mults[j]
        G = G.view("int64")
    else:
        G = np.empty(0, dtype="int64")
    # per-row gram offsets: row [a, b) of tokens owns flat grams
    # [a, a + max(b - a - (n-1), 0)) — all fully inside the row
    out_off = [0]
    total = 0
    starts = []
    for i in range(len(s)):
        a, b = offs[i], offs[i + 1]
        m = max((b - a) - (n - 1), 0)
        starts.append(a)
        total += m
        out_off.append(total)
    flat_out = np.empty(total, dtype="int64")
    pos = 0
    for i in range(len(s)):
        m = out_off[i + 1] - out_off[i]
        if m:
            a = starts[i]
            flat_out[pos:pos + m] = G[a:a + m]
            pos += m
    return flat_out, out_off


def _gram_mults(n: int):
    """Fixed distinct odd 64-bit position multipliers for the n-gram
    combine (golden-ratio multiples, forced odd)."""
    import numpy as np
    return ((np.arange(1, n + 1, dtype=np.uint64)
             * np.uint64(0x9E3779B97F4A7C15)) | np.uint64(1))


def _gram_hash_kernel(n: int):
    """Arrow-batched token n-gram hasher.  Both join sides use this same
    kernel, so hash consistency is closed under the operator; vs the
    DuckDB string oracle it is exact modulo a 2^-64 collision."""

    def run(s: pd.Series) -> pd.Series:
        hashes, offsets = _batch_gram_hashes(s, n)
        return pd.Series(
            [hashes[offsets[i]:offsets[i + 1]] for i in range(len(s))],
            dtype=object)
    return run


def _gram_member_kernel(n: int, bench_hashes: frozenset):
    """Single-pass contamination test: enumerate the document's n-gram
    hashes (same tokenization + hash as _gram_hash_kernel) and return
    whether ANY is in the closed-over benchmark set — no explode, no
    join, no second pass over the corpus."""

    def run(s: pd.Series) -> pd.Series:
        hashes, offsets = _batch_gram_hashes(s, n)
        hl = hashes.tolist()
        return pd.Series(
            [not bench_hashes.isdisjoint(hl[offsets[i]:offsets[i + 1]])
             for i in range(len(s))], dtype=bool)
    return run


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None, mode: str = "remove",
                  broadcast_threshold: int = 500_000) -> DataFrame:
    """Benchmark decontamination: drop (``mode='remove'``) or flag
    (``mode='flag'``, adds a boolean ``contaminated`` column) every
    training document sharing at least one token ``n``-gram with the
    benchmark set — the GPT-3/PaLM eval-overlap rule (13-gram default).

    Scale shape (100 TB corpus vs KB-MB eval sets): the benchmark's
    deduplicated gram hashes are collected ONCE (LIMIT-capped — eval
    sets are small; 2M hashes = 16 MB) and closed over by an Arrow
    kernel that tests each document in a SINGLE pass with early exit —
    no explode, no join, no second evaluation of the corpus lineage (a
    filter/flag column composes into upstream pipelines without
    re-running their stages per join branch).  A benchmark too large to
    collect degrades to the explode -> hash equi-join -> anti/left-join
    plan, which shuffles only 64-bit hashes and ids.  Gram hashing is a
    batched Python kernel by measurement, not accident: the native
    higher-order-function formulation (sequence -> slice -> concat_ws ->
    xxhash64 in a transform lambda) runs on Spark's interpreted
    expression path and was 10x slower at sf10 (17.7 s vs 1.7 s for 21M
    grams)."""
    if mode not in ("remove", "flag"):
        raise ValueError(f"mode must be 'remove' or 'flag', got {mode!r}")
    btc = bench_text_col or text_col
    gh = F.pandas_udf(_gram_hash_kernel(n), "array<long>")
    bgrams = (benchmark
              .select(F.explode(gh(F.col(btc))).alias("__g"))
              .distinct())
    # LIMIT-capped collect of the benchmark gram-hash set (single-pass
    # regime).  The cap bounds driver memory; rows beyond it flip to the
    # join plan instead of truncating the set (which would silently
    # under-flag).
    cap = max(int(broadcast_threshold), 1)
    bench_rows = bgrams.limit(cap + 1).collect()
    if len(bench_rows) <= cap:
        bset = frozenset(r["__g"] for r in bench_rows)
        member = F.pandas_udf(_gram_member_kernel(n, bset), "boolean")
        if mode == "remove":
            return docs.filter(~member(F.col(text_col)))
        return docs.withColumn("contaminated", member(F.col(text_col)))
    # fallback: benchmark too large to hold on the driver
    dgrams = docs.select(
        id_col, F.explode(gh(F.col(text_col))).alias("__g"))
    hit = dgrams.join(bgrams, "__g", "left_semi").select(id_col).distinct()
    if mode == "remove":
        return docs.join(hit, id_col, "left_anti")
    return (docs.join(hit.withColumn("__hit", F.lit(True)), id_col, "left")
                .withColumn("contaminated",
                            F.coalesce(F.col("__hit"), F.lit(False)))
                .drop("__hit"))


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_perm: int = 64,
                            bands: int = 16, shingle_k: int = 3,
                            threshold: float = 0.5) -> DataFrame:
    """(id_a, id_b, est_jaccard) candidate pairs via MinHash LSH.

    est_jaccard = fraction of matching signature positions (unbiased
    estimator of true shingle Jaccard).
    """
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    sig = tx.minhash_udf(num_perm=num_perm, shingle_k=shingle_k)
    # persist the signatures: they are referenced three times (banding +
    # both sides of the candidate join-back) and Catalyst would otherwise
    # re-run the shingle/minhash UDF for each reference.  ~300 B/doc
    # (MEMORY_AND_DISK), far smaller than the text it replaces.
    sdf = SIG_FRAME_POOL.persist(
        df.select(F.col(id_col).alias("id"),
                  sig(F.col(text_col)).alias("sig")))
    # persist (NOT localCheckpoint) the pair set: persisted blocks
    # stay recomputable through lineage if an executor dies, whereas
    # localCheckpoint truncates lineage into non-replicated
    # executor-local blocks — losing one executor made the result
    # permanently unrecomputable (round-6 advisor).
    # Returned LAZY (r11): the former eager pairs.count() existed only
    # so the signature cache could be released in a finally block — a
    # whole extra materialization job per call (guide §1.2: every job
    # counts).  The bounded SIG_FRAME_POOL now owns the signature
    # blocks' lifetime the same way PAIR_RESULT_POOL owns the pair
    # set's, so no call-time materialization is needed and the caller's
    # first action computes everything in one go.
    return PAIR_RESULT_POOL.persist(
        _minhash_pairs_plan(sdf, num_perm, bands, rows_per_band,
                            threshold))


def _minhash_pairs_plan(sdf: DataFrame, num_perm: int, bands: int,
                        rows_per_band: int, threshold: float) -> DataFrame:
    # band hash: native slice + hash of the slice.  The whole banding
    # projection renders as ONE selectExpr string (round 12, guide
    # §1.2): the per-band F.struct/F.lit/F.hash Column loop cost ~860
    # py4j round trips per construction for the identical plan.
    band_sql = ", ".join(
        f"named_struct('band', {b}, 'bh', "
        f"hash(slice(sig, {b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands))
    banded = sdf.selectExpr("id",
                            f"explode(array({band_sql})) AS bk") \
                .selectExpr("id", "bk.band AS band", "bk.bh AS bh")
    # band join ships only (id, band, bh) — the 64-long signature arrays
    # stay out of the shuffle and are joined back for the (far fewer)
    # deduped candidate pairs
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, F.expr("a.band = b.band AND a.bh = b.bh "
                             "AND a.id < b.id"))
            .selectExpr("a.id AS id_a", "b.id AS id_b")
            .dropDuplicates(["id_a", "id_b"]))
    sigs = sdf.select(F.col("id"), F.col("sig"))
    pairs = (cand
             .join(sigs.selectExpr("id AS id_a", "sig AS sig_a"), "id_a")
             .join(sigs.selectExpr("id AS id_b", "sig AS sig_b"), "id_b"))
    # HOF-audit: interpreted zip_with over CANDIDATE pairs only
    # (band-collision-bounded, 64-long signatures) — never a full-corpus
    # pass; fine while candidates stay sparse relative to the table
    return (pairs.selectExpr(
        "*",
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) "
        f"/ CAST({float(num_perm)!r} AS DOUBLE) AS est_jaccard")
            .filter(f"est_jaccard >= {float(threshold)!r}")
            .select("id_a", "id_b", "est_jaccard"))


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.8,
                      **kw) -> DataFrame:
    """Drop every doc that near-duplicates a smaller-id doc (single pass,
    non-transitive — the deterministic industry-standard policy)."""
    pairs = minhash_candidate_pairs(df, text_col, id_col, threshold=threshold, **kw)
    dupes = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dupes, on=id_col, how="left_anti")


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) pairs with 64-bit SimHash distance <= max_hamming.

    Pigeonhole banding: 4 16-bit chunks; distance <= 3 implies an identical
    chunk, so candidates = chunk-equality equi-join (one shuffle)."""
    from sedona_db_spark.functions.text import simhash64_kernel
    import pandas as pd
    sim = F.pandas_udf(simhash64_kernel, returnType="long")
    # persist: the banded self-join would re-run the simhash UDF per side.
    # Lazy like minhash_candidate_pairs (r11) — the SIG_FRAME_POOL owns
    # the signature blocks, so no eager count()-then-unpersist job.
    sdf = SIG_FRAME_POOL.persist(
        df.select(F.col(id_col).alias("id"),
                  sim(F.col(text_col)).alias("sh")))
    return PAIR_RESULT_POOL.persist(_simhash_pairs_plan(sdf, max_hamming))


def _simhash_pairs_plan(sdf: DataFrame, max_hamming: int) -> DataFrame:
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("sh"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ck"))
        for c in range(4)])
    banded = sdf.select("id", "sh", F.explode(chunks).alias("b")) \
                .select("id", "sh", F.col("b.chunk").alias("chunk"), F.col("b.ck").alias("ck"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.chunk") == F.col("b.chunk")) &
                    (F.col("a.ck") == F.col("b.ck")) &
                    (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
             .dropDuplicates(["id_a", "id_b"]))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        prefilter_ratio: float = 0.0) -> DataFrame:
    """Exact token n-gram Jaccard similarity pairs — native SQL only.

    explode(distinct n-grams) -> equi-join on gram -> |A∩B| counts ->
    jaccard = inter / (|A| + |B| - inter).  The gram join is the only
    shuffle; at scale, rare-gram filtering (df < limit) bounds fanout.
    """
    toks = tx.tokens(F.col(text_col))
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    g = df.select(F.col(id_col).alias("id"), grams.alias("grams")) \
          .withColumn("n_grams", F.size("grams"))
    exploded = g.select("id", "n_grams", F.explode("grams").alias("gram"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (a.join(b, (F.col("a.gram") == F.col("b.gram")) &
                    (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      F.col("a.n_grams").alias("na"), F.col("b.n_grams").alias("nb"))
             .agg(F.count("*").alias("inter")))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ----------------------------------------------------------------------
# Transitive dedup: connected components over candidate pairs
# ----------------------------------------------------------------------

def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25,
                         driver_threshold: int = 100_000) -> DataFrame:
    """(node, component) with component = min node id reachable.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): every round is two
    groupBy/join shuffles over the edge set, converging in O(log n)
    rounds — the standard way to close dedup pairs transitively at
    100 TB without driver-side graph state (no collect; the convergence
    probe is a 1-row checksum agg).

    Small-graph fast path: when a LIMIT probe shows at most
    `driver_threshold` edges, a driver-side union-find answers in one
    job instead of ~6 rounds x (2 shuffles + checkpoint + probe) — the
    iterative machinery's fixed cost dominates tiny graphs, while the
    candidate-pair edge set of a dedup pipeline is almost always orders
    smaller than the document table it came from.  Pass
    driver_threshold=0 to force the distributed path."""
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .filter(F.col("u") != F.col("v")))

    if driver_threshold:
        # one job probes AND fetches: collect(limit(T+1)) — when it comes
        # back with <= T rows those ARE the whole edge set, so the former
        # separate count-probe scan (a second full job over the edge
        # derivation) is folded away; with T+1 rows the sample is
        # discarded and the distributed path runs.  CollectLimit's
        # default first wave is 1 partition (then 4x growth), which for
        # a SMALL edge set over a many-partition derivation means ~4
        # sequential re-scan waves — start the probe at one full
        # wave of cores instead (huge edge sets still stop at wave 1,
        # now merely a bit wider)
        spark = edges.sparkSession
        _lim_conf = "spark.sql.limit.initialNumPartitions"
        try:
            prev_init = spark.conf.get(_lim_conf, None)
            spark.conf.set(_lim_conf,
                           str(spark.sparkContext.defaultParallelism))
        except Exception:
            prev_init = None
        try:
            rows = e.limit(driver_threshold + 1).collect()
        finally:
            try:
                if prev_init is None:
                    spark.conf.unset(_lim_conf)
                else:
                    spark.conf.set(_lim_conf, prev_init)
            except Exception:
                pass
        if len(rows) <= driver_threshold:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in rows:
                u, v = r["u"], r["v"]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by smaller root id keeps component = min id
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
            # Arrow/pandas createDataFrame: plans as a LocalTableScan
            # with real stats instead of a pickled python RDD
            # (applySchemaToPythonRDD) — measured 0.2 s vs 0.7-2.0 s
            # per downstream action on the warm path, and downstream
            # joins can see the (tiny) size and broadcast it
            import numpy as _np
            import pandas as _pd
            nodes = _np.fromiter(parent.keys(), dtype=_np.int64,
                                 count=len(parent))
            comps = _np.fromiter((find(n) for n in nodes),
                                 dtype=_np.int64, count=len(nodes))
            return edges.sparkSession.createDataFrame(
                _pd.DataFrame({"node": nodes, "component": comps}),
                "node long, component long")

    def large_star(ed: DataFrame) -> DataFrame:
        sym = ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", F.col("u")).alias("m"))
        return (sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def small_star(ed: DataFrame) -> DataFrame:
        # orient edges toward the smaller endpoint
        o = ed.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("mn", F.col("u")).alias("m"))
        return (o.join(m, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m.select(F.col("u"), F.col("m").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .select(F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"))
                .distinct())

    prev_sum = None
    for _ in range(max_iter):
        # iterative lineage truncation: without it the plan doubles per
        # round (exponential analysis time).  localCheckpoint is the
        # right tool HERE because each round is immediately consumed by
        # the convergence agg below and superseded next round — unlike
        # the pair-set results above, no truncated frame outlives the
        # loop, so executor loss costs one re-run of the job, not a
        # permanently unrecomputable result.  On a cluster with a
        # configured checkpoint dir, spark.sparkContext.setCheckpointDir
        # + .checkpoint() is the durable alternative.
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        row = e.agg(F.count("*").alias("n"),
                    F.sum(F.col("u") * 31 + F.col("v")).alias("s")).first()
        cur = (row["n"], row["s"])
        if cur == prev_sum:
            break
        prev_sum = cur
    # final labels: every node points at its component min
    nodes = e.select(F.col("u").alias("node")) \
        .union(e.select(F.col("v").alias("node"))).distinct()
    lab = e.select(F.greatest("u", "v").alias("node"),
                   F.least("u", "v").alias("comp"))
    lab = lab.groupBy("node").agg(F.min("comp").alias("component"))
    return (nodes.join(lab, "node", "left")
            .select("node",
                    F.coalesce("component", F.col("node")).alias("component")))


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   src: str = "id_a", dst: str = "id_b",
                   prefer: str | None = None) -> DataFrame:
    """Transitive near-dup removal: close `pairs` into components and
    keep ONE representative per component (reference pipelines close LSH
    candidate pairs the same way).  Rows without any pair survive.

    ``prefer=None`` keeps the minimum id (the classic deterministic
    rule).  ``prefer=<column>`` keeps the member with the HIGHEST value
    of that column (ties broken by minimum id) — production curation
    keeps the best-quality page of a duplicate cluster, not the
    first-crawled one.  Either way: one component-keyed aggregation
    with map-side partials + a semi join, nothing driver-side."""
    cc = connected_components(pairs, src, dst)
    if prefer is None:
        keep = cc.filter(F.col("node") == F.col("component")) \
            .select(F.col("node").alias(id_col))
    else:
        scored = cc.join(
            df.select(F.col(id_col).alias("node"), F.col(prefer)), "node")
        # max_by over (prefer DESC, id ASC): negate the id inside the
        # ordering struct so the engine-portable rule is
        # "highest prefer, then lowest id"
        keep = scored.groupBy("component").agg(
            F.max_by("node", F.struct(F.col(prefer), -F.col("node")))
            .alias(id_col)).select(id_col)
    paired = cc.select(F.col("node").alias(id_col))
    unpaired = df.join(paired, id_col, "left_anti")
    kept_paired = df.join(keep, id_col, "left_semi")
    return unpaired.unionByName(kept_paired)


def exact_substring_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 20,
                          min_count: int = 2) -> DataFrame:
    """Merged duplicated-substring spans per document (ExactSubstr, Lee
    et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): every token n-gram occurring >= min_count times anywhere in
    the corpus (across documents or repeated within one) marks its
    [pos, pos+n) token span; overlapping marks merge into maximal spans.

    Scale shape: gram hashes come from the Arrow flat-batch kernel
    (positions = array index, one vectorized hash per batch); duplicate
    detection shuffles only (id, pos, hash64) triples — never text —
    through a map-side-partial count aggregate plus a streaming
    LEFT SEMI hash probe (a hot boilerplate gram costs partial
    counters and hash probes, not a WindowExec buffer; see the inline
    skew note).  Span merging is the classic
    running-max-of-end window per document (parallel in the id shuffle):
    a mark opens a new span iff its start exceeds every previous end.
    Returns (id, span_start, span_end) with token-index half-open spans.
    """
    # (Semantics-bearing flag, r11 advisor: the column must not be
    # referenced directly in join conditions or aggregates, and
    # filters over it lose pushdown — project to a named column
    # first, as current call sites do.)
    # asNondeterministic (guide §4.4): posexplode infers a
    # size(__gh)>0 AND isnotnull(__gh) filter that the optimizer pushes
    # BELOW the kernel projection, evaluating the gram hash over the
    # whole corpus TWICE per plan branch (4x total with the two
    # detection branches).  The kernel is pure; the flag only stops the
    # optimizer duplicating it past the inferred filter.
    gram = F.pandas_udf(_gram_hash_kernel(n),
                        "array<long>").asNondeterministic()
    occ = (df.select(F.col(id_col), gram(F.col(text_col)).alias("__gh"))
             .select(id_col, F.posexplode("__gh").alias("pos", "h")))
    # Duplicate detection: count aggregate + LEFT SEMI membership probe,
    # both skew-proof for a hot gram (a boilerplate n-gram occurring
    # ~1e9 times at 100 TB — the exact data this operator removes):
    #
    #  * the count is Spark's own two-level aggregation — every map task
    #    partial-counts its local h occurrences BEFORE the shuffle, so
    #    the reduce side of the hot hash receives one partial row per
    #    map task, never the raw occurrence stream.  (This is the
    #    "(h, salt) partial then h total" salted scheme with the map
    #    task as the salt.)
    #  * the membership probe carries the SHUFFLE_HASH hint: the tiny
    #    duplicated-hash set is the per-partition build map and the
    #    occurrence stream PROBES it row-by-row — no WindowExec
    #    buffering, no sort-merge probe-side sort of the skewed
    #    partition, and AQE's skew-join splitting can further split an
    #    oversized probe partition into parallel tasks.
    #
    # This retires the round-7 count-over-Window.partitionBy("h")
    # formulation (verdict #1 / ADVICE): WindowExec buffered each hash's
    # occurrences in ONE task, a straggler/spill at the module's design
    # point.  The trade: `occ` appears in two plan branches, so a
    # composed upstream pipeline is evaluated twice for detection — the
    # gram kernel is a vectorized flat-batch hash (cheap next to the
    # occurrence shuffle), and correctness never depends on the
    # double-evaluation being consistent (both branches are
    # deterministic column expressions).
    dup = (occ.groupBy("h").agg(F.count(F.lit(1)).alias("__c"))
              .where(F.col("__c") >= int(min_count))
              .select("h"))
    marked = (occ.join(dup.hint("shuffle_hash"), "h", "left_semi")
                 .select(id_col, F.col("pos"),
                         (F.col("pos") + n).alias("end")))
    w = Window.partitionBy(id_col).orderBy("pos")
    runmax = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    opens = F.when(runmax.isNull() | (F.col("pos") > runmax),
                   F.lit(1)).otherwise(F.lit(0))
    grp = F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (marked.withColumn("__grp", grp)
            .groupBy(id_col, "__grp")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end").alias("span_end"))
            .drop("__grp"))


def _span_rebuild_kernel(s_text: pd.Series, s_spans: pd.Series) -> pd.DataFrame:
    """Per-doc span removal + text rebuild, one Python pass per Arrow
    batch.  Tokenization is the _batch_gram_hashes convention (Java-\\s
    split, empties filtered) applied to the ORIGINAL text: lowering
    never creates or removes whitespace, so token positions line up
    with the case-insensitive gram hashes while kept tokens retain
    their original casing — Lee et al.'s ExactSubstr cuts byte ranges
    out of the original document, and a corpus-wide lowercase was a
    lossy side effect beyond dedup (round-7 ADVICE).  Inter-token
    whitespace still normalizes to single spaces (the span cut is
    token-aligned, not byte-aligned, by design — stated in
    exact_substring_dedup's docstring)."""
    clean: list = []
    n_tok = np.zeros(len(s_text), dtype=np.int64)
    n_kept = np.zeros(len(s_text), dtype=np.int64)
    for i, (txt, spans) in enumerate(zip(s_text, s_spans)):
        if not isinstance(txt, str):
            clean.append("")
            continue
        tk = [t for t in _JAVA_WS_RE.split(txt) if t]
        n_tok[i] = len(tk)
        if spans is None or len(spans) == 0:
            clean.append(" ".join(tk))
            n_kept[i] = len(tk)
            continue
        drop = np.zeros(len(tk), dtype=bool)
        for sp in spans:
            drop[int(sp["span_start"]):int(sp["span_end"])] = True
        kept = [t for t, d in zip(tk, drop) if not d]
        clean.append(" ".join(kept))
        n_kept[i] = len(kept)
    return pd.DataFrame({"clean": clean, "n_tokens": n_tok,
                         "n_kept": n_kept})


def exact_substring_dedup(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 20,
                          min_count: int = 2) -> DataFrame:
    """Remove every duplicated-substring span (ALL occurrences, the Lee
    et al. deployment for memorization reduction) and reassemble the
    remaining tokens in order.  Returns (id, text, n_tokens,
    n_removed) where ``text`` is the cleaned document: original-cased
    kept tokens re-joined with single spaces (duplicate DETECTION is
    case-insensitive — grams hash over lowered tokens — and the cut is
    token-aligned, so inter-token whitespace does not round-trip).

    Rebuild: the merged spans (few per doc by construction) aggregate
    to one array per document and join back to the text; an Arrow
    kernel drops the marked token ranges and re-joins in a single pass.
    The previous formulation posexploded EVERY token of EVERY document
    through an anti-join and a collect_list shuffle to delete a few
    ranges — at sf10 that token-level shuffle was most of the
    operator's 30 s wall; here only the span table (small) shuffles
    beyond the gram-hash pass itself.
    """
    spans = exact_substring_spans(df, text_col, id_col, n, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans"))
    rebuild = F.pandas_udf(
        _span_rebuild_kernel,
        "struct<clean: string, n_tokens: long, n_kept: long>")
    out = (df.select(F.col(id_col), F.col(text_col))
           .join(per_doc, id_col, "left")
           .withColumn("__rb", rebuild(F.col(text_col), F.col("__spans"))))
    return out.select(
        id_col,
        F.col("__rb.clean").alias(text_col),
        F.col("__rb.n_tokens").alias("n_tokens"),
        (F.col("__rb.n_tokens") - F.col("__rb.n_kept"))
        .cast("long").alias("n_removed"))


def ngram_novelty_scores(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 13,
                         min_count: int = 2) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's token
    n-grams that are NOT duplicated corpus-wide (RefinedWeb-style
    repetition-against-the-corpus signal — low novelty = boilerplate).
    Same plan skeleton as exact_substring_spans: flat-batch gram hashes,
    one counted aggregate, LEFT SEMI membership — only (id, pos, hash64)
    shuffles.  Docs shorter than n score 1.0 (vacuously novel).
    Returns (id, n_grams, n_dup_grams, novelty)."""
    # asNondeterministic: same §4.4 duplicated-evaluation guard as
    # exact_substring_spans above
    gram = F.pandas_udf(_gram_hash_kernel(n),
                        "array<long>").asNondeterministic()
    occ = (df.select(F.col(id_col), gram(F.col(text_col)).alias("__gh"))
             .select(id_col, F.posexplode("__gh").alias("pos", "h")))
    dup = (occ.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
              .where(F.col("c") >= int(min_count)).select("h"))
    dup_per_doc = (occ.join(dup, "h", "left_semi")
                   .groupBy(id_col)
                   .agg(F.count(F.lit(1)).alias("__nd")))
    tot = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("__ng"))
    base = df.select(id_col).join(tot, id_col, "left") \
             .join(dup_per_doc, id_col, "left")
    ng = F.coalesce("__ng", F.lit(0)).cast("long")
    nd = F.coalesce("__nd", F.lit(0)).cast("long")
    return base.select(
        id_col, ng.alias("n_grams"), nd.alias("n_dup_grams"),
        F.round(F.when(ng == 0, F.lit(1.0))
                 .otherwise(1.0 - nd / ng), 6).alias("novelty"))
