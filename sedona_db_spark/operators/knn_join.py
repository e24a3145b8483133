"""KNN join: for each query row, the k nearest object rows.

Reference semantics (/root/reference/rust/sedona-query-planner/src/
spatial_predicate.rs:254-297 KNNPredicate; docs/reference/sql-joins.md:60-80):
planar distance, optional tie inclusion, query-side filters may be pushed
below the KNN, object-side filters must be applied AFTER the join.

Spark design:
- broadcast path (objects fit in a broadcast): objects collected once,
  a numpy uniform-grid index is built PER EXECUTOR BATCH inside
  `mapInPandas` (index rebuilt per partition, never shipped — same rule
  the reference applies to its per-partition R-trees).
- large-large path (`knn_join_partitioned`): grid-cell candidate join
  with a 3x3-neighborhood first round, provable per-query completion
  bound, and an explicit-radius second round for the remainder — two
  shuffles total, ranking fully native (window over distance).

Tie-breaking: ties beyond k are dropped deterministically by object id
unless include_ties=True (reference `knn_include_tie_breakers`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sedona_db_spark.functions.kernels import _decode, _fast_points
from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import core
from sedona_db_spark.operators.result_cache import (BoundedPersistPool,
                                                    stats_memo)


class _GridIndex:
    """Uniform-grid point index with expanding-ring KNN (numpy)."""

    MAX_KEYS = 8_000_000   # per-pass key/member materialization bound

    def __init__(self, pts: np.ndarray, ids: np.ndarray, target_per_cell: int = 8):
        self.pts = pts
        self.ids = ids
        n = len(pts)
        self.x0, self.y0 = pts[:, 0].min(), pts[:, 1].min()
        x1, y1 = pts[:, 0].max(), pts[:, 1].max()
        ncells = max(n // target_per_cell, 1)
        self.nx = max(int(np.sqrt(ncells)), 1)
        self.ny = self.nx
        self.w = max((x1 - self.x0) / self.nx, 1e-9)
        self.h = max((y1 - self.y0) / self.ny, 1e-9)
        cx = np.clip(((pts[:, 0] - self.x0) / self.w).astype(int), 0, self.nx - 1)
        cy = np.clip(((pts[:, 1] - self.y0) / self.h).astype(int), 0, self.ny - 1)
        cell = cx * self.ny + cy
        order = np.argsort(cell, kind="stable")
        self.sorted_cell = cell[order]
        self.order = order
        self.starts = np.searchsorted(self.sorted_cell, np.arange(self.nx * self.ny))
        self.ends = np.searchsorted(self.sorted_cell, np.arange(self.nx * self.ny), side="right")

    def _cell_members(self, cx, cy):
        if cx < 0 or cy < 0 or cx >= self.nx or cy >= self.ny:
            return None
        c = cx * self.ny + cy
        s, e = self.starts[c], self.ends[c]
        if s == e:
            return None
        return self.order[s:e]

    def _ring_members(self, qcx, qcy, ring):
        members = []
        if ring == 0:
            m = self._cell_members(qcx, qcy)
            if m is not None:
                members.append(m)
            return members
        for cx in range(qcx - ring, qcx + ring + 1):
            for cy in (qcy - ring, qcy + ring):
                m = self._cell_members(cx, cy)
                if m is not None:
                    members.append(m)
        for cy in range(qcy - ring + 1, qcy + ring):
            for cx in (qcx - ring, qcx + ring):
                m = self._cell_members(cx, cy)
                if m is not None:
                    members.append(m)
        return members

    def _collect(self, q: np.ndarray, k: int, pad: float):
        """Candidate indices collected ring-by-ring until every unseen
        ring is provably farther (by index-point distance) than the
        kth-best-so-far + pad."""
        qcx = int(np.clip((q[0] - self.x0) / self.w, 0, self.nx - 1))
        qcy = int(np.clip((q[1] - self.y0) / self.h, 0, self.ny - 1))
        min_cell = min(self.w, self.h)
        got: list[np.ndarray] = []
        count = 0
        ring = 0
        max_ring = max(self.nx, self.ny)
        while ring <= max_ring:
            members = self._ring_members(qcx, qcy, ring)
            if members:
                got.extend(members)
                count += sum(len(m) for m in members)
            if count >= k:
                idx = np.concatenate(got)
                d = np.hypot(self.pts[idx, 0] - q[0], self.pts[idx, 1] - q[1])
                kth_best = np.partition(d, k - 1)[k - 1] if len(d) >= k else np.inf
                # any point in ring r+1 is at least r*min_cell away from q's cell
                if ring * min_cell > kth_best + pad:
                    break
            ring += 1
        if not got:
            return np.arange(len(self.pts))
        return np.concatenate(got)

    def knn_candidates(self, q: np.ndarray, k: int, pad: float) -> np.ndarray:
        """Object ids of every candidate whose index point could be within
        kth-best + pad of q.  With pad >= 2*(query halfdiag + max object
        halfdiag) the true exact-distance top-k is guaranteed inside this
        set: exact(q,o) differs from index-point distance by at most
        (q_hd + o_hd), so an object outside the searched rings has
        exact >= ring*min_cell - (q_hd+o_hd) > kth_center + pad -
        (q_hd+o_hd) >= exact kth upper bound."""
        idx = self._collect(q, k, pad)
        return self.ids[idx]

    def knn(self, q: np.ndarray, k: int):
        """(ids, dists) of k nearest objects to q.  Expands rings until the
        minimum possible distance of the next ring exceeds the kth best —
        exact, not approximate."""
        idx = self._collect(q, k, 0.0)
        d = np.hypot(self.pts[idx, 0] - q[0], self.pts[idx, 1] - q[1])
        k_eff = min(k, len(idx))
        sel = np.argpartition(d, k_eff - 1)[:k_eff] if len(idx) > k_eff else np.arange(len(idx))
        # deterministic tie-break: distance, then object id
        sel = sel[np.lexsort((self.ids[idx[sel]], d[sel]))]
        return self.ids[idx[sel]], d[sel]

    def knn_batch(self, Q: np.ndarray, k: int):
        """Exact KNN for a whole batch of query points at once.

        Vectorized analogue of :meth:`knn` (same completion bound, same
        (distance, id) tie order) using the CSR square-probe pattern from
        spatial_join.py — no per-query Python loop.  Each pass probes a
        (2r+1)^2 cell square for every still-active query, takes a
        per-query top-k by lexsort + group ranks, and retires queries
        whose kth distance is provably inside the searched square; the
        radius doubles for the remainder.  Returns (qrow, object_id,
        dist) arrays sorted by (qrow, dist, id)."""
        M = len(Q)
        if M == 0 or len(self.pts) == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z, np.empty(0, dtype=np.float64)
        qcx = np.clip(((Q[:, 0] - self.x0) / self.w), 0, self.nx - 1)
        qcy = np.clip(((Q[:, 1] - self.y0) / self.h), 0, self.ny - 1)
        bad = ~(np.isfinite(qcx) & np.isfinite(qcy))   # empty/NaN queries
        qcx = np.where(bad, 0, qcx).astype(np.int64)
        qcy = np.where(bad, 0, qcy).astype(np.int64)
        min_cell = min(self.w, self.h)
        active = np.flatnonzero(~bad)
        out_q: list[np.ndarray] = []
        out_o: list[np.ndarray] = []
        out_d: list[np.ndarray] = []
        r = max(int(np.ceil(np.sqrt(k / 8.0))), 1)
        MAX_KEYS = self.MAX_KEYS
        while len(active):
            ax = np.clip(qcx[active] - r, 0, self.nx - 1)
            bx = np.clip(qcx[active] + r, 0, self.nx - 1)
            ay = np.clip(qcy[active] - r, 0, self.ny - 1)
            by = np.clip(qcy[active] + r, 0, self.ny - 1)
            ncx = bx - ax + 1
            ncy = by - ay + 1
            per = ncx * ncy
            # a late wide-radius pass over many sparse-region queries
            # would materialize active x (2r+1)^2 keys at once; keep only
            # the cumsum-bounded PREFIX of the active set this pass and
            # defer the rest to the next (larger-radius) pass — skipping
            # a radius only widens the deferred queries' probe square, it
            # never weakens the completion bound, and the whole-grid
            # clamp guarantees termination.  (The former single halving
            # could still exceed the cap 10x; round-6 advisor.)
            rest = None
            if int(per.sum()) > MAX_KEYS and len(active) > 1:
                nkeep = max(int(np.searchsorted(
                    np.cumsum(per), MAX_KEYS, side="right")), 1)
                rest = active[nkeep:]
                active = active[:nkeep]
                ax, bx = ax[:nkeep], bx[:nkeep]
                ay, by = ay[:nkeep], by[:nkeep]
                ncx, ncy, per = ncx[:nkeep], ncy[:nkeep], per[:nkeep]
            rows = np.repeat(np.arange(len(active)), per)
            base = np.concatenate(([0], np.cumsum(per)[:-1]))
            off = np.arange(int(per.sum())) - np.repeat(base, per)
            keys = (ax[rows] + off // ncy[rows]) * self.ny \
                + (ay[rows] + off % ncy[rows])
            s = self.starts[keys]
            cnt = self.ends[keys] - s
            # second budget: the member expansion (np.repeat(s, cnt) and
            # the distance arrays) is cnt.sum()-sized — bound it the same
            # way, deferring the suffix of queries past the budget
            mem_per_q = np.add.reduceat(cnt, base) if len(cnt) else per * 0
            if int(mem_per_q.sum()) > MAX_KEYS and len(active) > 1:
                nkeep = max(int(np.searchsorted(
                    np.cumsum(mem_per_q), MAX_KEYS, side="right")), 1)
                deferred = active[nkeep:]
                rest = (deferred if rest is None
                        else np.concatenate([deferred, rest]))
                active = active[:nkeep]
                ax, bx = ax[:nkeep], bx[:nkeep]
                ay, by = ay[:nkeep], by[:nkeep]
                ncut = int(base[nkeep]) if nkeep < len(per) else len(keys)
                rows, keys = rows[:ncut], keys[:ncut]
                s, cnt = s[:ncut], cnt[:ncut]
            prow = np.repeat(rows, cnt)
            base2 = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            off2 = np.arange(int(cnt.sum())) - np.repeat(base2, cnt)
            midx = self.order[np.repeat(s, cnt) + off2]
            qi = active[prow]
            d = np.hypot(self.pts[midx, 0] - Q[qi, 0],
                         self.pts[midx, 1] - Q[qi, 1])
            o = np.lexsort((self.ids[midx], d, prow))
            prow_s, midx_s, d_s = prow[o], midx[o], d[o]
            grp = np.arange(len(active))
            gs = np.searchsorted(prow_s, grp)
            ge = np.searchsorted(prow_s, grp, side="right")
            counts = ge - gs
            safe_kth = np.minimum(gs + k - 1, max(len(d_s) - 1, 0))
            kth = np.where(counts >= k,
                           d_s[safe_kth] if len(d_s) else np.inf, np.inf)
            whole = ((ax == 0) & (ay == 0) & (bx == self.nx - 1)
                     & (by == self.ny - 1))
            done = whole | ((counts >= k) & (r * min_cell > kth))
            if done.any():
                rank = np.arange(len(prow_s)) - np.repeat(gs, counts)
                take = (rank < k) & np.repeat(done, counts)
                out_q.append(active[prow_s[take]])
                out_o.append(self.ids[midx_s[take]])
                out_d.append(d_s[take])
            active = active[~done]
            if rest is not None:
                active = np.concatenate([active, rest])
            # clamp at whole-grid radius: the probe square is already the
            # entire grid, and unbounded doubling overflows int64 when
            # budget deferrals stretch the pass count
            r = min(r * 2, max(self.nx, self.ny))
        qr = np.concatenate(out_q) if out_q else np.empty(0, dtype=np.int64)
        oi = np.concatenate(out_o) if out_o else np.empty(0, dtype=np.int64)
        dd = np.concatenate(out_d) if out_d else np.empty(0, dtype=np.float64)
        o = np.lexsort((oi, dd, qr))
        return qr[o], oi[o], dd[o]


_ORDER_RISKY = ("Exchange", "Repartition", "Join", "Aggregate", "Sort",
                "Window", "Sample", "Deduplicate", "Intersect", "Except")


def _pin_row_ids(df: DataFrame, name: str) -> DataFrame:
    """Positional row ids that survive plan re-evaluation.

    monotonically_increasing_id is only stable across re-evaluations
    when the plan below it is order-deterministic; above a shuffle the
    reduce-side row order varies and two branches reading the tagged
    side can disagree (ADVICE r8).  A pure scan/filter/project pipeline
    (the common KNN query side — file splits and in-file order are
    fixed) keeps the free id; any order-risky node pins ONE evaluation
    via lazy localCheckpoint.  A false positive on the plan-string
    probe only costs the checkpoint, never correctness."""
    tagged = df.withColumn(name, F.monotonically_increasing_id())
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return tagged.localCheckpoint(eager=False)
    if any(k in plan for k in _ORDER_RISKY):
        return tagged.localCheckpoint(eager=False)
    return tagged


def knn_join(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_geom: str = "geom",
    object_geom: str = "geom",
    include_ties: bool = False,
    broadcast_threshold: int = 200_000,
    use_spheroid: bool = False,
) -> DataFrame:
    """Broadcast KNN join.  Output: query columns + object id/geom columns +
    ``knn_distance``, k rows per query (deterministic tie order).

    The object side is probed with a LIMIT-capped count first; above
    ``broadcast_threshold`` rows the join automatically routes to
    :func:`knn_join_partitioned` instead of collecting an unbounded
    object side onto the driver (at cluster scale an oversized build
    side must become a different plan, not a driver OOM).

    ``use_spheroid=True`` ranks by great-circle meters over lon/lat
    POINT inputs (reference option surface spatial_predicate.rs:254-297;
    its refinement is haversine on the mean sphere).  Under the
    broadcast threshold the ranking scans the broadcast object set per
    query (vectorized); above it the join routes to
    :func:`knn_join_spheroid_partitioned` (modular-lon grid + geodesic
    completion bound).  Non-point inputs raise rather than silently
    degrade.
    """
    spark = queries.sparkSession
    # path-choice probe: scans at most threshold+1 rows, never a full
    # count; memoized on the analyzed-plan hash (a stale verdict picks
    # a path, never changes results — both paths are exact)
    n_small, remember = stats_memo("knnpath", objects,
                                   int(broadcast_threshold))
    if n_small is None:
        try:
            n_small = objects.limit(broadcast_threshold + 1).count()
            remember(n_small)
        except Exception:
            n_small = None
    if n_small is None or n_small > broadcast_threshold:
        if use_spheroid:
            return knn_join_spheroid_partitioned(
                queries, objects, k, query_geom, object_geom,
                include_ties=include_ties)
        return knn_join_partitioned(queries, objects, k, query_geom,
                                    object_geom, include_ties=include_ties)
    # object side fits: materialized driver-side once (broadcast path);
    # non-point objects are indexed by bbox center and exact-refined below
    obj_rows = objects.collect()
    obj_cols = [c for c in objects.columns]
    gi = obj_cols.index(object_geom)
    pts = []
    geoms = []
    halfdiag = 0.0
    for r in obj_rows:
        b = r[gi]
        g = core.from_wkb(bytes(b)) if b is not None else None
        geoms.append(g)
        if g is None or g.is_empty():
            pts.append((np.nan, np.nan))
        else:
            bb = alg.bounds(g)
            pts.append(((bb[0] + bb[2]) / 2.0, (bb[1] + bb[3]) / 2.0))
            halfdiag = max(halfdiag,
                           float(np.hypot((bb[2] - bb[0]) / 2.0,
                                          (bb[3] - bb[1]) / 2.0)))
    obj_pts = np.asarray(pts, dtype=np.float64)
    valid = ~np.isnan(obj_pts[:, 0])
    obj_idx = np.arange(len(obj_rows))[valid]
    index_pts = obj_pts[valid]
    exact_needed = any(g is not None and g.gt != core.POINT for g in geoms)
    if use_spheroid and exact_needed:
        raise NotImplementedError(
            "use_spheroid KNN supports POINT geometries only (reference "
            "spatial_predicate.rs:254-297 validates the same)")

    bc = spark.sparkContext.broadcast({
        "pts": index_pts, "ids": obj_idx,
        "rows": [tuple(r) for r in obj_rows],
        "geom_wkb": [None if g is None else core.to_wkb(g) for g in geoms],
        "exact": exact_needed,
        "o_hd_max": halfdiag,
    })

    out_schema = T.StructType(
        list(queries.schema.fields)
        + [T.StructField(f"o_{f.name}" if f.name in queries.columns else f.name, f.dataType)
           for f in objects.schema.fields]
        + [T.StructField("knn_distance", T.DoubleType())])
    obj_out_names = [f"o_{c}" if c in queries.columns else c for c in obj_cols]
    qcols = list(queries.columns)
    qg_idx = qcols.index(query_geom)

    def run(iterator):
        data = bc.value
        idx = _GridIndex(data["pts"], data["ids"]) if len(data["pts"]) else None
        obj_geoms = None
        obj_pdf = None
        for pdf in iterator:
            if idx is None:
                yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
                continue
            out_rows = []
            wkbs = pdf[query_geom]
            qpts = _fast_points(wkbs)
            decoded = None if qpts is not None else _decode(wkbs)
            if (qpts is not None and not use_spheroid and not data["exact"]
                    and not include_ties):
                # all-point fast path: whole-batch vectorized KNN — no
                # per-query Python loop (the probe loop was the broadcast
                # path's throughput cap in the mid-size regime)
                if obj_pdf is None:
                    obj_pdf = pd.DataFrame(data["rows"],
                                           columns=obj_out_names)
                qrow, oids, dists = idx.knn_batch(qpts, k)
                qpart = pdf.iloc[qrow].reset_index(drop=True)
                opart = obj_pdf.iloc[oids].reset_index(drop=True)
                out = pd.concat([qpart, opart], axis=1)
                out["knn_distance"] = dists
                yield out[[f.name for f in out_schema.fields]]
                continue
            if (qpts is not None and not use_spheroid and not include_ties
                    and data["exact"] and len(data["ids"]) <= 256):
                # point queries vs a small exact-geometry object side
                # (the polygon-KNN shape: k nearest polygons per point):
                # one vectorized point-to-polygon distance column per
                # object + per-row argsort — no per-query Python loop.
                if obj_geoms is None:
                    obj_geoms = [None if w is None else core.from_wkb(w)
                                 for w in data["geom_wkb"]]
                areal_ok = all(
                    (g is not None and not g.is_empty()
                     and ((g.gt == core.POINT and g.data is not None)
                          or (g.dimension() == 2 and not list(g.lines())
                              and not list(g.points()))))
                    for g in (obj_geoms[o] for o in data["ids"]))
                if areal_ok:
                    if obj_pdf is None:
                        obj_pdf = pd.DataFrame(data["rows"],
                                               columns=obj_out_names)
                    m = len(pdf)
                    n_o = len(data["ids"])
                    D = np.empty((m, n_o))
                    for col, oid in enumerate(data["ids"]):
                        g = obj_geoms[oid]
                        if g.gt == core.POINT:
                            D[:, col] = np.hypot(qpts[:, 0] - g.data[0],
                                                 qpts[:, 1] - g.data[1])
                        else:
                            D[:, col] = alg.points_to_polygon_distance_batch(
                                qpts, g)
                    kk = min(k, n_o)
                    # stable argsort: equal distances break by column
                    # order == ascending object id (ids are arange-built)
                    ordc = np.argsort(D, axis=1, kind="stable")[:, :kk]
                    rows = np.repeat(np.arange(m), kk)
                    cols = ordc.ravel()
                    qpart = pdf.iloc[rows].reset_index(drop=True)
                    opart = obj_pdf.iloc[data["ids"][cols]] \
                        .reset_index(drop=True)
                    out = pd.concat([qpart, opart], axis=1)
                    out["knn_distance"] = D[rows, cols]
                    yield out[[f.name for f in out_schema.fields]]
                    continue
            # include_ties ranks ALL broadcast objects (exact tie cut —
            # the broadcast path's object side is small by construction)
            n_obj = len(data["ids"])
            for i in range(len(pdf)):
                q_hd = 0.0
                if qpts is not None:
                    q = qpts[i]
                    qgeom = None
                else:
                    qgeom = decoded[i]
                    if qgeom is None or qgeom.is_empty():
                        continue
                    bb = alg.bounds(qgeom)
                    q = np.array([(bb[0] + bb[2]) / 2.0, (bb[1] + bb[3]) / 2.0])
                    q_hd = float(np.hypot((bb[2] - bb[0]) / 2.0,
                                          (bb[3] - bb[1]) / 2.0))
                if use_spheroid:
                    if qpts is None:
                        raise NotImplementedError(
                            "use_spheroid KNN supports POINT queries only")
                    # vectorized haversine against every broadcast object:
                    # sound everywhere on the sphere (no planar ring bound)
                    R = 6371008.8
                    lam1, phi1 = np.radians(q[0]), np.radians(q[1])
                    lam2 = np.radians(data["pts"][:, 0])
                    phi2 = np.radians(data["pts"][:, 1])
                    aa = (np.sin((phi2 - phi1) / 2) ** 2
                          + np.cos(phi1) * np.cos(phi2)
                          * np.sin((lam2 - lam1) / 2) ** 2)
                    dists = 2 * R * np.arcsin(np.minimum(1.0, np.sqrt(aa)))
                    order = np.lexsort((data["ids"], dists))
                    ranked = [(data["ids"][j], float(dists[j])) for j in order]
                elif data["exact"] or q_hd > 0.0:
                    # exact geometry-distance ranking: collect every
                    # candidate whose bbox-center could be within
                    # kth-center + pad (pad = 2*(q_hd + o_hd_max) makes
                    # the center bound admissible for true distance —
                    # see _GridIndex.knn_candidates), then refine
                    if obj_geoms is None:
                        obj_geoms = [None if w is None else core.from_wkb(w)
                                     for w in data["geom_wkb"]]
                    if qgeom is None:
                        qgeom = core.Geom(core.POINT, np.asarray(q))
                    if include_ties:
                        ids = data["ids"]
                    else:
                        pad = 2.0 * (q_hd + data["o_hd_max"])
                        ids = idx.knn_candidates(q, k, pad)
                    exact = [(oid, alg.distance(qgeom, obj_geoms[oid]) or 0.0)
                             for oid in ids]
                    exact.sort(key=lambda t: (t[1], t[0]))
                    ranked = exact
                else:
                    kk = n_obj if include_ties else k
                    ids, dists = idx.knn(q, kk)
                    ranked = list(zip(ids, dists))
                if include_ties and len(ranked) > k:
                    # reference DISTANCE_TOLERANCE (spatial_index.rs:28-60)
                    kth = ranked[k - 1][1]
                    pairs = [p for p in ranked if p[1] <= kth + 1e-9]
                else:
                    pairs = ranked[:k]
                qrow = tuple(pdf.iloc[i])
                for oid, dd in pairs:
                    out_rows.append(qrow + data["rows"][oid] + (float(dd),))
            yield pd.DataFrame(out_rows, columns=[f.name for f in out_schema.fields])

    # width guard (round-6): the probe side otherwise inherits the scan's
    # 1-5 splits for the whole CPU-heavy index-probe stage
    from sedona_db_spark.plans.width import widen_if_starved
    return widen_if_starved(queries).mapInPandas(run, schema=out_schema)


# ======================================================================
# partitioned (large-large) KNN join — two-round bound-then-refine
# ======================================================================

# Bounded cache of persisted partitioned-KNN frames (see persist note in
# the function body).  Keeps the TWO most recent calls' frames persisted
# (2 frames per call) so a previous call's still-lazy result DataFrame is
# not silently de-cached the moment a second join starts — the former
# single-slot dict unpersisted frames the previous result still
# referenced, losing its caching on interleaved calls, and was not
# thread-safe (round-6 advisor).  Frames older than that are unpersisted:
# their dependent results recompute correctly, just without the cache.
# 2 frames/call x 2 recent calls
_PARTITIONED_POOL = BoundedPersistPool(keep=4)


def _cache_persist(df: DataFrame) -> DataFrame:
    """persist() df and enroll it in the bounded FIFO, releasing the
    oldest frames past the retention window."""
    return _PARTITIONED_POOL.persist(df)


def knn_join_partitioned(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_geom: str = "geom",
    object_geom: str = "geom",
    grid_cells: int | None = None,
    include_ties: bool = False,
) -> DataFrame:
    """Large-large KNN join: no broadcast, no driver collect.

    Reference analogue: the out-of-core KNN path (SURVEY §2.10 "grid
    partition + neighbor-ring expansion, or 2-round bound-then-refine").

    Round A: objects hashed to a uniform grid (stats from one tiny agg);
    each query probes its 3x3 cell neighborhood via an equi-join on cell id
    and takes a candidate top-k -> upper bound d_k (native window, no
    Python).  A query is PROVEN done when it found >= k candidates and
    d_k <= the distance from the query to the edge of its searched block,
    shrunk by the query halfdiag + max object halfdiag (sides clipped at
    the grid boundary are safe: the grid covers every object).  Round B:
    the remaining queries re-probe with an explicit radius (d_k plus the
    halfdiag slack, or the full grid when <k candidates were found —
    rare, sparse-region queries) and re-rank.  Both rounds are single
    shuffles keyed by cell.

    Exact for ALL geometry types: point inputs rank on native codegen
    center distance (both halfdiags are zero so the bound is tight); any
    non-point input (detected from WKB length — a 2D point is exactly 21
    bytes) switches the ranking distance to the exact geometry-distance
    kernel (Arrow-batched, point fast path) while candidate generation
    stays on the bbox-center grid with the halfdiag-padded completion
    proof.  Reference semantics: exact geometry distance
    (spatial_predicate.rs:254-297, index/knn_adapter.rs).
    """
    from sedona_db_spark.operators.spatial_join import bbox_col

    # disambiguate object columns (one selectExpr round trip — aliased
    # F.col()s cost 2 RPCs per column at construction, guide §1.2)
    from sedona_db_spark.operators.spatial_join import _bq
    rcols = {c: (f"o_{c}" if c in queries.columns else c) for c in objects.columns}
    obj = objects.selectExpr(
        *[f"{_bq(c)} AS {_bq(a)}" if a != c else _bq(c)
          for c, a in rcols.items()])
    ogeom = rcols[object_geom]
    obj_payload = [a for a in rcols.values()]

    # width guard (round-6): both sides feed CPU-heavy bbox kernels next
    from sedona_db_spark.plans.width import widen_if_starved
    obj = widen_if_starved(obj)
    queries = widen_if_starved(queries)

    # Pin the id assignment to ONE evaluation: __qid flows into top_a
    # (cached) AND the qstat/round-B branch, which re-evaluate this
    # subtree independently — above a shuffle, positional ids permute
    # between evaluations and the safe/unsafe split silently mixes
    # queries (ADVICE r8 hazard class).  Content hashes are NOT a
    # substitute here: duplicate query rows must keep distinct ids or
    # the per-query top-k window under-emits.
    # Plan construction uses single selectExpr batches (one py4j round
    # trip per frame) instead of per-column withColumn chains: profiled
    # at ~1.3 s of pure driver/py4j chatter per construction for the
    # polygon-KNN shape — a fixed cost every caller paid per build
    # (guide §1: the bench times construction + execution).
    q = _pin_row_ids(queries, "__qid")
    qb = q.select("*", bbox_col(F.col(query_geom)).alias("__qb")) \
          .selectExpr(
              "*",
              "(__qb.xmin + __qb.xmax) / 2 AS __qx",
              "(__qb.ymin + __qb.ymax) / 2 AS __qy",
              "coalesce(sqrt(pow((__qb.xmax - __qb.xmin) / 2, 2) + "
              "pow((__qb.ymax - __qb.ymin) / 2, 2)), 0.0d) AS __qhd") \
          .drop("__qb")
    # classed bbox (same decode pass as the plain bbox — zero extra
    # Python): the corners + shape class stay as flat columns so the
    # all-rectangle object census below can swap the per-pair Python
    # distance kernel for the exact native point-to-rect formula
    from sedona_db_spark.operators.spatial_join import _bbox_cls_col
    ob = obj.select("*", _bbox_cls_col(F.col(ogeom)).alias("__ob")) \
            .selectExpr(
                "*",
                "(__ob.xmin + __ob.xmax) / 2 AS __ox",
                "(__ob.ymin + __ob.ymax) / 2 AS __oy",
                "coalesce(sqrt(pow((__ob.xmax - __ob.xmin) / 2, 2) + "
                "pow((__ob.ymax - __ob.ymin) / 2, 2)), 0.0d) AS __ohd",
                "__ob.xmin AS __obx0", "__ob.ymin AS __oby0",
                "__ob.xmax AS __obx1", "__ob.ymax AS __oby1",
                "__ob.cls AS __ocls") \
            .drop("__ob")

    # One materialization of the bbox-augmented object side serves the
    # stats agg AND both candidate rounds: without the cache, the Python
    # bbox pass over the full object table ran three times (stats, round
    # A, round B) — at 100 TB that is two full scans too many.  The
    # stats collect() below fills the cache eagerly; frames from older
    # calls are released by the bounded FIFO in _cache_persist.
    # (frame, stats) memoized on the analyzed-plan hash (r11): repeated
    # builds of the same join shape (bench reps, dashboards) were paying
    # the full Python bbox pass + stats job per CONSTRUCTION.  The
    # memoized frame is the persisted one, so a hit also reuses its
    # cached partitions at execution; if the persist FIFO has since
    # evicted it, the frame recomputes — slower, never wrong.  Stats
    # steer grid sizing and plan choice only: round B's completion
    # bound and the per-row exact-mode guards own correctness.
    memo, remember = stats_memo("knnob", obj, ogeom)
    if memo is not None:
        ob, stats = memo
    else:
        ob = _cache_persist(ob)
        stats = ob.agg(
            F.min("__ox").alias("x0"), F.min("__oy").alias("y0"),
            F.max("__ox").alias("x1"), F.max("__oy").alias("y1"),
            F.count("*").alias("n"), F.max("__ohd").alias("ohd"),
            F.max(F.length(ogeom)).alias("maxlen"),
            F.min((F.col("__ocls") == 2).cast("int")).alias("allrect")
        ).collect()[0]
        remember((ob, stats))
    if stats["n"] == 0:
        empty_schema = qb.drop("__qid", "__qx", "__qy", "__qhd").schema
        return queries.sparkSession.createDataFrame([], empty_schema)
    x0, y0, x1, y1, n_obj = (stats["x0"], stats["y0"], stats["x1"],
                             stats["y1"], stats["n"])
    ohd_max = float(stats["ohd"] or 0.0)
    # a 2D point WKB is exactly 21 bytes; anything else (or Z/M points,
    # conservatively) flips on the exact-distance kernel.  Column-pruned
    # native scans, no Python pass.
    obj_nonpoint = stats["maxlen"] is not None and stats["maxlen"] != 21
    # LIMIT-probe, not a full agg: a max(length) over the query side is an
    # extra complete scan of a possibly-100TB table before any real work.
    # The probe decides the PLAN; a per-row guard in the native branch
    # below keeps correctness if a non-point row hides past the probe.
    qry_nonpoint, remember = stats_memo("knnq", queries, query_geom)
    if qry_nonpoint is None:
        qprobe = [r[0] for r in queries.select(F.length(query_geom))
                  .limit(4096).collect()]
        qry_nonpoint = any(l is not None and l != 21 for l in qprobe)
        remember(qry_nonpoint)
    exact_mode = obj_nonpoint or qry_nonpoint
    import math as _math
    if grid_cells is None:
        # ~1 object per cell: a 3x3 probe yields ~9 candidates (>= any
        # practical k) while keeping the candidate join linear in the
        # query count.  The old n_obj//64 sizing (9 objects/cell) made a
        # 3x3 neighborhood cover most of the domain whenever the object
        # side was small relative to the query side — the 625-box bulk
        # benchmark generated 52M candidate pairs instead of 1.4M.
        # Under-served queries are exactly what round B exists for.
        grid_cells = min(max(n_obj, 64), 512 * 512)
    nx = max(int(_math.sqrt(grid_cells)), 2)
    ny = nx
    w = max((x1 - x0) / nx, 1e-9)
    h = max((y1 - y0) / ny, 1e-9)

    # literal embeds use repr() — exact double round-trip, same values
    # the Column-built version passed through F.lit
    _x0, _y0, _x1, _y1 = (repr(float(x0)), repr(float(y0)),
                          repr(float(x1)), repr(float(y1)))
    _w, _h, _ohd = repr(float(w)), repr(float(h)), repr(float(ohd_max))

    # Per-row guard for the memoized stats (r11): the completion bound
    # leans on ohd_max and the grid extent, so an object BEYOND the
    # cached bounds (data changed under a memoized plan) must fail
    # LOUD, never silently clip into an edge cell the bound doesn't
    # model.  Null centers (null/empty geometry) keep dropping silently.
    ob2 = ob.selectExpr(
        "*",
        f"CASE WHEN (__ox IS NULL OR __oy IS NULL OR "
        f"(__ox >= {_x0} - 1e-9 AND __ox <= {_x1} + 1e-9 AND "
        f"__oy >= {_y0} - 1e-9 AND __oy <= {_y1} + 1e-9 AND "
        f"coalesce(__ohd, 0.0d) <= {_ohd} + 1e-9)) THEN "
        f"least(greatest(floor((__ox - {_x0}) / {_w}), 0), {nx - 1}) "
        f"* {ny} + "
        f"least(greatest(floor((__oy - {_y0}) / {_h}), 0), {ny - 1}) "
        "ELSE CAST(raise_error('knn_join_partitioned: object beyond the "
        "memoized planning stats (extent/halfdiag grew under a cached "
        "plan); rebuild the object DataFrame (new plan) to refresh the "
        "stats') AS LONG) END AS __ocell")

    # (NOT cached: the query subtree feeds round A, the qstat join and
    # round B, but persisting it was measured SLOWER at sf0.1 — the
    # materialization barrier costs more than the two repeated
    # scan+bbox passes, which are narrow and fuse into their stages.)
    qb2 = qb.selectExpr(
        "*",
        f"least(greatest(floor((__qx - {_x0}) / {_w}), 0), {nx - 1}) "
        "AS __qcx",
        f"least(greatest(floor((__qy - {_y0}) / {_h}), 0), {ny - 1}) "
        "AS __qcy")

    def neighborhood_cells(radius_sql: str) -> str:
        """Cell-id array expression for the (2r+1)^2 neighborhood;
        ``radius_sql`` is a SQL sub-expression (constant or column)."""
        return (
            f"flatten(transform("
            f"sequence(greatest(__qcx - ({radius_sql}), 0), "
            f"least(__qcx + ({radius_sql}), {nx - 1})), "
            f"cx -> transform("
            f"sequence(greatest(__qcy - ({radius_sql}), 0), "
            f"least(__qcy + ({radius_sql}), {ny - 1})), "
            f"cy -> cx * {ny} + cy)))")

    obj_allrect = bool(stats["n"]) and stats["allrect"] == 1
    _qg = f"`{query_geom}`"
    _og = f"`{ogeom}`"
    if exact_mode and obj_allrect and not qry_nonpoint:
        # All-rectangle object census + all-point query probe: the exact
        # geometry distance IS the native point-to-axis-aligned-rect
        # formula over the classed-bbox corners — zero Python on the
        # candidate pairs (the pandas kernel below re-derived exactly
        # this per batch through factorize + segment walks).  Guards per
        # row: a query row that is not a 21-byte 2-D point, or an object
        # row whose recomputed shape class is not rectangle (data changed
        # under a memoized plan), fails LOUD like the point fast path.
        dist = F.expr(
            f"CASE WHEN (length({_qg}) IS NULL OR length({_qg}) = 21) "
            "AND __ocls = 2 THEN "
            "sqrt(pow(greatest(__obx0 - __qx, __qx - __obx1, 0.0d), 2) + "
            "pow(greatest(__oby0 - __qy, __qy - __oby1, 0.0d), 2)) "
            "ELSE CAST(raise_error('knn_join_partitioned: non-point "
            "query or non-rectangle object appeared beyond the plan "
            "probe/stats (data changed under a memoized plan); re-run "
            "with a fresh object DataFrame') AS DOUBLE) END")
    elif exact_mode:
        from sedona_db_spark.functions.kernels import (
            _decode_cached, _fast_points)
        from sedona_db_spark.geom import algorithms as _alg

        def _pair_dist(s1: pd.Series, s2: pd.Series) -> pd.Series:
            p1, p2 = _fast_points(s1), _fast_points(s2)
            if p1 is not None and p2 is not None:
                return pd.Series(np.hypot(p1[:, 0] - p2[:, 0],
                                          p1[:, 1] - p2[:, 1]))
            # point-vs-areal batches (the polygon-KNN shape): factorize
            # the areal side and run the vectorized segment-distance
            # kernel per distinct polygon — no per-pair Python geometry
            if p1 is not None or p2 is not None:
                pts, poly_s = (p1, s2) if p1 is not None else (p2, s1)
                codes, uniques = pd.factorize(poly_s)
                if 0 < len(uniques) <= 2048 and not (codes < 0).any():
                    from sedona_db_spark.geom import core as _core
                    geoms = [_core.from_wkb(u) for u in uniques]
                    if all(g.dimension() == 2 and not list(g.lines())
                           and not list(g.points()) and list(g.polygons())
                           for g in geoms):
                        out = np.empty(len(codes))
                        for kdx, g in enumerate(geoms):
                            m = codes == kdx
                            out[m] = _alg.points_to_polygon_distance_batch(
                                pts[m], g)
                        return pd.Series(out)
            # candidate batches repeat the same few objects against many
            # queries: memoized decode turns O(pairs) parses into
            # O(distinct geometries)
            g1s, g2s = _decode_cached(s1), _decode_cached(s2)
            return pd.Series(
                [None if (a is None or b is None) else _alg.distance(a, b)
                 for a, b in zip(g1s, g2s)], dtype=object)

        dist = F.pandas_udf(_pair_dist, T.DoubleType())(
            F.col(query_geom), F.col(ogeom))
    else:
        # native fast path assumes every query is a 2-D point (probe said
        # so); the guard makes a probe miss fail loudly instead of
        # silently ranking a polygon by its bbox center
        dist = F.expr(
            f"CASE WHEN (length({_qg}) IS NULL OR length({_qg}) = 21) "
            f"AND (length({_og}) IS NULL OR length({_og}) = 21) THEN "
            "sqrt(pow(__qx - __ox, 2) + pow(__qy - __oy, 2)) "
            "ELSE CAST(raise_error('knn_join_partitioned: non-point "
            "geometry appeared beyond the plan probe/stats (query probe "
            "miss, or object data changed under a memoized plan); "
            "re-run with a fresh object DataFrame or exact mode') "
            "AS DOUBLE) END")

    # deterministic tie-break mirroring the broadcast path: distance,
    # then the object's orderable payload columns (id first by
    # convention), then center coords as a final fallback
    orderable = (T.NumericType, T.StringType, T.DateType, T.TimestampType,
                 T.BooleanType, T.BinaryType)
    tie_cols = [f.name for f in obj.schema.fields
                if f.name != ogeom and isinstance(f.dataType, orderable)]

    # ranking window + tie handling as single SQL strings (round 12,
    # guide §1.2): the Window-builder form cost ~170 RPCs per topk call
    # (two calls per build); the SQL window function is the identical
    # plan (ORDER BY defaults ASC NULLS FIRST like Column asc) in 2-3
    # round trips.
    _order_sql = ", ".join(["knn_distance"] + [_bq(c) for c in tie_cols]
                           + ["__ox", "__oy"])

    def topk(cand: DataFrame) -> DataFrame:
        ranked = cand.withColumn("knn_distance", dist).selectExpr(
            "*", "row_number() OVER (PARTITION BY __qid ORDER BY "
            f"{_order_sql}) AS __rn")
        if include_ties:
            # withColumn, not selectExpr("*", ...): round B's candidate
            # frame already carries round A's __dk and must have it
            # REPLACED by the tie threshold, not duplicated
            ranked = ranked.withColumn("__dk", F.expr(
                f"max(CASE WHEN __rn = {int(k)} THEN knn_distance END) "
                "OVER (PARTITION BY __qid)"))
            return ranked.filter(
                f"__rn <= {int(k)} OR (__dk IS NOT NULL AND "
                "knn_distance <= __dk + 1.0e-9)").drop("__dk")
        return ranked.filter(f"__rn <= {int(k)}")

    keep_cols = ([c for c in queries.columns] + ["__qid"]
                 + obj_payload + ["knn_distance"])

    # ---- round A: 3x3 neighborhood ----------------------------------
    qa = qb2.withColumn("__cell",
                        F.explode(F.expr(neighborhood_cells("1"))))
    cand_a = qa.join(ob2, F.expr("__cell = __ocell"), "inner")
    # persist round A's top-k: its lineage feeds the per-query outcome
    # agg, the safe/unsafe split AND the final output — uncached, the
    # candidate join + window would re-execute three to four times (a
    # full re-shuffle of the big side each time at 100 TB).  Result-sized
    # (n_queries x k rows), so the cache is small relative to the join.
    # Projected to the output columns BEFORE the persist: the cache
    # boundary blocks downstream column pruning, so an unprojected
    # persist forced every helper column (cells, halfdiags, bbox
    # corners — ~90 B/row) through the window exchange and into cache
    # storage whether or not the caller reads them.
    top_a = _cache_persist(topk(cand_a).select(*keep_cols))

    # per-query outcome of round A
    agg_a = top_a.groupBy("__qid").agg(
        F.count("*").alias("__cnt"), F.max("knn_distance").alias("__dk"))
    qstat = qb2.join(agg_a, "__qid", "left")

    # margin to the unsearched region (sides at the grid edge are safe);
    # exact distance to any unsearched object >= center margin minus the
    # two halfdiags (zero for points, so the point bound stays tight)
    min_needed = k if not include_ties else k
    _inf = "CAST('Infinity' AS DOUBLE)"
    margin_sql = (
        "least("
        f"CASE WHEN __qcx - 1 > 0 THEN __qx - ({_x0} + (__qcx - 1) * {_w}) "
        f"ELSE {_inf} END, "
        f"CASE WHEN __qcx + 1 < {nx - 1} THEN "
        f"({_x0} + (__qcx + 2) * {_w}) - __qx ELSE {_inf} END, "
        f"CASE WHEN __qcy - 1 > 0 THEN __qy - ({_y0} + (__qcy - 1) * {_h}) "
        f"ELSE {_inf} END, "
        f"CASE WHEN __qcy + 1 < {ny - 1} THEN "
        f"({_y0} + (__qcy + 2) * {_h}) - __qy ELSE {_inf} END)")
    qstat = qstat.selectExpr(
        "*",
        f"(__cnt >= {min_needed}) AND "
        f"(__dk <= {margin_sql} - __qhd - {_ohd}) AS __safe")

    unsafe = qstat.filter("NOT coalesce(__safe, false)")

    # ---- round B: explicit-radius re-probe for unsafe queries --------
    # clamped at the full grid: with a degenerate extent (min(w,h) bottoms
    # out at 1e-9) the raw cell count overflows, and probing every cell is
    # always a sound upper bound anyway
    rad_sql = (
        f"CAST(least(CASE WHEN __dk IS NOT NULL THEN "
        f"ceil((__dk + __qhd + {_ohd}) / {repr(float(min(w, h)))}) + 1 "
        f"ELSE {max(nx, ny)} END, {max(nx, ny)}) AS INT)")
    qb_b = unsafe.withColumn(
        "__cell", F.explode(F.expr(neighborhood_cells(rad_sql))))
    cand_b = qb_b.join(ob2, F.expr("__cell = __ocell"), "inner")
    top_b = topk(cand_b)

    # out_a filters by ANTI-join against the unsafe ids (usually a small
    # sparse-region remainder) instead of semi-join against the safe ids
    # (usually ~every query): same set — every __qid is in exactly one —
    # but AQE can broadcast the small remainder at runtime, where the
    # query-sized safe list forced a sort-merge shuffle of top_a.
    out_a = top_a.join(unsafe.select("__qid"), "__qid", "left_anti") \
                 .select(*keep_cols)
    out_b = top_b.select(*keep_cols)
    return out_a.unionByName(out_b).drop("__qid")


def knn_join_spheroid_partitioned(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_geom: str = "geom",
    object_geom: str = "geom",
    include_ties: bool = False,
    cell_deg: float | None = None,
    max_lat: float = 88.0,
) -> DataFrame:
    """Partitioned great-circle KNN join for lon/lat POINT inputs.

    ``max_lat`` is DEPRECATED and ignored (the round-B re-probe pads
    with the true band latitude; a fixed clamp could return a farther
    neighbor as "nearest" near the poles).

    Scale path for ``use_spheroid=True`` when the object side exceeds the
    broadcast threshold (reference option surface
    spatial_predicate.rs:254-297; refinement is haversine on the mean
    sphere, matching the broadcast spheroid path).  Plan shape mirrors
    :func:`knn_join_partitioned` but on the sphere:

    - equal-angle grid with MODULAR longitude cells (the geography
      join's construction, operators/geography_join.py): no seam at the
      antimeridian, no planar edge in longitude;
    - round A probes the query's 3x3 cell neighborhood; a query is
      complete when its kth distance is below the geodesic margin to the
      unsearched region: min over the lat-circle distances (exact
      meridian arc) and the lon-meridian great-circle distances
      ``R*asin(sin(dlon)*cos(lat))`` — both LOWER bounds on any object
      beyond that boundary, so the completion proof is admissible;
    - round B re-probes the remainder with an explicit geodesic radius
      (per-row latitude-aware lon padding, the exact
      ``2*asin(sin(r/2)/cos(lat))`` bound) or the full lat band when
      round A found fewer than k.

    Ranking and refine are native codegen haversine — zero Python.
    POINT-only: any non-point WKB in the LIMIT probe (or the guarded
    native expression) raises.
    """
    if max_lat != 88.0:
        import warnings
        warnings.warn(
            "knn_join_spheroid_partitioned(max_lat=...) is deprecated "
            "and ignored: the round-B re-probe pads with the true band "
            "latitude (a fixed clamp could return a farther neighbor as "
            "nearest near the poles)", DeprecationWarning, stacklevel=2)
    from sedona_db_spark.operators.geography_join import (
        M_PER_DEG, R_EARTH_M, haversine_m)
    from sedona_db_spark.operators.spatial_join import bbox_col

    rcols = {c: (f"o_{c}" if c in queries.columns else c) for c in objects.columns}
    obj = objects.select([F.col(c).alias(a) for c, a in rcols.items()])
    ogeom = rcols[object_geom]
    obj_payload = list(rcols.values())

    def pts_of(df, gcol, px, py):
        probe = [r[0] for r in df.select(F.length(gcol)).limit(4096).collect()]
        if any(l is not None and l != 21 for l in probe):
            raise NotImplementedError(
                "spheroid KNN supports 2-D POINT geometries only "
                "(reference spatial_predicate.rs:254-297 validates the same)")
        b = bbox_col(F.col(gcol))
        guard = F.length(F.col(gcol))
        lon = F.when(guard.isNull() | (guard == 21), b["xmin"]) \
               .otherwise(F.raise_error(F.lit(
                   "spheroid KNN: non-point geometry beyond the probe"))
                   .cast("double"))
        return df.withColumn(px, lon).withColumn(py, b["ymin"])

    # _pin_row_ids: the qstat branch re-evaluates this subtree and
    # positional ids are not stable above a shuffle
    q = pts_of(_pin_row_ids(queries, "__qid"),
               query_geom, "__qlon", "__qlat")
    ob = pts_of(obj, ogeom, "__olon", "__olat")

    n_obj = ob.count()
    if n_obj == 0:
        return queries.sparkSession.createDataFrame(
            [], q.drop("__qid", "__qlon", "__qlat").schema)
    import math as _math
    if cell_deg is None:
        # ~64 objects per occupied cell if uniformly spread over the globe
        cell_deg = _math.sqrt(64800.0 * 64.0 / max(n_obj, 1))
        cell_deg = min(max(cell_deg, 0.05), 45.0)
    ncx = int(_math.ceil(360.0 / cell_deg))
    lon_cell = 360.0 / ncx                      # exact-tiling (seam-safe)
    ncy = int(_math.ceil(180.0 / cell_deg))

    def cy_of(lat):
        return F.least(F.floor((lat + 90.0) / cell_deg), F.lit(ncy - 1))

    def cx_of(lon):
        return F.pmod(F.floor((lon + 180.0) / lon_cell), F.lit(ncx))

    ob2 = ob.withColumn("__ocx", cx_of(F.col("__olon"))) \
            .withColumn("__ocy", cy_of(F.col("__olat")))
    qb = q.withColumn("__qcx", cx_of(F.col("__qlon"))) \
          .withColumn("__qcy", cy_of(F.col("__qlat")))

    dist = haversine_m(F.col("__qlat"), F.col("__qlon"),
                       F.col("__olat"), F.col("__olon"))
    tie_break = (T.NumericType, T.StringType, T.DateType, T.TimestampType,
                 T.BooleanType, T.BinaryType)
    tie_cols = [f.name for f in obj.schema.fields
                if f.name != ogeom and isinstance(f.dataType, tie_break)]

    def topk(cand: DataFrame) -> DataFrame:
        win = Window.partitionBy("__qid").orderBy(
            F.col("knn_distance"), *[F.col(c) for c in tie_cols],
            F.col("__olon"), F.col("__olat"))
        ranked = cand.withColumn("knn_distance", dist) \
                     .withColumn("__rn", F.row_number().over(win))
        if include_ties:
            kth = Window.partitionBy("__qid")
            ranked = ranked.withColumn(
                "__dk", F.max(F.when(F.col("__rn") == k,
                                     F.col("knn_distance"))).over(kth))
            return ranked.filter(
                (F.col("__rn") <= k) |
                (F.col("__dk").isNotNull() &
                 (F.col("knn_distance") <= F.col("__dk") + 1e-6))).drop("__dk")
        return ranked.filter(F.col("__rn") <= k)

    # ---- round A: 3x3 neighborhood (lon cells modular) ----------------
    acx = F.flatten(F.transform(
        F.sequence(F.col("__qcx") - 1, F.col("__qcx") + 1),
        lambda cx: F.transform(
            F.sequence(F.greatest(F.col("__qcy") - 1, F.lit(0)),
                       F.least(F.col("__qcy") + 1, F.lit(ncy - 1))),
            lambda cy: F.pmod(cx, F.lit(ncx)) * ncy + cy)))
    qa = qb.withColumn("__cell", F.explode(F.array_distinct(acx)))
    cand_a = qa.join(
        ob2.withColumn("__cell", F.col("__ocx") * ncy + F.col("__ocy")),
        "__cell", "inner")
    top_a = topk(cand_a)

    agg_a = top_a.groupBy("__qid").agg(
        F.count("*").alias("__cnt"), F.max("knn_distance").alias("__dk"))
    qstat = qb.join(agg_a, "__qid", "left")

    # geodesic margin to the unsearched region beyond the 3x3 block:
    # lat sides = exact meridian arc to the lat circle (edge rows at the
    # poles are safe: nothing beyond ±90); lon sides = distance to the
    # boundary meridian great circle (lower bound of the segment)
    lat_lo = (F.col("__qcy") - 1) * cell_deg - 90.0
    lat_hi = (F.col("__qcy") + 2) * cell_deg - 90.0
    inf = F.lit(float("inf"))
    m_lat_lo = F.when(lat_lo > -90.0,
                      (F.col("__qlat") - lat_lo) * M_PER_DEG).otherwise(inf)
    m_lat_hi = F.when(lat_hi < 90.0,
                      (lat_hi - F.col("__qlat")) * M_PER_DEG).otherwise(inf)

    def meridian_dist(dlon_deg):
        s = F.abs(F.sin(F.radians(dlon_deg))) * F.cos(F.radians(F.col("__qlat")))
        return F.lit(R_EARTH_M) * F.asin(F.least(s, F.lit(1.0)))

    lon_w = F.col("__qlon") + 180.0 - (F.col("__qcx") - 1) * lon_cell
    lon_e = (F.col("__qcx") + 2) * lon_cell - (F.col("__qlon") + 180.0)
    # when the 3x3 block already wraps every lon cell there is no lon side
    full_wrap = F.lit(ncx <= 3)
    m_lon = F.when(full_wrap, inf).otherwise(
        F.least(meridian_dist(lon_w), meridian_dist(lon_e)))
    margin = F.least(m_lat_lo, m_lat_hi, m_lon)

    qstat = qstat.withColumn(
        "__safe", (F.col("__cnt") >= k) & (F.col("__dk") <= margin))
    unsafe = qstat.filter(~F.coalesce(F.col("__safe"), F.lit(False)))

    # ---- round B: explicit geodesic radius re-probe --------------------
    rad_m = F.when(F.col("__dk").isNotNull() & (F.col("__cnt") >= k),
                   F.col("__dk") * 1.0000001 + 1.0) \
             .otherwise(F.lit(_math.pi * R_EARTH_M))   # found <k: whole globe
    lat_pad = rad_m / M_PER_DEG
    r_ang = rad_m / R_EARTH_M
    # shared band-latitude bound (geography_join.lon_pad_deg_col): the
    # former fixed max_lat clamp under-padded the 88..90 band and could
    # return a farther neighbor as "nearest" near the poles
    from sedona_db_spark.operators.geography_join import lon_pad_deg_col
    lon_pad = lon_pad_deg_col(F.abs(F.col("__qlat")) + lat_pad, r_ang)
    cy0 = F.greatest(F.floor((F.col("__qlat") - lat_pad + 90.0) / cell_deg),
                     F.lit(0))
    cy1 = F.least(F.floor((F.col("__qlat") + lat_pad + 90.0) / cell_deg),
                  F.lit(ncy - 1))
    bcx = F.array_distinct(F.transform(
        F.sequence(F.floor((F.col("__qlon") + 180.0 - lon_pad) / lon_cell),
                   F.floor((F.col("__qlon") + 180.0 + lon_pad) / lon_cell)),
        lambda x: F.pmod(x, F.lit(ncx))))
    bcells = F.flatten(F.transform(
        bcx, lambda cx: F.transform(F.sequence(cy0, cy1),
                                    lambda cy: cx * ncy + cy)))
    qb_b = unsafe.withColumn("__cell", F.explode(F.array_distinct(bcells)))
    cand_b = qb_b.join(
        ob2.withColumn("__cell", F.col("__ocx") * ncy + F.col("__ocy")),
        "__cell", "inner")
    top_b = topk(cand_b)

    keep_cols = (list(queries.columns) + ["__qid"]
                 + obj_payload + ["knn_distance"])
    # anti-join against the (usually tiny) unsafe remainder: same set as
    # the former safe-ids semi-join, but AQE can broadcast it at runtime
    out_a = top_a.join(unsafe.select("__qid"), "__qid", "left_anti") \
                 .select(*keep_cols)
    out_b = top_b.select(*keep_cols)
    return out_a.unionByName(out_b).drop("__qid")
