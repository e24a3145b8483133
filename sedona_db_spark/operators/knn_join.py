"""KNN join: for each query row, the k nearest object rows.

Reference semantics (/root/reference/rust/sedona-query-planner/src/
spatial_predicate.rs:254-297 KNNPredicate; docs/reference/sql-joins.md:60-80):
planar distance (or great-circle meters with ``use_spheroid``), optional
tie inclusion, query-side filters may be pushed below the KNN,
object-side filters must be applied AFTER the join.

Spark design:
- broadcast path (objects fit in a broadcast): objects collected once,
  a numpy uniform-grid index is built PER EXECUTOR BATCH inside
  `mapInPandas` (index rebuilt per partition, never shipped — same rule
  the reference applies to its per-partition R-trees).
- large-large path: ONE two-round core (`_knn_two_round`) for both
  metrics — grid-cell candidate join with a 3x3-block first round, a
  provable per-query completion bound, and an explicit-reach second
  round for the remainder; two shuffles total, ranking fully native
  (window over distance).  The metric supplies only its grid
  (`_planar_grid` behind `knn_join_partitioned`, `_sphere_grid` behind
  `knn_join_spheroid_partitioned`).

NULL and EMPTY geometries have no centre and take part in no pair, on
either side: such a query gets no rows, such an object is nobody's
neighbor.  An empty (or all-NULL) object side gives the full output
schema with no rows.

Tie-breaking: ties beyond k are dropped deterministically by object id
unless include_ties=True (reference `knn_include_tie_breakers`), which
keeps every neighbor within TIE_TOLERANCE of the kth distance — one
tolerance for every route and both metrics.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sedona_db_spark.functions.kernels import _decode, _fast_points
from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import core
from sedona_db_spark.operators.result_cache import (BoundedPersistPool,
                                                    stats_memo)

# A neighbor within this distance of the kth one ties with it
# (reference DISTANCE_TOLERANCE, spatial_index.rs:28-60).
TIE_TOLERANCE = 1e-9


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
        partitioned = (knn_join_spheroid_partitioned if use_spheroid
                       else knn_join_partitioned)
        return partitioned(queries, objects, k, query_geom, object_geom,
                           include_ties=include_ties)
    # object side fits: materialized driver-side once (broadcast path);
    # non-point objects are indexed by bbox center and exact-refined below
    obj_rows = objects.collect()
    obj_cols = [c for c in objects.columns]
    out_schema = T.StructType(
        list(queries.schema.fields)
        + [T.StructField(f"o_{f.name}" if f.name in queries.columns else f.name, f.dataType)
           for f in objects.schema.fields]
        + [T.StructField("knn_distance", T.DoubleType())])
    if not obj_rows:
        return spark.createDataFrame([], out_schema)
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
                    if np.isnan(q).any():       # POINT EMPTY
                        continue
                else:
                    qgeom = decoded[i]
                    if qgeom is None or qgeom.is_empty():
                        continue
                    bb = alg.bounds(qgeom)
                    q = np.array([(bb[0] + bb[2]) / 2.0, (bb[1] + bb[3]) / 2.0])
                    q_hd = float(np.hypot((bb[2] - bb[0]) / 2.0,
                                          (bb[3] - bb[1]) / 2.0))
                if use_spheroid:
                    # (a geography-tagged point decodes, not fast-parses)
                    if qgeom is not None and qgeom.gt != core.POINT:
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
                    kth = ranked[k - 1][1]
                    pairs = [p for p in ranked
                             if p[1] <= kth + TIE_TOLERANCE]
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

# Persisted partitioned-KNN frames (the object frame and round A's top-k)
# of the two most recent calls: a previous call's still-lazy result is
# not de-cached the moment a second join starts.  Older frames are
# unpersisted; their results recompute correctly, just without the cache.
_PARTITIONED_POOL = BoundedPersistPool(keep=4)


class _Grid(NamedTuple):
    """A metric's cell grid: all the two-round core knows of the metric.

    The SQL strings are spliced into the core's own expressions and read
    its columns: the bbox centres ``__qx/__qy`` and ``__ox/__oy`` (the
    core asks for no cell of a row without one), the half-diagonals
    ``__qhd/__ohd`` and the query cell ``__qcx/__qcy``.  Distances are
    in the metric's unit; a grid that ignores the half-diagonals must
    only serve inputs whose half-diagonals are zero (points)."""
    qcx: str          # query cell column
    qcy: str          # query cell row
    ocell: str        # object cell id
    cells_a: Column   # round A: the 3x3 cell block around the query cell
    margin: str       # lower bound on the exact distance to any object
    #                   outside it
    cells_b: Callable[[str], Column]   # round B: every cell that can
    #                   hold an object within a distance (SQL; NULL is
    #                   the whole grid)
    dist: Column      # ranking distance, raising on rows the plan did
    #                   not expect


def _planar_grid(stats: dict, grid_cells: int | None, qg: str,
                 og: str) -> _Grid:
    """Uniform grid over the objects' centre extent, clamped at its edges
    (the grid covers every object, so a clamped side is no frontier)."""
    x0, y0, x1, y1 = stats["x0"], stats["y0"], stats["x1"], stats["y1"]
    if grid_cells is None:
        # ~1 object per cell: a 3x3 probe yields ~9 candidates (>= any
        # practical k) while keeping the candidate join linear in the
        # query count (9 objects/cell made the 625-box bulk benchmark
        # generate 52M candidate pairs instead of 1.4M).  Under-served
        # queries are what round B is for.
        grid_cells = min(max(stats["n"], 64), 512 * 512)
    nx = ny = max(int(math.sqrt(grid_cells)), 2)
    w = max((x1 - x0) / nx, 1e-9)
    h = max((y1 - y0) / ny, 1e-9)
    # repr() literals: exact double round-trip
    _x0, _y0, _x1, _y1, _w, _h = (repr(float(v))
                                  for v in (x0, y0, x1, y1, w, h))
    _ohd = repr(float(stats["ohd"] or 0.0))

    def cx(x: str) -> str:
        return f"least(greatest(floor(({x} - {_x0}) / {_w}), 0), {nx - 1})"

    def cy(y: str) -> str:
        return f"least(greatest(floor(({y} - {_y0}) / {_h}), 0), {ny - 1})"

    # The completion bound leans on the memoized extent and max
    # halfdiag, so an object beyond them (data changed under a memoized
    # plan) fails LOUD instead of clipping into an edge cell.
    ocell = (
        f"CASE WHEN __ox >= {_x0} - 1e-9 AND __ox <= {_x1} + 1e-9 AND "
        f"__oy >= {_y0} - 1e-9 AND __oy <= {_y1} + 1e-9 AND "
        f"coalesce(__ohd, 0.0d) <= {_ohd} + 1e-9 THEN "
        f"{cx('__ox')} * {ny} + {cy('__oy')} "
        "ELSE CAST(raise_error('knn_join_partitioned: object beyond the "
        "memoized planning stats (extent/halfdiag grew under a cached "
        "plan); rebuild the object DataFrame (new plan) to refresh the "
        "stats') AS LONG) END")

    def block(radius_sql: str) -> Column:
        """Cell ids of the (2r+1)^2 block around the query cell."""
        return F.expr(
            f"flatten(transform("
            f"sequence(greatest(__qcx - ({radius_sql}), 0), "
            f"least(__qcx + ({radius_sql}), {nx - 1})), "
            f"cx -> transform("
            f"sequence(greatest(__qcy - ({radius_sql}), 0), "
            f"least(__qcy + ({radius_sql}), {ny - 1})), "
            f"cy -> cx * {ny} + cy)))")

    # exact distance to any object outside the block >= the centre
    # margin minus the two halfdiags (zero for points: the bound is tight)
    _inf = "CAST('Infinity' AS DOUBLE)"
    margin = (
        "least("
        f"CASE WHEN __qcx - 1 > 0 THEN __qx - ({_x0} + (__qcx - 1) * {_w}) "
        f"ELSE {_inf} END, "
        f"CASE WHEN __qcx + 1 < {nx - 1} THEN "
        f"({_x0} + (__qcx + 2) * {_w}) - __qx ELSE {_inf} END, "
        f"CASE WHEN __qcy - 1 > 0 THEN __qy - ({_y0} + (__qcy - 1) * {_h}) "
        f"ELSE {_inf} END, "
        f"CASE WHEN __qcy + 1 < {ny - 1} THEN "
        f"({_y0} + (__qcy + 2) * {_h}) - __qy ELSE {_inf} END) "
        f"- __qhd - {_ohd}")

    def cells_b(dist: str) -> Column:
        # the centre reach in cells, clamped at the full grid (a
        # degenerate extent's 1e-9 cell overflows, and the full grid is
        # always sound); least() skips NULL, so NULL is the full grid
        return block(f"CAST(least(ceil((({dist}) + __qhd + {_ohd}) / "
                     f"{repr(float(min(w, h)))}) + 1, {max(nx, ny)}) AS INT)")

    # a 2D point WKB is exactly 21 bytes; anything else (or Z/M points,
    # conservatively) needs exact geometry distance
    qry_nonpoint = stats["qry_nonpoint"]
    if not qry_nonpoint and stats["maxlen"] == 21:
        # native centre distance; the guard makes a probe miss fail
        # loudly instead of ranking a polygon by its bbox centre
        dist = F.expr(
            f"CASE WHEN (length({qg}) IS NULL OR length({qg}) = 21) "
            f"AND (length({og}) IS NULL OR length({og}) = 21) THEN "
            "sqrt(pow(__qx - __ox, 2) + pow(__qy - __oy, 2)) "
            "ELSE CAST(raise_error('knn_join_partitioned: non-point "
            "geometry appeared beyond the plan probe/stats (query probe "
            "miss, or object data changed under a memoized plan); "
            "re-run with a fresh object DataFrame or exact mode') "
            "AS DOUBLE) END")
    elif stats["allrect"] == 1 and not qry_nonpoint:
        # all-rectangle objects, point queries: the exact distance IS the
        # native point-to-rect formula over the classed-bbox corners —
        # zero Python on the candidate pairs.  A non-point query or a
        # non-rectangle object (data changed under a memoized plan)
        # fails LOUD.
        dist = F.expr(
            f"CASE WHEN (length({qg}) IS NULL OR length({qg}) = 21) "
            "AND __ocls = 2 THEN "
            "sqrt(pow(greatest(__obx0 - __qx, __qx - __obx1, 0.0d), 2) + "
            "pow(greatest(__oby0 - __qy, __qy - __oby1, 0.0d), 2)) "
            "ELSE CAST(raise_error('knn_join_partitioned: non-point "
            "query or non-rectangle object appeared beyond the plan "
            "probe/stats (data changed under a memoized plan); re-run "
            "with a fresh object DataFrame') AS DOUBLE) END")
    else:
        from sedona_db_spark.functions.kernels import _decode_cached

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
                    geoms = [core.from_wkb(u) for u in uniques]
                    if all(g.dimension() == 2 and not list(g.lines())
                           and not list(g.points()) and list(g.polygons())
                           for g in geoms):
                        out = np.empty(len(codes))
                        for kdx, g in enumerate(geoms):
                            m = codes == kdx
                            out[m] = alg.points_to_polygon_distance_batch(
                                pts[m], g)
                        return pd.Series(out)
            # candidate batches repeat the same few objects against many
            # queries: memoized decode parses each distinct geometry once
            g1s, g2s = _decode_cached(s1), _decode_cached(s2)
            return pd.Series(
                [None if (a is None or b is None) else alg.distance(a, b)
                 for a, b in zip(g1s, g2s)], dtype=object)

        dist = F.pandas_udf(_pair_dist, T.DoubleType())(
            F.expr(qg), F.expr(og))
    return _Grid(cx("__qx"), cy("__qy"), ocell, block("1"), margin,
                 cells_b, dist)


def _sphere_grid(stats: dict, cell_deg: float | None, qg: str,
                 og: str) -> _Grid:
    """Equal-angle lon/lat grid with MODULAR longitude cells (the
    geography join's construction): no seam at the antimeridian, no
    planar edge in longitude.  Distances are great-circle meters
    (haversine on the mean sphere)."""
    from sedona_db_spark.operators.geography_join import (
        M_PER_DEG, R_EARTH_M, haversine_m, lon_pad_deg_col)
    from sedona_db_spark.operators.spatial_join import _dlit
    if stats["qry_nonpoint"] or stats["maxlen"] != 21:
        raise NotImplementedError(
            "spheroid KNN supports 2-D POINT geometries only "
            "(reference spatial_predicate.rs:254-297 validates the same)")
    if cell_deg is None:
        # ~64 objects per cell if uniformly spread over the globe
        cell_deg = min(max(math.sqrt(64800.0 * 64.0 / stats["n"]), 0.05),
                       45.0)
    ncx = int(math.ceil(360.0 / cell_deg))
    lon_cell = 360.0 / ncx                      # exact tiling (seam-safe)
    ncy = int(math.ceil(180.0 / cell_deg))
    _cd, _lc, _mpd = _dlit(cell_deg), _dlit(lon_cell), _dlit(M_PER_DEG)

    def cx(lon: str) -> str:
        return f"pmod(floor(({lon} + 180.0D) / {_lc}), {ncx})"

    def cy(lat: str) -> str:
        return f"least(floor(({lat} + 90.0D) / {_cd}), {ncy - 1})"

    not_point = ("CAST(raise_error('spheroid KNN: non-point geometry "
                 "beyond the plan probe/stats') AS {})")

    # Geodesic margin beyond the 3x3 block: lat sides are the meridian
    # arc to the lat circle (none past a pole); lon sides the distance to
    # the boundary meridian's great circle, R*asin(sin(dlon)*cos(lat)).
    # Both are LOWER bounds on any object beyond, so the proof holds.
    inf = "CAST('Infinity' AS DOUBLE)"
    lat_lo = f"((__qcy - 1) * {_cd} - 90.0D)"
    lat_hi = f"((__qcy + 2) * {_cd} - 90.0D)"

    def to_meridian(dlon: str) -> str:
        return (f"{_dlit(R_EARTH_M)} * asin(least(abs(sin(radians({dlon})))"
                " * cos(radians(__qy)), 1.0D))")

    m_lon = inf if ncx <= 3 else (      # a 3-wide block wraps every lon
        f"least({to_meridian(f'__qx + 180.0D - (__qcx - 1) * {_lc}')}, "
        f"{to_meridian(f'(__qcx + 2) * {_lc} - (__qx + 180.0D)')})")
    margin = (f"least(CASE WHEN {lat_lo} > -90.0D THEN "
              f"(__qy - {lat_lo}) * {_mpd} ELSE {inf} END, "
              f"CASE WHEN {lat_hi} < 90.0D THEN "
              f"({lat_hi} - __qy) * {_mpd} ELSE {inf} END, {m_lon})")

    def cells_b(dist: str) -> Column:
        # the float-slop-padded distance as a lat pad plus the shared
        # band-latitude lon pad (true band latitude up to the pole); NULL
        # is the whole globe
        rad_m = F.expr(f"coalesce(({dist}) * 1.0000001D + 1.0D, "
                       f"{_dlit(math.pi * R_EARTH_M)})")
        lat_pad = rad_m / M_PER_DEG
        lon_pad = lon_pad_deg_col(F.abs(F.col("__qy")) + lat_pad,
                                  rad_m / R_EARTH_M)
        lon = F.col("__qx") + 180.0
        cxs = F.array_distinct(F.transform(
            F.sequence(F.floor((lon - lon_pad) / lon_cell),
                       F.floor((lon + lon_pad) / lon_cell)),
            lambda x: F.pmod(x, F.lit(ncx))))
        cy0 = F.greatest(F.floor((F.col("__qy") - lat_pad + 90.0) / cell_deg),
                         F.lit(0))
        cy1 = F.least(F.floor((F.col("__qy") + lat_pad + 90.0) / cell_deg),
                      F.lit(ncy - 1))
        return F.array_distinct(F.flatten(F.transform(
            cxs, lambda cx: F.transform(F.sequence(cy0, cy1),
                                        lambda cy: cx * ncy + cy))))

    return _Grid(
        cx("__qx"), cy("__qy"),
        ocell=(f"CASE WHEN length({og}) = 21 THEN "
               f"{cx('__ox')} * {ncy} + {cy('__oy')} "
               f"ELSE {not_point.format('LONG')} END"),
        cells_a=F.expr(
            "array_distinct(flatten(transform("
            "sequence(__qcx - 1, __qcx + 1), cx -> transform("
            f"sequence(greatest(__qcy - 1, 0), least(__qcy + 1, {ncy - 1})), "
            f"cy -> pmod(cx, {ncx}) * {ncy} + cy))))"),
        margin=margin, cells_b=cells_b,
        dist=F.when(F.expr(f"length({qg}) = 21 AND length({og}) = 21"),
                    haversine_m(F.col("__qy"), F.col("__qx"),
                                F.col("__oy"), F.col("__ox"))
                    ).otherwise(F.expr(not_point.format("DOUBLE"))))


def _knn_two_round(queries: DataFrame, objects: DataFrame, k: int,
                   query_geom: str, object_geom: str, include_ties: bool,
                   planar_only: bool,
                   make_grid: Callable[[dict, str, str], _Grid]
                   ) -> DataFrame:
    """The large-large KNN plan of both metrics; ``make_grid(stats,
    query_geom_sql, object_geom_sql)`` supplies the metric's grid, and
    ``planar_only`` (as in :func:`spatial_join.bbox_col`) whether a
    geography-tagged object fails loud.

    Round A: objects hashed to the grid; each query probes its 3x3 cell
    block via an equi-join on cell id and takes a candidate top-k ->
    upper bound d_k (native window, no Python).  A query is PROVEN done
    when it found >= k candidates and d_k <= the grid's margin to the
    unsearched region.  Round B: the other queries re-probe every cell
    that can hold an object within d_k (the whole grid when round A found
    fewer than k) and re-rank.  Both rounds are single shuffles keyed by
    cell.

    A row without a centre (NULL or EMPTY geometry) gets no cell on
    either side, so it neither finds nor is found."""
    from sedona_db_spark.operators.spatial_join import (_bbox_cls_col,
                                                        _bq, bbox_col,
                                                        plan_geom_facts)
    from sedona_db_spark.plans.width import widen_if_starved

    # disambiguate object columns in one selectExpr round trip
    rcols = {c: (f"o_{c}" if c in queries.columns else c)
             for c in objects.columns}
    obj = widen_if_starved(objects.selectExpr(
        *[f"{_bq(c)} AS {_bq(a)}" if a != c else _bq(c)
          for c, a in rcols.items()]))
    ogeom = rcols[object_geom]
    queries = widen_if_starved(queries)

    # Pin the id assignment to ONE evaluation: __qid flows into top_a
    # (cached) AND the qstat/round-B branch, which re-evaluate this
    # subtree — above a shuffle, positional ids permute between
    # evaluations and the safe/unsafe split silently mixes queries.
    # Content hashes are no substitute: duplicate query rows must keep
    # distinct ids or the per-query top-k under-emits.  Each frame is one
    # selectExpr batch (one py4j round trip), not a withColumn chain.
    q = _pin_row_ids(queries, "__qid")
    qb = q.select("*", bbox_col(F.col(query_geom)).alias("__qb")) \
          .selectExpr(
              "*",
              "(__qb.xmin + __qb.xmax) / 2 AS __qx",
              "(__qb.ymin + __qb.ymax) / 2 AS __qy",
              "coalesce(sqrt(pow((__qb.xmax - __qb.xmin) / 2, 2) + "
              "pow((__qb.ymax - __qb.ymin) / 2, 2)), 0.0d) AS __qhd") \
          .drop("__qb")
    # classed bbox (same decode pass): the corners + shape class serve
    # the planar all-rectangle native distance
    ob = obj.select("*", _bbox_cls_col(F.col(ogeom), planar_only)
                    .alias("__ob")) \
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

    # One persisted object frame serves the stats agg AND both candidate
    # rounds (one Python bbox pass, not three).  (frame, stats) are
    # memoized on the plan key, so a rebuild of the same join runs no
    # job at construction; an evicted frame recomputes — slower, never
    # wrong.  Stats steer the grid only: the completion bound and the
    # per-row guards own correctness.
    memo, remember = stats_memo("knnob", obj, ogeom)
    if memo is not None:
        ob, stats = memo
    else:
        ob = _PARTITIONED_POOL.persist(ob)
        stats = ob.agg(
            F.min("__ox").alias("x0"), F.min("__oy").alias("y0"),
            F.max("__ox").alias("x1"), F.max("__oy").alias("y1"),
            F.count("*").alias("n"), F.max("__ohd").alias("ohd"),
            F.max(F.length(ogeom)).alias("maxlen"),
            F.min((F.col("__ocls") == 2).cast("int")).alias("allrect")
        ).collect()[0].asDict()
        remember((ob, stats))
    if stats["x0"] is None:      # no object has a centre: nothing is near
        return queries.sparkSession.createDataFrame([], T.StructType(
            queries.schema.fields + obj.schema.fields
            + [T.StructField("knn_distance", T.DoubleType())]))
    # a query side the plan proves all-point starts no job; otherwise a
    # LIMIT probe, not a full agg over a possibly huge query side: it
    # decides the plan, the grid's per-row guards keep correctness
    qry_nonpoint = False
    if not plan_geom_facts(queries, query_geom)[1]:
        qry_nonpoint, remember = stats_memo("knnq", queries, query_geom)
        if qry_nonpoint is None:
            qry_nonpoint = any(
                r[0] is not None and r[0] != 21 for r in
                queries.select(F.length(query_geom)).limit(4096).collect())
            remember(qry_nonpoint)
    grid = make_grid(dict(stats, qry_nonpoint=qry_nonpoint),
                     _bq(query_geom), _bq(ogeom))

    # a row without a centre gets no cell: a NULL object cell, a NULL
    # query cell array (explode drops it)
    centred = "__{0}x IS NOT NULL AND __{0}y IS NOT NULL"
    ob2 = ob.selectExpr("*", f"CASE WHEN {centred.format('o')} THEN "
                             f"{grid.ocell} END AS __ocell")

    def cells(arr: Column) -> Column:
        return F.explode(F.when(F.expr(centred.format("q")), arr))

    # (not persisted: the query subtree feeds round A, qstat and round
    # B, but the materialization barrier measured slower than the
    # repeated narrow scan+bbox passes at sf0.1)
    qb2 = qb.selectExpr("*", f"{grid.qcx} AS __qcx", f"{grid.qcy} AS __qcy")

    # deterministic order mirroring the broadcast path: distance, then
    # the object's orderable payload columns (id first by convention),
    # then its centre; one SQL window string, not the Window builder's
    # ~170 RPCs
    orderable = (T.NumericType, T.StringType, T.DateType, T.TimestampType,
                 T.BooleanType, T.BinaryType)
    order_sql = ", ".join(
        ["knn_distance"]
        + [_bq(f.name) for f in obj.schema.fields
           if f.name != ogeom and isinstance(f.dataType, orderable)]
        + ["__ox", "__oy"])

    def topk(cand: DataFrame) -> DataFrame:
        ranked = cand.withColumn("knn_distance", grid.dist).selectExpr(
            "*", "row_number() OVER (PARTITION BY __qid ORDER BY "
            f"{order_sql}) AS __rn")
        if include_ties:
            # withColumn: round B's candidates carry round A's __dk,
            # which the tie threshold must REPLACE
            ranked = ranked.withColumn("__dk", F.expr(
                f"max(CASE WHEN __rn = {int(k)} THEN knn_distance END) "
                "OVER (PARTITION BY __qid)"))
            return ranked.filter(
                f"__rn <= {int(k)} OR (__dk IS NOT NULL AND "
                f"knn_distance <= __dk + {TIE_TOLERANCE!r})").drop("__dk")
        return ranked.filter(f"__rn <= {int(k)}")

    keep_cols = (list(queries.columns) + ["__qid"] + list(rcols.values())
                 + ["knn_distance"])

    # ---- round A: the 3x3 block --------------------------------------
    cand_a = qb2.withColumn("__cell", cells(grid.cells_a)) \
                .join(ob2, F.expr("__cell = __ocell"), "inner")
    # round A's top-k feeds the per-query agg, the safe/unsafe split AND
    # the output, so it is persisted (result-sized, n_queries x k rows),
    # projected first: the cache boundary blocks column pruning
    top_a = _PARTITIONED_POOL.persist(topk(cand_a).select(*keep_cols))

    # a query is safe when round A found k and d_k is within the grid's
    # margin to the unsearched region
    agg_a = top_a.groupBy("__qid").agg(
        F.count("*").alias("__cnt"), F.max("knn_distance").alias("__dk"))
    qstat = qb2.join(agg_a, "__qid", "left").selectExpr(
        "*",
        f"(__cnt >= {k}) AND (__dk <= {grid.margin}) AS __safe")
    unsafe = qstat.filter("NOT coalesce(__safe, false)")

    # ---- round B: every cell within d_k, for unsafe queries ----------
    reach = f"CASE WHEN __cnt >= {k} THEN __dk END"
    top_b = topk(unsafe.withColumn("__cell", cells(grid.cells_b(reach)))
                 .join(ob2, F.expr("__cell = __ocell"), "inner"))

    # anti-join against the (usually small) unsafe remainder, not a
    # semi-join against the safe ids: same set, but AQE can broadcast it
    out_a = top_a.join(unsafe.select("__qid"), "__qid", "left_anti") \
                 .select(*keep_cols)
    return out_a.unionByName(top_b.select(*keep_cols)).drop("__qid")


def knn_join_partitioned(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_geom: str = "geom",
    object_geom: str = "geom",
    grid_cells: int | None = None,
    include_ties: bool = False,
) -> DataFrame:
    """Large-large planar KNN join: no broadcast, no driver collect.

    Reference analogue: the out-of-core KNN path (SURVEY §2.10, "2-round
    bound-then-refine"): :func:`_knn_two_round` over a uniform grid on
    the objects' bbox-centre extent (``grid_cells`` overrides its
    ~1-object-per-cell sizing).

    Exact for ALL geometry types: point inputs rank on native centre
    distance (both halfdiags are zero, so the bound is tight); a
    non-point input (a 2D point WKB is exactly 21 bytes) ranks on the
    exact geometry distance — native for point queries against
    rectangles, else an Arrow-batched kernel — while candidates stay on
    the bbox-centre grid with the halfdiag-padded completion proof
    (reference: spatial_predicate.rs:254-297, index/knn_adapter.rs).
    """
    return _knn_two_round(
        queries, objects, k, query_geom, object_geom, include_ties, True,
        lambda stats, qg, og: _planar_grid(stats, grid_cells, qg, og))


def knn_join_spheroid_partitioned(
    queries: DataFrame,
    objects: DataFrame,
    k: int,
    query_geom: str = "geom",
    object_geom: str = "geom",
    include_ties: bool = False,
    cell_deg: float | None = None,
) -> DataFrame:
    """Partitioned great-circle KNN join for lon/lat POINT inputs, plain
    or geography-tagged.

    The scale path of ``use_spheroid=True`` (reference option surface
    spatial_predicate.rs:254-297; haversine on the mean sphere, as the
    broadcast spheroid path): :func:`_knn_two_round` over an equal-angle
    grid of ``cell_deg`` degrees (default ~64 objects per cell over the
    globe) with modular longitude cells, a geodesic completion margin
    and a round-B reach padded by the true band latitude.  Ranking is
    native haversine — zero Python.  A non-point object, or one in the
    query probe, raises at construction; the per-row guards raise on any
    that appears later.
    """
    return _knn_two_round(
        queries, objects, k, query_geom, object_geom, include_ties, False,
        lambda stats, qg, og: _sphere_grid(stats, cell_deg, qg, og))
