"""Layer probes of the traced run, after its operations: kernels called
directly on a seeded batch (``functions`` / ``geom``), a GeoParquet
write plus pruned reads (``sources``), and the partitioned spatial
operators called directly (``operators``) on one seeded point/box shard.
Their answers are checked against NumPy like the operations'."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import workloads as wls

N_GEOM = 100_000       # vectorized point kernels
N_TRANSFORM = 10_000
N_BUFFER = 50           # ST_Buffer runs ~10 ms per geometry
N_TEXT = 1_000
REPS = 3
BUFFER_R = 0.005
KNN_K = 2
PROBE_SHARD = 20_000    # shard index of the probe shard


def _rate(fn, n: int) -> float:
    """Rows per second of ``fn()``, median of REPS calls."""
    walls = []
    for _ in range(REPS):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return n / statistics.median(walls)


def kernels(seed: int) -> dict:
    from sedona_db_spark.functions import kernels as k
    from sedona_db_spark.functions import text as tx
    rng = np.random.default_rng([seed, 9])
    lon = pd.Series(rng.uniform(-10.0, 30.0, N_GEOM))
    lat = pd.Series(rng.uniform(35.0, 60.0, N_GEOM))
    pts = k.k_point(lon, lat)
    other = k.k_point(lat - 40.0, lon + 40.0)
    few = pts[:N_TRANSFORM].reset_index(drop=True)
    b = slice(0, N_BUFFER)
    boxes = k.k_makeenvelope(lon[b], lat[b], lon[b] + 0.05, lat[b] + 0.03)
    out = {
        "functions.st_point_rows_per_s": _rate(lambda: k.k_point(lon, lat),
                                               N_GEOM),
        "functions.st_distance_rows_per_s": _rate(
            lambda: k.k_distance(pts, other), N_GEOM),
        "functions.st_distance_sphere_rows_per_s": _rate(
            lambda: k.k_distance_sphere(pts, other), N_GEOM),
        "functions.st_transform_rows_per_s": _rate(
            lambda: k.k_transform(few, "EPSG:4326", "EPSG:3857"), N_TRANSFORM),
        "functions.st_buffer_area_rows_per_s": _rate(
            lambda: k.k_area(k.k_buffer(boxes, BUFFER_R)), N_BUFFER),
    }
    # Arrow -> pandas conversion of the same WKB batch, the step every
    # pandas-UDF kernel pays before computing
    arr = pa.array(list(pts), type=pa.binary())
    walls = []
    for _ in range(REPS):
        t = time.perf_counter()
        arr.to_pandas()
        walls.append(time.perf_counter() - t)
    out["functions.to_pandas_s"] = statistics.median(walls)
    base = gen.base_texts()
    texts = pd.Series([base[j] for j in rng.integers(0, len(base), N_TEXT)])
    out["functions.minhash_rows_per_s"] = _rate(
        lambda: tx.minhash_signature_kernel(texts, 64, 3, 42), N_TEXT)
    out["functions.simhash_rows_per_s"] = _rate(
        lambda: tx.simhash64_kernel(texts), N_TEXT)
    return out


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _windows(seed: int):
    rng = np.random.default_rng([seed, 4])
    (lx, hx), (ly, hy) = gen.GEO_LON, gen.GEO_LAT
    out = []
    for _ in range(3):
        w, h = rng.uniform(2.0, 6.0), rng.uniform(2.0, 5.0)
        x0, y0 = rng.uniform(lx, hx - w), rng.uniform(ly, hy - h)
        out.append((x0, y0, x0 + w, y0 + h))
    return out


def geo(ctx) -> tuple[dict, list[str]]:
    """GeoParquet write + three bbox-pruned reads, a partitioned
    ``spatial_join`` + count per box and a ``knn_join_partitioned``
    over the probe shard; returns the metrics and the failed checks."""
    from pyspark.sql import functions as F

    from sedona_db_spark.operators.knn_join import knn_join_partitioned
    from sedona_db_spark.operators.spatial_join import spatial_join
    from sedona_db_spark.sources.geoparquet import (read_geoparquet,
                                                    spatial_filter,
                                                    write_geoparquet)
    sp = ctx.spark
    paths = gen.geo_shard(ctx.inputs, ctx.seed, PROBE_SHARD)
    pts = sp.read.parquet(paths["points"]).selectExpr(
        "id AS pid", "ST_Point(lon, lat) AS geom")
    boxes = sp.read.parquet(paths["polys"]).selectExpr(
        "id AS bid", "ST_MakeEnvelope(x0, y0, x1, y1) AS geom")
    p = pq.read_table(paths["points"]).to_pydict()
    b = pq.read_table(paths["polys"]).to_pydict()
    x, y = np.asarray(p["lon"]), np.asarray(p["lat"])
    x0, y0, x1, y1 = (np.asarray(b[c]) for c in ("x0", "y0", "x1", "y1"))
    bad = []

    out = os.path.join(ctx.work, "probe_geo.parquet")
    t = time.perf_counter()
    write_geoparquet(pts, out, geom_cols={"geom": "EPSG:4326"})
    m = {"sources.write_s": time.perf_counter() - t,
         "sources.bytes_per_row": _dir_bytes(out) / gen.GEO_POINTS}
    read_s = scanned = returned = 0.0
    for wx0, wy0, wx1, wy1 in _windows(ctx.seed):
        def build(wx0=wx0, wy0=wy0, wx1=wx1, wy1=wy1):
            back, _meta = read_geoparquet(sp, out)
            return spatial_filter(back, "geom", wx0, wy0, wx1, wy1) \
                .select("pid")
        _df, got, w = wls.run_step(ctx, "sources.read", build)
        rec = ctx.steps.pop()
        read_s += w
        scanned += rec["scan_rows"]
        returned += rec["out_rows"]
        inside = (x >= wx0) & (x <= wx1) & (y >= wy0) & (y <= wy1)
        if sorted(got["pid"]) != sorted(np.asarray(p["id"])[inside]):
            bad.append("window")
    m["sources.read_s"] = read_s / 3
    m["sources.rows_scanned_per_row_returned"] = scanned / max(returned, 1.0)

    _df, got, _w = wls.run_step(ctx, "operators.spatial_join", lambda: (
        spatial_join(pts, boxes, predicate="within")
        .groupBy("bid").agg(F.count("*").alias("n"))))
    rec = ctx.steps.pop()
    m["operators.spatial_join.construct_s"] = rec["construct_s"]
    m["operators.spatial_join.construct_rpc"] = rec["construct_rpc"]
    n = ((x[:, None] > x0) & (x[:, None] < x1)
         & (y[:, None] > y0) & (y[:, None] < y1)).sum(axis=0)
    bid = np.asarray(b["id"])
    if not wls.same_rows(got, pd.DataFrame({"bid": bid[n > 0], "n": n[n > 0]}),
                         ["bid", "n"]):
        bad.append("spatial_join")

    q = np.asarray(p["id"]) < gen.GEO_KNN_QUERIES
    _df, got, _w = wls.run_step(ctx, "operators.knn_join_partitioned", lambda: (
        knn_join_partitioned(pts.where(f"pid < {gen.GEO_KNN_QUERIES}"),
                             boxes, k=KNN_K)
        .select("pid", "bid", "knn_distance")))
    rec = ctx.steps.pop()
    m["operators.knn_join_partitioned.construct_s"] = rec["construct_s"]
    m["operators.knn_join_partitioned.construct_rpc"] = rec["construct_rpc"]
    # point-to-box distances; ties at distance 0 make ids ambiguous, so
    # each query's distance list is compared
    dx = np.maximum(np.maximum(x0 - x[q][:, None], x[q][:, None] - x1), 0)
    dy = np.maximum(np.maximum(y0 - y[q][:, None], y[q][:, None] - y1), 0)
    dist = np.sqrt(dx * dx + dy * dy)
    mine = dist[got["pid"].to_numpy(), got["bid"].to_numpy()]
    want = np.sort(np.sort(dist, axis=1)[:, :KNN_K], axis=None)
    if (len(mine) != len(want)
            or not np.allclose(np.sort(mine), want, atol=1e-12)
            or not np.allclose(got["knn_distance"].to_numpy(float), mine,
                               atol=1e-9)):
        bad.append("knn_join_partitioned")
    return m, bad


def run_all(ctx) -> tuple[dict, list[str]]:
    op = ctx.tracer.op_id
    ctx.tracer.op_id = None
    out, bad = geo(ctx)
    ctx.tracer.op_id = op
    out.update(kernels(ctx.seed))
    return out, bad
