"""Seeded inputs for the benchmark workloads.

Every input is a function of ``(seed, sizes)`` only: the same seed gives
byte-identical parquet files.  Files are written once per seed under the
benchmark's work directory and reused by later runs with that seed; the
generation time is never inside a timed region.

Geometry is synthetic (uniform background plus Gaussian clusters, so
grid cells see skew).  Text is spliced from the sf0.1 documents in
``corpus.parquet`` (see :func:`text_shard`).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# spatial_sql
N_PTS = 5_000          # certified point table
N_ARRIVAL = 5_000      # rows per arriving slice (the replaced view)
N_SLICES = 64          # arriving slices available to one run
N_BOXES = 400
N_CENTERS = 256        # DWithin / KNN probe points
N_GPTS = 1_000         # certified geography points
N_GSITES = 200         # geography sites

# the traced run's sources / spatial-operator probe shard
GEO_POINTS = 50_000
GEO_POLYS = 200
GEO_KNN_QUERIES = 1_000
GEO_LON = (-10.0, 30.0)
GEO_LAT = (35.0, 60.0)

# text_curation (per shard)
TEXT_DOCS = 1_000
TEXT_DUP_RATE = 0.05   # sf0.1: 250 of its 5000 documents carry a 'dup' edit


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _xy(rng: np.random.Generator, n: int, lo: float, hi: float,
        clusters: int = 8):
    """n points in [lo, hi)^2: 60% uniform, 40% in Gaussian clusters."""
    span = hi - lo
    u = rng.uniform(lo, hi, size=(n, 2))
    centers = rng.uniform(lo + 0.1 * span, hi - 0.1 * span, size=(clusters, 2))
    pick = rng.random(n) < 0.4
    which = rng.integers(0, clusters, size=n)
    g = centers[which] + rng.normal(0.0, 0.03 * span, size=(n, 2))
    u[pick] = g[pick]
    return np.clip(u, lo, np.nextafter(hi, lo))


def _boxes(rng: np.random.Generator, n: int, lo: float, hi: float,
           wmin: float, wmax: float) -> pa.Table:
    w = rng.uniform(wmin, wmax, n)
    h = rng.uniform(wmin, wmax, n)
    x0 = rng.uniform(lo, hi - w)
    y0 = rng.uniform(lo, hi - h)
    return pa.table({"id": np.arange(n, dtype=np.int64), "x0": x0, "y0": y0,
                     "x1": x0 + w, "y1": y0 + h})


def spatial_sql_inputs(root: str, seed: int) -> dict:
    """Tables of the interactive session; returns {name: path}."""
    d = os.path.join(root, f"spatial_sql-{seed}")
    os.makedirs(d, exist_ok=True)
    paths = {n: os.path.join(d, f"{n}.parquet")
             for n in ("pts", "boxes", "centers", "gpts", "gsites")}
    paths.update({f"arrivals_{k}": os.path.join(d, f"arrivals_{k}.parquet")
                  for k in range(N_SLICES)})
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    rng = np.random.default_rng([seed, 1])
    xy = _xy(rng, N_PTS, 0.0, 100.0)
    _write(pa.table({"id": np.arange(N_PTS, dtype=np.int64),
                     "x": xy[:, 0], "y": xy[:, 1]}), paths["pts"])
    for k in range(N_SLICES):
        a = _xy(rng, N_ARRIVAL, 0.0, 100.0)
        ids = np.arange(N_ARRIVAL, dtype=np.int64) + (k + 1) * 10_000_000
        _write(pa.table({"id": ids, "x": a[:, 0], "y": a[:, 1]}),
               paths[f"arrivals_{k}"])
    _write(_boxes(rng, N_BOXES, 0.0, 100.0, 1.0, 6.0), paths["boxes"])
    c = _xy(rng, N_CENTERS, 5.0, 95.0)
    _write(pa.table({"id": np.arange(N_CENTERS, dtype=np.int64),
                     "x": c[:, 0], "y": c[:, 1]}), paths["centers"])
    for name, n in (("gpts", N_GPTS), ("gsites", N_GSITES)):
        _write(pa.table({"id": np.arange(n, dtype=np.int64),
                         "lon": rng.uniform(-180.0, 180.0, n),
                         "lat": np.degrees(np.arcsin(rng.uniform(-0.95, 0.95, n)))}),
               paths[name])
    return paths


def geo_shard(root: str, seed: int, i: int) -> dict:
    """Probe shard ``i``: lon/lat points and boxes."""
    d = os.path.join(root, f"geo-{seed}")
    os.makedirs(d, exist_ok=True)
    paths = {"points": os.path.join(d, f"points_{i}.parquet"),
             "polys": os.path.join(d, f"polys_{i}.parquet")}
    if all(os.path.exists(p) for p in paths.values()):
        return paths
    rng = np.random.default_rng([seed, 2, i])
    (lo_x, hi_x), (lo_y, hi_y) = GEO_LON, GEO_LAT
    unit = _xy(rng, GEO_POINTS, 0.0, 1.0)
    _write(pa.table({"id": np.arange(GEO_POINTS, dtype=np.int64),
                     "lon": lo_x + unit[:, 0] * (hi_x - lo_x),
                     "lat": lo_y + unit[:, 1] * (hi_y - lo_y)}),
           paths["points"])
    b = _boxes(rng, GEO_POLYS, 0.0, 1.0, 0.01, 0.05)
    sx, sy = hi_x - lo_x, hi_y - lo_y
    _write(pa.table({"id": b.column("id"),
                     "x0": lo_x + b.column("x0").to_numpy() * sx,
                     "y0": lo_y + b.column("y0").to_numpy() * sy,
                     "x1": lo_x + b.column("x1").to_numpy() * sx,
                     "y1": lo_y + b.column("y1").to_numpy() * sy}),
           paths["polys"])
    return paths


@functools.lru_cache(maxsize=1)
def base_texts() -> list[str]:
    """The sf0.1 documents (``corpus.parquet``, see ``make_corpus.py``)."""
    return pq.read_table(os.path.join(HERE, "corpus.parquet"),
                         columns=["text"]).column("text").to_pylist()


def text_shard(root: str, seed: int, i: int, n: int = TEXT_DOCS) -> str:
    """Shard ``i`` of the text_curation stream, ``n`` documents.

    Each document splices the first half of one sf0.1 text with the
    second half of another, as ``tools/gen_sf.py`` does.  Then, at the
    sf0.1 corpus' own near-duplicate rate, a document is replaced by a
    copy of an earlier one with a ``dup`` token appended, the edit the
    sf0.1 near-duplicates carry; ``dup_of`` names the copied document
    (-1 for none), so the answer check knows pairs that must be found."""
    d = os.path.join(root, f"text_curation-{seed}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"docs_{i}-{n}.parquet")
    if os.path.exists(path):
        return path
    base = base_texts()
    rng = np.random.default_rng([seed, 3, i])
    ia = rng.integers(0, len(base), n)
    ib = rng.integers(0, len(base), n)
    texts = [base[a][:len(base[a]) // 2] + base[b][len(base[b]) // 2:]
             for a, b in zip(ia, ib)]
    ids = np.arange(n, dtype=np.int64) + i * 1_000_000
    dup_of = np.full(n, -1, dtype=np.int64)
    for k in np.flatnonzero(rng.random(n) < TEXT_DUP_RATE):
        if k > 0:
            src = int(rng.integers(0, k))
            texts[k] = texts[src] + " dup"
            dup_of[k] = ids[src]
    _write(pa.table({"doc_id": ids, "text": texts, "dup_of": dup_of}), path)
    return path


def sizes(workload: str) -> dict:
    """Input sizes of one operation / session, for the report."""
    if workload == "spatial_sql":
        return {"points": N_PTS, "arrival_rows": N_ARRIVAL, "boxes": N_BOXES,
                "centers": N_CENTERS, "geog_points": N_GPTS,
                "geog_sites": N_GSITES}
    return {"docs_per_shard": TEXT_DOCS, "dup_rate": TEXT_DUP_RATE}
