"""Per-layer metrics of a traced run, from its set-up timings, step
records and probes.  Every name is reported on every workload; an
operator the workload never calls reads 0 (``spatial_join`` and
``knn_join_partitioned`` come from the probes, on both)."""

from __future__ import annotations

import statistics

OPERATORS = ("minhash_candidate_pairs", "connected_components",
             "exact_substring_dedup", "pack_sequences")
EXEC = (("exec.python_s", "python_s", 1.0, "s"),
        ("exec.shuffle_write_mb", "shuffle_write_b", 2.0 ** -20, "MB"),
        ("exec.shuffle_fetch_wait_s", "shuffle_fetch_wait_s", 1.0, "s"),
        ("exec.scan_s", "scan_s", 1.0, "s"),
        ("exec.broadcast_build_s", "broadcast_build_s", 1.0, "s"),
        ("exec.spill_mb", "spill_b", 2.0 ** -20, "MB"),
        ("exec.failed_tasks", "failed_tasks", 1.0, "count"))


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ctx, layers: dict, ops: list, probes: dict) -> dict:
    # the operations' steps (warm-up steps have no op id)
    steps = [s for s in ctx.steps if s["layer"] != "op" and s["op"] is not None]
    n_ops = max(len(ops), 1)
    out = {name: (v, "s") for name, v in layers.items()}

    sql = [s for s in steps if s["layer"] == "plans.sql"]
    joins = [s for s in sql if s.get("spatial_join")]
    out["plans.sql_new_s"] = (_med(s["construct_s"] for s in sql
                                   if s["new_text"]), "s")
    out["plans.sql_repeat_s"] = (_med(s["construct_s"] for s in sql
                                      if not s["new_text"]), "s")
    out["plans.sql_rpc"] = (_mean(s["construct_rpc"] for s in sql), "count")
    out["plans.plan_jobs"] = (_mean(s["plan_jobs"] for s in sql), "count")
    out["plans.routed_frac"] = (_mean(0.0 if s["python_predicate"] else 1.0
                                      for s in joins), "ratio")
    out["plans.python_nodes"] = (_mean(s["python_nodes"] for s in sql),
                                 "count")

    opers = [s for s in steps if s["layer"].startswith("operators.")]
    out["operators.construct_s"] = (_mean(s["construct_s"] for s in opers), "s")
    out["operators.construct_rpc"] = (_mean(s["construct_rpc"] for s in opers),
                                      "count")
    out["operators.plan_jobs"] = (_mean(s["plan_jobs"] for s in opers), "count")
    for name in OPERATORS:
        mine = [s for s in opers if s["layer"] == f"operators.{name}"]
        out[f"operators.{name}.construct_s"] = (
            _mean(s["construct_s"] for s in mine), "s")
        out[f"operators.{name}.construct_rpc"] = (
            _mean(s["construct_rpc"] for s in mine), "count")
    out["operators.cached_mb"] = (max((s["cached_mb"] for s in ctx.steps
                                       if s["layer"] == "op"), default=0.0),
                                  "MB")
    cache_ops = {s["op"] for s in steps
                 if s.get("cache_scan") and s["op"] is not None}
    out["operators.cache_scan_frac"] = (len(cache_ops) / n_ops, "ratio")

    def per_op(key: str) -> float:
        return sum(s.get(key, 0.0) for s in steps
                   if s["op"] is not None) / n_ops
    out["exec.s"] = (per_op("exec_s"), "s")
    for name, key, scale, unit in EXEC:
        out[name] = (per_op(key) * scale, unit)
    out["exec.python_rows_per_result"] = (
        per_op("python_rows") * n_ops
        / max(sum(op.result_rows for op in ops), 1), "ratio")

    for name, value in probes.items():
        unit = ("1/s" if name.endswith("_per_s") else
                "s" if name.endswith("_s") else
                "count" if name.endswith("_rpc") else
                "B" if name.endswith("bytes_per_row") else "ratio")
        out[name] = (value, unit)
    for name, value in overhead(ctx, ops).items():
        out[f"trace.{name}"] = (value, "s")
    return out


def overhead(ctx, ops: list) -> dict:
    """The traced run's operation median, to set against ``op_p50_s`` of
    the untraced run with the same seed (their difference is the
    tracing overhead), and the tracing bookkeeping measured inside the
    timed regions, per operation."""
    walls = [op.wall_s for op in ops if op.ok]
    book = sum(s.get("bookkeeping_s", 0.0) for s in ctx.steps)
    return {"op_p50_s": _med(walls),
            "bookkeeping_per_op_s": book / max(len(ops), 1)}
