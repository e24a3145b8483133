"""Physical-plan inspection utilities — the Spark analogue of the
reference's explain surface (/root/reference/python/sedonadb/python/
sedonadb/dataframe.py:1812) plus scale-contract assertions.

These are how we *enforce* the 100 TB design rules mechanically in tests:
- `python_eval_count` == 0 for anything claimed "native" (metadata
  accessors, bbox pruning filters) — Python in the plan is the slow path;
- `pushed_filters` non-empty when a filter should reach the parquet scan
  (the reference's geo row-group pruning, file_opener.rs:315-366, shows up
  here as PushedFilters on the bbox struct ranges);
- `shuffle_count` bounds the number of Exchanges an operator may emit;
- `join_strategies` asserts broadcast vs shuffle choice (the reference's
  build-side swap, physical_planner.rs:69-90, maps to Spark's own
  size-based selection — these helpers make it observable);
- `jobs_started` names the Spark jobs a block of driver code started
  (plan-time probes, stats aggs) by their call sites;
- `certificates` lists the session's view point certificates, whether
  each still holds and how it was proven.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def python_eval_count(df: DataFrame) -> int:
    """Number of Python-eval operators (Arrow/Batch) in the plan."""
    p = executed_plan(df)
    return len(re.findall(r"(ArrowEvalPython|BatchEvalPython|MapInPandas"
                          r"|FlatMapGroupsInPandas)", p))


def shuffle_count(df: DataFrame) -> int:
    """Distinct Exchange operators (each is a full shuffle of its input)."""
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|"
                          r"RoundRobinPartitioning|SinglePartition)",
                          executed_plan(df)))


def broadcast_count(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastExchange")


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in plan order (BroadcastHashJoin, SortMergeJoin,
    ShuffledHashJoin, BroadcastNestedLoopJoin, CartesianProduct)."""
    return re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                      r"BroadcastNestedLoopJoin|CartesianProduct)",
                      executed_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from the formatted explain (parquet scans)."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_explain(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (column-pruning check)."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_explain(df)):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def wholestage_codegen_ids(df: DataFrame) -> list[int]:
    """Distinct WholeStageCodegen spans — wider/fewer is better."""
    return sorted({int(x) for x in re.findall(
        r"WholeStageCodegen \((\d+)\)", executed_plan(df))})


def assert_scales(df: DataFrame, max_shuffles: int | None = None,
                  max_python_evals: int | None = None,
                  require_pushed_filter: str | None = None) -> None:
    """One-call scale contract for tests and CI."""
    if max_shuffles is not None:
        n = shuffle_count(df)
        assert n <= max_shuffles, f"{n} shuffles > budget {max_shuffles}"
    if max_python_evals is not None:
        n = python_eval_count(df)
        assert n <= max_python_evals, \
            f"{n} python evals > budget {max_python_evals}"
    if require_pushed_filter is not None:
        pf = pushed_filters(df)
        assert any(require_pushed_filter in f for f in pf), \
            f"no pushed filter matching {require_pushed_filter!r} in {pf}"


@contextmanager
def jobs_started(spark: SparkSession):
    """Context manager yielding a list that, when the block exits, holds
    ``(job_id, name)`` for every Spark job started inside the block, in
    id order.  ``name`` is the job's status-store name, which carries
    its call site, e.g. ``collect at .../knn_join.py:896``.

    Waits for the listener bus to drain first, so a job that finished
    just before the block ended is counted.  Jobs run under a job group
    are not seen (statusTracker's ungrouped ids)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jsc = sc._jsc.sc()

    def drain():
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:   # not reachable on this Spark: count as is
            pass

    drain()
    before = set(tracker.getJobIdsForGroup())
    started: list[tuple[int, str]] = []
    try:
        yield started
    finally:
        drain()
        store = jsc.statusStore()
        for jid in sorted(set(tracker.getJobIdsForGroup()) - before):
            try:
                name = str(store.job(jid).name())
            except Py4JError:   # no longer in the status store
                name = ""
            started.append((jid, name))


def certificates(spark: SparkSession) -> list[dict]:
    """One dict per view point certificate of the session
    (certify_point_view / certify_geog_point_view), sorted by view and
    kind: ``view``, ``kind`` ("planar" / "geog"), ``shadow`` (geometry
    column -> (x_col, y_col)), ``live`` (the view's plan key is still
    the one stamped, so the certificate is served) and ``proof``
    ("constructor": read from the plan plus a native check of the
    shadow doubles; "scan": every value decoded)."""
    from sedona_db_spark.plans.sql_rewrite import (
        _cert_live, _view_cert_proofs, _view_certs)
    proofs = _view_cert_proofs(spark)
    return [{"view": view, "kind": kind,
             "shadow": {c: tuple(xy) for c, xy in shadow.items()},
             "live": _cert_live(spark, view, fp),
             "proof": proofs.get((view, kind))}
            for (view, kind), (shadow, fp)
            in sorted(_view_certs(spark).items())]
