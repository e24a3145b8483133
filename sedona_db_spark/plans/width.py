"""Width guard for CPU-heavy pandas-UDF stages.

A table that is small ON DISK but heavy IN CPU starves the cluster:
Spark's file-splitting gives a 14 MB / 2-file parquet table ~2-5 input
partitions (one per row group), so every downstream Arrow-batched kernel
stage runs 2-5 tasks while the other cores idle.  At the 100 TB target
the same pathology appears on any small dimension table feeding a heavy
kernel (distance matrices, projections, geodesics).

``widen_if_starved`` repartitions to full parallelism ONLY when both
hold:

- the input's planned partition count is below half the cluster's
  default parallelism (otherwise the scan is already wide enough), and
- the optimizer's size estimate exceeds ``min_bytes`` (otherwise the
  round-robin shuffle + per-task Arrow overhead costs more than the
  idle cores would recover — measured at sf0.1: widening a 150 KB
  table REGRESSED 0.33 s -> 1.4 s, while at sf10 the same widening
  recovers ~4x on the bulk point kernels).

Both checks are plan-time only (no job runs): partition count comes
from the physical plan's RDD handle, the size from Catalyst statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sedona_db_spark.operators.result_cache import stats_memo

# below this estimated input size, single-digit task counts are cheaper
# than the widening shuffle (a 4 MB point table is ~150k rows — one
# Arrow batch of kernel work)
MIN_WIDEN_BYTES = 4 << 20


def planned_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's sizeInBytes estimate for df's optimized plan (no job)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except Exception:
        return None


def widen_if_starved(df: DataFrame, min_bytes: int = MIN_WIDEN_BYTES,
                     min_fraction: float = 0.5) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when its planned
    partition count is below ``min_fraction`` of it AND the input is big
    enough that the extra shuffle pays for itself.  Identity otherwise.

    Construction cost (r11): the verdict is pure plan analysis, so it is
    memoized on the analyzed-plan key — operators that re-build the same
    join shape (bench reps, dashboards) paid the partition-count RPC
    chain per construction.  The size check runs FIRST (Catalyst stats,
    cheap) so small inputs — the common early-out — never touch the RDD
    handle at all, and the partition count comes from the java RDD
    (``_jdf.rdd()``), not the python-wrapped ``df.rdd`` whose
    construction costs several extra round trips.  A stale memo can only
    mis-steer the widening choice, never correctness."""
    memo, remember = stats_memo("widen", df, min_bytes, min_fraction)
    if memo is not None:
        return df.repartition(memo) if memo else df
    try:
        spark = df.sparkSession
        width = spark.sparkContext.defaultParallelism
    except Exception:
        return df
    verdict = 0
    size = planned_size_bytes(df)
    if size is not None and size >= min_bytes:
        try:
            nparts = df._jdf.rdd().getNumPartitions()
        except Exception:
            return df
        if nparts < max(int(width * min_fraction), 1):
            verdict = width
    remember(verdict)
    return df.repartition(width) if verdict else df
