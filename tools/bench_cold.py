"""Cold-vs-warm decomposition for the pair-set operators (r11 verdict
item #4): with min-of-3 reps plus a full-plan warmup, bench reps 2-3
reuse rep 1's persisted signature frame through the plan-keyed persist
pools, so the committed number partially measures a warm cache.  This
tool reports both:

- warm: reps run back-to-back, pools intact (the bench's protocol);
- cold: every plan-keyed persist pool (pair sets, signature frames,
  partitioned KNN, LM tokenization) is cleared (frames unpersisted) and
  the plan-stats memo and the SQL rewrite memos dropped before EACH rep
  (``result_cache.reset``), so every rep re-plans, rebuilds and
  re-executes from the parquet inputs.
  Session-level warmup (JVM codegen, python workers, parquet footers)
  stays warm in both — the decomposition isolates exactly the pool
  effect.

Per query it also prints the Spark jobs the cold construction started
(plan-time probes, stats aggs), each with its call site
(``plans.inspect.jobs_started``): a plan-time LIMIT probe over a Python
stage discards the worker that served it, so these jobs are what a cold
first call pays before execution starts.

Usage: python tools/bench_cold.py [sf_dir] name [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    import __spark_entry__ as entry
    from sedona_db_spark import get_spark
    from sedona_db_spark.operators import result_cache
    from sedona_db_spark.plans.inspect import jobs_started
    spark = get_spark("bench_cold")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    entry._prep(spark, sf_dir)
    spark.sql("SELECT ST_AsText(ST_Point(1.0, 1.0))").collect()
    for name in args:
        fn = qs[name]
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        for label, cold in (("warm", False), ("cold", True)):
            best = None
            for _ in range(3):
                if cold:
                    result_cache.reset()
                t0 = time.time()
                with jobs_started(spark) as jobs:
                    df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            print(f"{name} {label}: min-of-3 {best:6.3f}s")
            if cold:
                print(f"{name} cold construction jobs: {len(jobs)}")
                for jid, site in jobs:
                    print(f"  job {jid}: {site}")
    spark.stop()


if __name__ == "__main__":
    main()
