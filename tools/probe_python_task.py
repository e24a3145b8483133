"""Per-task cost of the Python-worker boundary: task launch -> UDF call.

Usage: python tools/probe_python_task.py [stages]

Runs ``stages`` (default 10) consecutive one-task stages, each a 10-row
``pandas_udf`` over ``spark.range``, after one untimed warm-up stage.
For each stage the latency is the UDF's own clock at its first call
minus the task's ``launchTime`` from the status store (both wall clocks
of this host, millisecond resolution).  It does this twice, each in a
fresh session with fresh Python workers:

- ``stock``: the UDF imports nothing of the engine, so the worker keeps
  CPython's ``zipimporter.invalidate_caches``;
- ``engine``: the UDF imports ``sedona_db_spark``, as every engine
  kernel's unpickling does, which installs
  ``sedona_db_spark.python_worker``'s guard in the worker.

It prints the per-stage latencies, their median, and whether the guard
was active in the worker, one line per mode, then a JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_GUARD = "sedona_db_spark.python_worker"


def _udf(import_engine: bool):
    def call(s: pd.Series) -> pd.Series:
        t = time.time()
        if import_engine:
            import sedona_db_spark  # noqa: F401
        import zipimport
        guard = zipimport.zipimporter.invalidate_caches
        active = getattr(guard, "__module__", "") == _GUARD
        return pd.Series([f"{t!r} {int(active)}"] * len(s))

    return call


def _launch_ms(spark, group: str) -> float:
    """The launchTime (epoch ms) of the one task of the job group's stage,
    waiting for the status listener to record it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + 10.0
    while True:
        for job in tracker.getJobIdsForGroup(group):
            for stage in tracker.getJobInfo(job).stageIds:
                tasks = store.taskList(stage, 0, 1)
                if tasks.size():
                    return float(tasks.apply(0).launchTime().getTime())
        if time.time() > deadline:
            raise RuntimeError(f"no task recorded for job group {group}")
        time.sleep(0.05)


def _run_mode(mode: str, stages: int) -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sedona_db_spark.session import configure

    spark = configure(SparkSession.builder.master("local[2]")
                      .appName(f"probe-python-task-{mode}")
                      .config("spark.ui.showConsoleProgress", "false"),
                      cpus=2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    probe = F.pandas_udf(_udf(mode == "engine"), "string")
    lat, active = [], []
    try:
        for i in range(stages + 1):
            group = f"probe-{mode}-{i}"
            spark.sparkContext.setJobGroup(group, group)
            # collect, not first(): a partly read output stream makes the
            # task discard its worker instead of reusing it
            row = spark.range(10, numPartitions=1) \
                .select(probe("id").alias("v")).collect()[0]
            t_call, on = row["v"].split()
            if i:  # stage 0 is the warm-up: worker fork, first imports
                lat.append(float(t_call) - _launch_ms(spark, group) / 1e3)
                active.append(on == "1")
    finally:
        spark.stop()
    return {"mode": mode, "latency_s": [round(x, 4) for x in lat],
            "median_s": round(statistics.median(lat), 4),
            "guard_active": all(active)}


def main() -> None:
    stages = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    out = {"python": sys.version.split()[0], "stages": stages}
    for mode in ("stock", "engine"):
        r = _run_mode(mode, stages)
        print(f"{mode:6s} median {r['median_s'] * 1e3:7.1f} ms  guard "
              f"active in worker: {r['guard_active']}  per stage (ms): "
              f"{[round(x * 1e3) for x in r['latency_s']]}")
        out[mode] = r
    print(json.dumps(out))


if __name__ == "__main__":
    main()
