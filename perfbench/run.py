"""sedona_db_spark benchmark: one closed-loop client per run.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload spatial_sql --seed 1 --seconds 10 --trace 0

Workloads: spatial_sql, text_curation (see README.md).  The run
generates its inputs from ``--seed`` (cached under ``.perfbench/``),
starts Spark and sets the session up, issues operations one after
another for ``--seconds`` seconds, checks every answer, and prints one
JSON object as its last line.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics and writes spans, step records and the
tracing overhead to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _hygiene(run_dir: str) -> None:
    """Private dirs and an explicit size for this run's Spark, so it can
    neither race another harness nor outgrow a shared host."""
    for d in ("wh", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "wh"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (f'--driver-java-options "-Djava.io.tmpdir={tmp}'
                                f' -Dderby.system.home={tmp}" pyspark-shell'),
    })


def _start_session():
    from pyspark.sql import SparkSession

    from sedona_db_spark.session import configure
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = configure(SparkSession.builder.master(f"local[{cpus}]")
                      .appName("perfbench")
                      .config("spark.ui.showConsoleProgress", "false"),
                      cpus=cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _setup(ctx, wl) -> dict:
    """Start Spark and set the session up: registration, views,
    certificates, layouts.  Returns each layer's seconds."""
    from sedona_db_spark.session import register_all

    layers = {}

    def timed(name, fn):
        t = time.perf_counter()
        with ctx.tracer.span(name):
            fn()
        layers[name] = time.perf_counter() - t
    timed("session.start_s",
          lambda: setattr(ctx, "spark", _start_session()))
    timed("session.register_s", lambda: register_all(ctx.spark))
    timed("session.load_s", lambda: wl.load(ctx))
    timed("plans.certify_s", lambda: wl.certify(ctx))
    timed("operators.layout_write_s", lambda: wl.layout(ctx))
    return layers


def _tail(walls: list[float]) -> tuple[float, float, int]:
    """Value at the highest percentile with at least 10 samples beyond
    it, that percentile and the samples beyond it.  Below 110 samples
    that percentile is under the 90th, no longer a tail, so the run
    reports its maximum instead."""
    s = sorted(walls)
    k = len(s) - 11 if len(s) >= 110 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spatial_sql", "text_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sedona_db_spark", "__init__.py")):
        _fail(f"no sedona_db_spark package beside {HERE}; run from a "
              "source checkout")
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _hygiene(run_dir)
    load_start = os.getloadavg()

    import gen
    import spans as tr
    import workloads as wls

    tracer = tr.Tracer(bool(args.trace))
    rpc = None
    if args.trace:
        rpc = tr.RpcCounter()
        rpc.install()
    ctx = wls.Ctx(spark=None, tracer=tracer, rpc=rpc,
                  inputs=os.path.join(work, "inputs"),
                  work=os.path.join(run_dir, "out"), seed=args.seed)
    os.makedirs(ctx.work, exist_ok=True)
    t_gen = time.perf_counter()
    wl = wls.WORKLOADS[args.workload](ctx)
    gen_s = time.perf_counter() - t_gen

    rss = tr.PeakRss()
    rss.start()
    try:
        layers = _setup(ctx, wl)
        # from process start until the first operation can be issued,
        # input generation excluded: one cold set-up (a second one in
        # this process would run on a warm JVM, a different quantity)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        phases = {"setup": time.perf_counter() - T_PROCESS}
        wl.warmup(ctx)
        phases["warmup"] = time.perf_counter() - T_PROCESS

        # issue operations for --seconds, not counting answer checks,
        # and at least the workload's min_ops
        ops, t_loop, check_s = [], time.perf_counter(), 0.0
        while (len(ops) < wl.min_ops
               or time.perf_counter() - t_loop - check_s < args.seconds):
            i = len(ops)
            tracer.op_id = i
            try:
                op = wl.op(ctx, i)
            except Exception as e:   # a failed operation is counted
                print(f"perfbench: op {i} failed: {e!r}", file=sys.stderr)
                op = wls.Op(0.0, 0, False, 0, "", repr(e)[:200])
            print(f"perfbench: op {i} {op.label} {op.wall_s:.3f} s "
                  f"{op.result_rows} rows digest {op.digest} "
                  + ("ok" if op.ok else f"WRONG {op.detail}"), file=sys.stderr)
            ops.append(op)
            check_s += op.check_s
            if args.trace:
                ctx.steps.append({"op": i, "layer": "op",
                                  "cached_mb": tr.storage_mb(ctx.spark)})
        phases["ops"] = time.perf_counter() - T_PROCESS
        probes, probe_failed = {}, []
        if args.trace:
            import probes as pr
            probes, probe_failed = pr.run_all(ctx)
            phases["probes"] = time.perf_counter() - T_PROCESS
    finally:
        if ctx.spark is not None:
            _shutdown(ctx.spark)
        peak_mb = rss.stop_mb()
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["shutdown"] = time.perf_counter() - T_PROCESS

    good = [o for o in ops if o.ok]
    failed = len(ops) - len(good)
    walls = [o.wall_s for o in good] or [0.0]
    tail, pct, beyond = _tail(walls)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "op_tail_s": (tail, "s"),
        "rows_per_s": (sum(o.input_rows for o in good) / max(sum(walls), 1e-9),
                       "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    info = {"workload": args.workload, "seed": args.seed,
            "ops": len(ops), "failed": failed,
            "failed_frac": failed / max(len(ops), 1),
            "tail_percentile": pct, "tail_samples_beyond": beyond,
            "phase_end_s": phases,
            "pss_mb_at_peak": [round(kb / 1024) for kb in rss.at_peak],
            "input_gen_s": gen_s,
            "input_sizes": gen.sizes(args.workload),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg()}
    if args.trace:
        import report
        metrics = report.per_layer(ctx, layers, ops, probes)
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"info": info, "metrics": metrics,
                       "overhead": report.overhead(ctx, ops),
                       "ops": [vars(o) for o in ops],
                       "steps": ctx.steps, "spans": tracer.spans}, f)
        info["trace_file"] = os.path.relpath(path, ROOT)
        info["probe_failed"] = probe_failed
    else:
        metrics = e2e
    for k, v in info.items():
        print(f"# {k}: {v}")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload:14s} {name:44s} {value:14.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and not probe_failed,
        "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
