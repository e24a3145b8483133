"""Dump .explain("formatted") for declared queries into a directory.

Usage: python tools/dump_plans.py <out_dir> <suffix> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each named query (default: all
bench HEADLINE queries), creating <out_dir> if needed.  A name may be a
shell-style pattern over the declared queries, e.g.
``python tools/dump_plans.py plans/r12 after`` (the HEADLINE set) or
``python tools/dump_plans.py plans/sql after 'sql_*'`` (every query of
the SQL front door).  Runs at
$SPARK_GRAFT_SF_DIR (default sf0.1) so plans match the bench's AQE/stats
decisions.

The dump is normalized so that two runs of the same code are
byte-identical and plan identity is a plain ``diff -r``: expression ids
(``#N``), ``plan_id=N`` and ``MapPartitionsRDD[N]`` counters, the
process-wide counter in higher-order-function lambda variables
(``lambda x_11`` -> ``lambda x_N``; it counts every lambda built
earlier in the process), and the checkout's own path (tables written
under it print their location) are replaced by fixed placeholders.
"""

from __future__ import annotations

import fnmatch
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_RUN_COUNTERS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[N]"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
]


def normalize(txt: str) -> str:
    """Plan text with the per-run counters and the checkout path
    replaced by placeholders."""
    txt = txt.replace(ROOT, "<checkout>")
    for pat, repl in _RUN_COUNTERS:
        txt = pat.sub(repl, txt)
    return txt


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from sedona_db_spark import get_spark

    qs = entrymod.queries()
    picked = []
    for pat in names or HEADLINE:
        hits = [pat] if pat in qs else fnmatch.filter(qs, pat)
        if not hits:
            sys.exit(f"no declared query matches {pat!r}")
        picked += hits
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._prep(spark, sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in picked:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize(txt))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
