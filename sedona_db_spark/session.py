"""SparkSession factory + function registration for sedona_db_spark.

Mirrors the role of the reference's ``SedonaContext`` builder
(/root/reference/rust/sedona/src/context.rs:317-355) which assembles the
function set and planner extensions at session-build time.  Here the same
step is `configure()` (tuned confs) + `register_all()` (ST_* UDFs, SQL
names).

Design notes (100 TB posture):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- Arrow exchange on: every pandas UDF crosses JVM<->Python as Arrow
  batches, never rows.
- shuffle.partitions defaults to 2x cores locally; on a real cluster the
  caller overrides (or relies on AQE coalescing from a higher number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable (plain SQL confs) and must hold even when
# the caller built a bare SparkSession themselves (e.g. the external driver).
_RUNTIME_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # 24 MB: small dims (nation/region/customer at bench SFs) still
    # broadcast, but AQE can no longer convert a multi-million-row fact
    # side into a driver-built hash relation (observed: 6M-row lineitem
    # broadcast at 64 MB turned TPC-H Q3 into a 6 s driver stall).
    # Operators that KNOW a side is small use explicit F.broadcast(),
    # which bypasses this threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(24 * 1024 * 1024),
    # 512 KB open-cost (default 4 MB): the 4 MB floor forced small-on-disk
    # CPU-heavy tables (a 14 MB point table is 1.5M rows of kernel work)
    # into 2-5 scan splits with the rest of the cluster idle; with the
    # floor at 512 KB the splitter's total/minPartitionNum term wins and
    # scans target defaultParallelism splits.  Large tables are unaffected
    # (their size/parallelism term already exceeds both floors).
    "spark.sql.files.openCostInBytes": str(512 * 1024),
    # driver testdata events.parquet carries timestamp[ns]; read as long
    # and convert to TimestampType in load_tables
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Builder-time defaults: every runtime conf plus the confs that only take
# effect when the session (or its JVM) is created.
_DEFAULT_CONFS = {
    **_RUNTIME_CONFS,
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # local-mode latency: no locality wait (single host), Kryo for the
    # broadcast/shuffle serialization path
    "spark.locality.wait": "0s",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # NOTE: spark.sql.execution.pythonUDF.arrow.enabled was measured 2-3x
    # SLOWER on this suite (text/dedup queries) and is left at default.
}


def configure(builder: SparkSession.Builder, cpus: int | None = None) -> SparkSession.Builder:
    """Apply engine defaults to a SparkSession builder."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = builder.config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    # Optional warehouse isolation: every session in a process tree
    # shares ./spark-warehouse by default (deliberate — persisted
    # bucketed layouts are re-attachable across sessions), but two
    # CONCURRENT harness processes then race on managed-table rebuilds
    # (drop + rmtree + write of the bench bulk tables).  Harnesses that
    # may run alongside another one set this env var to a private dir.
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "sedona_db_spark", master: str | None = None) -> SparkSession:
    """Create (or get) a configured SparkSession with all functions registered."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    builder = configure(SparkSession.builder.master(master).appName(app_name), cpus=cpus)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register_all(spark)
    return spark


def register_all(spark: SparkSession) -> SparkSession:
    """Register every ST_* / RS_* / pipeline function for SQL use.

    Equivalent of the reference's function-set registration
    (/root/reference/rust/sedona-functions/src/register.rs:39-128).
    Idempotent: re-registration overwrites.
    """
    from sedona_db_spark.functions import register_sql_functions

    # Spark 4.1 ships built-ins for a handful of ST_* names (st_srid,
    # st_geomfromwkb, ...); replacing them with this engine's kernels is
    # intended, so mute the per-name "replaced a previously registered
    # function" WARN that would otherwise greet every session.
    try:
        jvm = spark.sparkContext._jvm
        lvl = jvm.org.apache.logging.log4j.Level.ERROR
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
            lvl)
    except Exception:
        pass  # logging backend differs: the warning is cosmetic anyway
    register_sql_functions(spark)
    # SQL front door: spatial joins plan through the real operators
    # (reference optimizer.rs:197-415 / 140-195 rewrite semantics)
    from sedona_db_spark.plans.sql_rewrite import install_sql_rewrite
    install_sql_rewrite(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply every runtime-settable engine conf to an existing session.

    The external driver constructs its own bare SparkSession; builder-time
    confs in ``_DEFAULT_CONFS`` never reach it.  Everything the engine
    *needs* at query time must therefore be set here via ``spark.conf.set``
    (all of ``_RUNTIME_CONFS`` are dynamic SQL confs).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on some builds; never fail table loading
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register the driver testdata parquet tables as temp views.

    Returns {name: DataFrame}. Views: region nation customer supplier part
    orders lineitem events documents embeddings (TESTDATA.md).

    Self-sufficient on a bare SparkSession: applies runtime confs (notably
    ``spark.sql.legacy.parquet.nanosAsLong`` — events.parquet carries
    timestamp[ns] which Spark's parquet reader otherwise rejects with
    PARQUET_TYPE_ILLEGAL) before the first read.
    """
    apply_runtime_confs(spark)
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # timestamp[ns] columns arrive as long (nanosAsLong) — convert
            # with exact integer division (float division rounds at ~1.7e18)
            for field in df.schema.fields:
                if field.name == "ts" and field.dataType.typeName() in ("long", "bigint"):
                    from pyspark.sql import functions as F
                    df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            df.createOrReplaceTempView(n)
            out[n] = df
    return out
