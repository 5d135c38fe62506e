"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
written so the same code scales to a multi-executor cluster: AQE for
runtime re-planning and skew joins, Arrow for the Python boundary, UTC
session time zone so timestamp semantics match the DuckDB oracle
(DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark 4's EliminateWindowPartitions folds constant window partition
# keys away — turning the deliberate `partitionBy(lit(0))` that
# functions/topk.py uses on k-row relations back into an UNPARTITIONED
# WindowExec, whose "moving all data to a single partition" warning we
# reserve as a real scale signal (every other constant-key window in
# this repo is over ≤ top-k rows by construction). Excluding the rule
# costs nothing: it only ever fires on foldable partition specs, which
# this codebase writes solely for that k-row pattern.
_EXCLUDED_RULES = "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the correctness-critical runtime confs to a session we did
    not create (the driver passes its own). UTC pins timestamp-field
    extraction to match DuckDB's naive timestamps; nanosAsLong lets
    Spark 4 read the corpus' TIMESTAMP(NANOS) parquet columns."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)


def get_spark(
    app_name: str = "strategy_analyzer_exporter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Settings that matter for correctness vs the DuckDB oracle:
    - ``spark.sql.session.timeZone=UTC`` — parquet timestamps are read
      identically by both engines.
    - Arrow enabled — pandas UDF boundary is vectorized.

    Settings that matter at scale (100 TB design point):
    - AQE + coalesce + skew-join handling enabled.
    - shuffle partitions sized to the cores rather than the Spark
      default of 200.

    Cores and driver heap fit the host unless ``SPARK_GRAFT_CPUS`` /
    ``SPARK_GRAFT_DRIVER_MEM`` say otherwise: every core this process
    may run on, and a third of physical memory capped at 8 GiB — the
    rest is left to the Python workers (Arrow batches, pandas frames)
    and DuckDB, which all live outside the JVM heap.
    """
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(mem // 3, 8 << 30) >> 20}m"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only, so this is the whole executor heap
        .config("spark.driver.memory", heap)
        # whole-stage codegen emits one compiled class per plan stage;
        # a session that runs the full 100-query registry (or the 14
        # headline bench plans with warm-ups) overflows the JVM-17
        # default 240m code cache, and C2 eviction re-interprets hot
        # loops (observed: the same md5-heavy query at 0.5s in one
        # process and 2.8s median in another). 1g keeps every compiled
        # stage resident.
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g"
        )
        .config("spark.ui.enabled", "false")
        # keep the default-sized broadcast threshold: benchmarking showed
        # 64MB lets mid-size fact-side tables (e.g. 500k-row gram/shingle
        # relations) get broadcast-hashed, which thrashes the heap when
        # several such joins stack in one plan (observed 12s → 4s on the
        # minhash pipeline by keeping this at 10MB). Genuinely small dims
        # are broadcast explicitly via F.broadcast() hints instead.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # the corpus' events.parquet uses TIMESTAMP(NANOS) which Spark 4
        # rejects by default; read as int64 nanos and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.excludedRules", _EXCLUDED_RULES)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
