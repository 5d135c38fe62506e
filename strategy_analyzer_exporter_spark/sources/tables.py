"""Parquet table loaders for the driver-generated test data.

The reference's only source is a NinjaTrader bar stream (S1,
StrategyAnalyzerExporter.cs:179-217); our engine's batch sources are the
parquet tables documented in TESTDATA.md. Loading is plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. ``name`` must be one of TABLES.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet, which Spark 4 reads
    as int64 nanos (``spark.sql.legacy.parquet.nanosAsLong``). Convert to
    a microsecond timestamp with *integer* division (ns since epoch
    exceeds 2^53, so float division would lose precision) — the same
    truncation DuckDB applies when casting TIMESTAMP_NS → TIMESTAMP."""
    from strategy_analyzer_exporter_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for the SQL API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan_split_count(df: DataFrame) -> int:
    """Scan split count for a raw file-source DataFrame, computed from
    FILE METADATA only (ADVICE r14: the previous ``df.rdd
    .getNumPartitions()`` forced full physical planning plus a
    DataFrame→RDD conversion on every spread_scan call, even on the
    no-op path). Replicates Spark's ``FilePartition`` split packing —
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes/minPartitionNum)); files chunked at maxSplitBytes,
    chunks sorted by size descending, greedily packed with each file
    charged openCostInBytes — which tests pin against the planner's
    own ``df.rdd.getNumPartitions()`` for every fixture layout
    (tests/test_plans.py), so version drift in the packing rule is
    caught, not silently diverged from. Returns -1 when the input is
    not a plain file scan (callers fall back to the planner)."""
    try:
        uris = df.inputFiles()
    except Exception:
        return -1
    if not uris:
        return -1
    sizes = []
    for u in uris:
        p = u[7:] if u.startswith("file://") else u
        if not os.path.isfile(p):
            return -1
        sizes.append(os.path.getsize(p))
    jconf = df.sparkSession._jsparkSession.sessionState().conf()
    max_pb = jconf.filesMaxPartitionBytes()
    open_cost = jconf.filesOpenCostInBytes()
    min_pn_opt = jconf.filesMinPartitionNum()
    min_pn = (
        min_pn_opt.get()
        if min_pn_opt.isDefined()
        else df.sparkSession.sparkContext.defaultParallelism
    )
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // max(min_pn, 1)))
    chunks: list[int] = []
    for s in sizes:
        off = 0
        while off < s:
            chunks.append(min(max_split, s - off))
            off += max_split
        if s == 0:
            chunks.append(0)
    chunks.sort(reverse=True)
    parts, cur, cur_n = 0, 0, 0
    for c in chunks:
        if cur_n and cur + c > max_split:
            parts, cur, cur_n = parts + 1, 0, 0
        cur += c + open_cost
        cur_n += 1
    return parts + 1 if cur_n else parts


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Input-skew remedy (optimization guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read"): the
    test corpus tables are single-row-group parquet files, so a scan is
    ONE split and everything Catalyst collapses into the scan stage —
    map-side partial aggregation, broadcast-join probes — runs on one
    core. When the scan yields fewer partitions than the session's
    parallelism, repartition (round-robin, or hash on ``keys`` when a
    downstream op can reuse that clustering); when the input already
    yields at least that many splits — any real multi-file table, and
    every production layout — this is a NO-OP and the extra exchange
    never enters the plan. Callers must pass a RAW scan (the split
    count is metadata-derived — scan_split_count — so the no-op path
    stays plan-only, ADVICE r14) and must be order-independent (exact
    decimal/integer aggregates, windows with explicit ordering)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = scan_split_count(df)
    if splits < 0:
        splits = df.rdd.getNumPartitions()
    if splits >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys]) if keys \
        else df.repartition(target)
