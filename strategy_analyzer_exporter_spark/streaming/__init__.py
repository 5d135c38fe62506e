"""Structured Streaming feature pipeline (reference entry point 2,
SURVEY.md §3.2: real-time incremental export).

The reference's realtime path runs the same per-bar dataflow with
time-driven commits (StrategyAnalyzerExporter.cs:234-246,
DatabaseWriter.cs:396-414). Here the per-(day) sliding-window state —
the three capacity-21 circular buffers (FeaturesBarService.cs:22-26) —
lives in Spark streaming state via ``applyInPandasWithState`` keyed by
``day``; the session filter, feature math, and warm-up gate are applied
incrementally per micro-batch.

Numeric parity: the updater folds the EMAs with the batch kernel's
``acc + α(x − acc)`` left-fold and runs the batch kernel's own per-day
step (``functions.exact.DayStep``: window sums quantized to
DECIMAL(38,12) as exact integers, then the same num/den/slope
expression order), restored from the persisted window values at each
micro-batch. So a streaming run over in-order bars produces
byte-identical rows to ``features_df`` — asserted in
tests/test_streaming_sinks.py.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from strategy_analyzer_exporter_spark.sources.staging import staging_root

from strategy_analyzer_exporter_spark.operators.features import (
    FeatureConfig,
    TESTDATA_CONFIG,
)

from strategy_analyzer_exporter_spark.functions.exact import DayStep

BAR_SCHEMA = T.StructType(
    [
        T.StructField("day", T.IntegerType()),
        T.StructField("time", T.IntegerType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("close", T.FloatType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("f_close_location_value", T.FloatType()),
        T.StructField("f_moving_average_autocorrelation", T.FloatType()),
        T.StructField("f_moving_average_distance", T.FloatType()),
        T.StructField("f_moving_average_slope", T.FloatType()),
        T.StructField("f_moving_average_slow_autocorrelation", T.FloatType()),
        T.StructField("f_moving_average_slow_distance", T.FloatType()),
        T.StructField("f_open_location_value", T.FloatType()),
        T.StructField("high", T.FloatType()),
        T.StructField("low", T.FloatType()),
        T.StructField("open", T.FloatType()),
        T.StructField("time", T.IntegerType()),
        T.StructField("volume", T.FloatType()),
    ]
)

# state per day: row count, two EMA accumulators, the trailing window of
# (ma_fast, ma_slow) values — the reference's circular buffers — and the
# export-lag holdback queue (feature rows as value arrays in
# FEATURE_SCHEMA order; empty when cfg.export_lag_bars == 0)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_rows", T.IntegerType()),
        T.StructField("ema_f", T.DoubleType()),
        T.StructField("ema_s", T.DoubleType()),
        T.StructField("wf", T.ArrayType(T.DoubleType())),
        T.StructField("ws", T.ArrayType(T.DoubleType())),
        T.StructField("pending", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def make_feature_updater(cfg: FeatureConfig = TESTDATA_CONFIG):
    """Build the applyInPandasWithState update function: key = (day,),
    state = circular buffers + EMA accumulators + export-lag queue. Bars
    must arrive in time order within a micro-batch stream (the
    reference's contract — Calculate.OnBarClose delivers closed bars
    strictly in order).

    ``cfg.export_lag_bars`` reproduces the reference's bar-[1] export
    (StrategyAnalyzerExporter.cs:207-215): each computed feature row is
    held in state until ``lag`` further bars have closed in that day, so
    a day's trailing ``lag`` rows are never emitted (the reference would
    only have exported them on a next bar that never came)."""
    a_f = 2.0 / (cfg.span_fast + 1.0)
    a_s = 2.0 / (cfg.span_slow + 1.0)
    lag = int(cfg.export_lag_bars)
    cols = [f.name for f in FEATURE_SCHEMA.fields]

    # hot-loop hoists: the updater runs once per (day, micro-batch) but
    # its inner loop runs once per BAR — attribute lookups and per-row
    # dict building were ~30% of streaming_features wall at sf0.1
    t_lo, t_hi = cfg.time_start, cfg.time_end

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        day = int(key[0])
        if state.exists:
            n_rows, ema_f, ema_s, wf, ws, pending = state.get
            pending = [list(r) for r in (pending or [])]
        else:
            n_rows, ema_f, ema_s, wf, ws, pending = 0, None, None, (), (), []
        # re-pushing the persisted window values rebuilds the same exact
        # integer sums the uninterrupted day would hold
        step = DayStep(cfg, n_rows, wf, ws)

        # feature rows as tuples in FEATURE_SCHEMA (= cols) order — the
        # per-column zip at the end beats DataFrame-from-dicts ~5×
        out_rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("time", kind="mergesort")
            # .tolist() yields native ints/floats ONCE per batch — the
            # same values float(row.x) produced per row
            for t, o, h, lo, c, v in zip(
                pdf["time"].tolist(),
                pdf["open"].tolist(),
                pdf["high"].tolist(),
                pdf["low"].tolist(),
                pdf["close"].tolist(),
                pdf["volume"].tolist(),
            ):
                if not (t_lo <= t <= t_hi):
                    continue
                ema_f = c if ema_f is None else ema_f + a_f * (c - ema_f)
                ema_s = c if ema_s is None else ema_s + a_s * (c - ema_s)
                f = step(o, h, lo, c, ema_f, ema_s)
                if f is None:
                    continue
                # STEP_FEATURES sit between day and high in FEATURE_SCHEMA
                feat = (c, day) + f + (h, lo, o, t, v)
                if lag == 0:
                    out_rows.append(feat)
                else:
                    # FIFO holdback (exact doubles; day/time < 2^53 so
                    # the double round-trip is lossless)
                    pending.append([float(x) for x in feat])
                    if len(pending) > lag:
                        out_rows.append(tuple(pending.pop(0)))

        wf, ws = list(step.win_f.vals), list(step.win_s.vals)
        state.update((step.n, ema_f, ema_s, wf, ws, pending))
        # always yield a correctly-dtyped frame (even empty) — pyspark
        # concatenates yielded batches, and untyped empties trip pandas'
        # all-NA-concat dtype inference
        col_vals = list(zip(*out_rows)) if out_rows else [[] for _ in cols]
        out = pd.DataFrame(
            {
                col: pd.Series(
                    col_vals[i],
                    dtype="int32" if col in ("day", "time") else "float32",
                )
                for i, col in enumerate(cols)
            }
        )
        yield out

    return update


def stream_features(
    bars_stream: DataFrame, cfg: FeatureConfig = TESTDATA_CONFIG
) -> DataFrame:
    """Streaming bars → streaming features. ``bars_stream`` must be a
    streaming DataFrame with BAR_SCHEMA columns."""
    return bars_stream.groupBy("day").applyInPandasWithState(
        make_feature_updater(cfg),
        outputStructType=FEATURE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def tws_runtime_available() -> bool:
    """transformWithStateInPandas needs ``google.protobuf`` at runtime
    (the Python↔JVM state-server protocol); pyspark does not bundle it.
    Checked up front so a missing dependency fails with a clear message
    instead of a mid-stream worker crash."""
    import importlib.util

    try:
        # raises (rather than returning None) when the parent `google`
        # namespace package itself is absent
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def _require_tws_runtime() -> None:
    if not tws_runtime_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the google.protobuf "
            "package (pyspark's stateful-processor state server), which "
            "is not installed in this environment; use engine='apply' "
            "(applyInPandasWithState) — bit-equal output by construction"
        )


def stream_features_tws(
    bars_stream: DataFrame, cfg: FeatureConfig = TESTDATA_CONFIG
) -> DataFrame:
    """The SAME feature stream through ``transformWithStateInPandas``
    (SURVEY §2.5 names the newer API as the state mapping; VERDICT r07
    #5 asks for a measured adopt-or-reject vs ``applyInPandasWithState``).

    The per-bar compute is make_feature_updater's — byte-identical by
    construction: the StatefulProcessor adapts its ValueState to the
    GroupState surface the updater consumes (exists/get/update), so the
    two engines differ ONLY in state machinery (RocksDB value-state
    encoder + per-operator store vs the HDFS-backed GroupState codec).
    Bit-equality is asserted by
    tests/test_streaming_sinks.py::test_tws_engine_bit_equals_apply.
    Requires the RocksDB state-store provider (run_stream_to_memory
    sets it on the isolated child session when engine="tws") AND
    ``google.protobuf``: transformWithState's Python worker talks to
    the JVM state server over protobuf, a runtime dependency pyspark
    does not bundle. In environments without protobuf (this container —
    installs are out of scope) the engine raises a clear error up
    front; the 1×/10× wall-time comparison is therefore recorded as
    ENVIRONMENT-BLOCKED in docs/BENCH_NOTES.md §r08 rather than
    measured — the port and its equality contract are still code."""
    _require_tws_runtime()
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _FeatureProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._vs = handle.getValueState("feat", STATE_SCHEMA)
            self._update = make_feature_updater(cfg)

        def handleInputRows(self, key, rows, timerValues):
            vs = self._vs

            class _AsGroupState:
                exists = property(lambda _s: vs.exists())
                get = property(lambda _s: vs.get())

                @staticmethod
                def update(value) -> None:
                    vs.update(value)

            yield from self._update(key, rows, _AsGroupState())

        def close(self) -> None:
            pass

    return bars_stream.groupBy("day").transformWithStateInPandas(
        statefulProcessor=_FeatureProcessor(),
        outputStructType=FEATURE_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def windowed_counts(events_stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows with a watermark: the standard
    streaming aggregation (late data beyond the watermark is dropped;
    the corpus has none, so complete-mode output equals the batch
    GROUP BY date_trunc('hour') — which is the oracle)."""
    return (
        events_stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_windowed_counts_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_counts_out"
) -> DataFrame:
    """Drive the events parquet as a stream through the windowed
    aggregation (complete mode → all windows emitted)."""
    import os

    from strategy_analyzer_exporter_spark.sources.tables import load_table

    # stage the events with ts normalized to a plain timestamp column
    stage = os.path.join(staging_root(), "events_stream_" + sf_dir.strip("/").split("/")[-1])
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    ev.write.mode("overwrite").parquet(stage)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    q = (
        windowed_counts(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def run_streaming_dedup_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup_out"
) -> DataFrame:
    """Streaming stateful exact dedup: ``dropDuplicates`` over a file
    stream keeps one row per (user_id, event_type) in the state store
    across micro-batches. The projection IS the dedup key, so whichever
    arrival survives is value-identical — arrival-order-independent and
    equal to batch SELECT DISTINCT (the oracle). At scale this is the
    standard streaming dedup: state partitioned by key hash, one state
    row per distinct key; bound state with a watermark + event-time key
    when keys churn (the corpus key domain is small and eternal)."""
    import os

    from strategy_analyzer_exporter_spark.sources.tables import load_table

    stage = os.path.join(
        staging_root(), "events_dedup_stream_" + sf_dir.strip("/").split("/")[-1]
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ev.write.mode("overwrite").parquet(stage)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    q = (
        stream.dropDuplicates(["user_id", "event_type"])
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def run_streaming_dedup_watermarked_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup_wm_out"
) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    on (user_id, event_type, day). Every occurrence of a day-key falls
    within that day, and the 2-day watermark delay exceeds a day span,
    so dedup is complete (oracle: batch SELECT DISTINCT) while state for
    old days is EVICTED as the watermark advances — unlike plain
    ``dropDuplicates`` (streaming_dedup), whose state grows with the key
    domain forever. This is the production shape for unbounded streams
    whose dedup keys churn with time (log dedup, click dedup).

    The projection is exactly the dedup key, so whichever arrival
    survives is value-identical and the result is arrival-order-
    independent. Staged one file per day with forced chronological
    mtimes (sources/staging.stage_days_ordered): with an uncontrolled
    multi-part stage a late-day file could be processed first and the
    2-day watermark would then silently DROP genuinely-old days as late
    data (ADVICE r03, medium)."""
    import os

    from strategy_analyzer_exporter_spark.sources.staging import stage_days_ordered
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    stage = os.path.join(
        staging_root(),
        "events_dedup_wm_stream_" + sf_dir.strip("/").split("/")[-1],
    )
    # day is a TIMESTAMP (midnight) not a DATE: the harness compares
    # pandas dtypes and DuckDB's DATE surfaces as datetime64 anyway
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", F.date_trunc("DAY", F.col("ts")).alias("day")
    )
    stage_days_ordered(ev, stage)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("day", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "day_*"))
    )
    q = (
        stream.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day")
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("running_n", T.LongType()),
    ]
)

_RUNNING_STATE = T.StructType([T.StructField("n", T.LongType())])


def _running_count_update(key, pdfs, state):
    """Per-user cumulative event counter: the minimal custom stateful
    operator (one long of state per key). ``applyInPandasWithState``
    delivers a group as an ITERATOR of Arrow-batch-sized chunks
    (maxRecordsPerBatch, default 10k) — sorting each chunk separately
    would give a non-global order whenever a group spans chunks, so the
    whole batch is materialized and sorted ONCE by (ts, event_id)
    (ADVICE r03). Group state is one long; the materialized rows are
    one user-day — bounded. Batches arrive in staged file order, so the
    running index matches the batch row_number oracle."""
    import pandas as pd

    n = state.get[0] if state.exists else 0
    out = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        for row in whole.itertuples(index=False):
            n += 1
            out.append((int(row.user_id), int(row.event_id), n))
    state.update((n,))
    yield pd.DataFrame(out, columns=["user_id", "event_id", "running_n"])


def run_streaming_running_counts_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_running_out"
) -> DataFrame:
    """Per-user running event index via ``applyInPandasWithState`` —
    cross-batch custom state (a single counter per user). Staged one
    file per day with strictly increasing mtimes so the file source
    delivers days chronologically; within a batch the updater sorts by
    (ts, event_id). Oracle: batch row_number over the same total
    order."""
    import os

    from strategy_analyzer_exporter_spark.sources.staging import stage_days_ordered
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    stage = os.path.join(
        staging_root(), "events_running_stream_" + sf_dir.strip("/").split("/")[-1]
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.to_date("ts").alias("day")
    )
    stage_days_ordered(ev, stage)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "day_*"))
    )
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _running_count_update,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_RUNNING_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


SESSION_GAP_S = 1800


def session_windows(events_stream: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """Event-time session windows per user: Spark's ``session_window``
    merges events whose windows overlap, i.e. a gap of exactly ``gap_s``
    STARTS a new session (strict ``<`` merge — the oracle must use
    ``gap >= gap_s`` as its island break, one off from the batch
    sessionization query's ``>``). Watermark bounds state: sessions
    whose [start, last+gap) window falls fully behind the watermark are
    emitted and evicted — the mechanism that keeps per-user session
    state finite under unbounded input."""
    return (
        events_stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", f"{gap_s} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "session_end",
            "n_events",
        )
    )


def run_session_windows_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions_out"
) -> DataFrame:
    """Drive events through streaming session windows (append mode).

    Append-mode session aggregation only emits a session once the
    watermark passes its window end, so a finite stream would hold the
    tail sessions in state forever. The standard fix: a sentinel flush
    event far past the real data (file 2, its own micro-batch) advances
    the watermark past every real session; the sentinel's own session
    stays unemitted by construction (the watermark never passes it) and
    so never appears in the result."""
    import os
    import time as _time

    from strategy_analyzer_exporter_spark.sources.tables import load_table

    stage = os.path.join(
        staging_root(), "events_sess_stream_" + sf_dir.strip("/").split("/")[-1]
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    if not os.path.exists(os.path.join(stage, "real", "_SUCCESS")):
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "real"))
        mx = ev.agg(F.max("ts")).first()[0]
        sentinel = spark.createDataFrame(
            [(-1, mx + __import__("datetime").timedelta(days=10), -1)],
            schema=ev.schema,
        )
        _time.sleep(0.05)  # file-source orders batches by mtime
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stage, "flush")
        )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(stage + "/*")
    )
    q = (
        session_windows(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # the final emission can ride a no-data micro-batch that runs
        # after processAllAvailable returns; wait for the row count to
        # stabilize (bounded)
        last, stable = -1, 0
        for _ in range(100):
            n = spark.table(query_name).count()
            if n == last and n > 0:
                stable += 1
                if stable >= 3:
                    break
            else:
                stable = 0
            last = n
            _time.sleep(0.1)
    finally:
        q.stop()
    return spark.table(query_name)


def run_interval_join_to_memory(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_ijoin_out"
) -> DataFrame:
    """Stream-stream interval join: click events joined to the error
    events that follow within 5 minutes for the same user. Both sides
    carry watermarks and the join condition bounds event time in both
    directions, so each side's buffered state is evictable once the
    watermark passes — the requirement that keeps stream-stream join
    state finite on unbounded input. Inner joins emit on match (no
    watermark wait), so a finite stream needs no sentinel flush."""
    import os

    from strategy_analyzer_exporter_spark.sources.tables import load_table

    stage = os.path.join(
        staging_root(), "events_ijoin_stream_" + sf_dir.strip("/").split("/")[-1]
    )
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def side(kind: str, prefix: str) -> DataFrame:
        s = spark.readStream.schema(schema).parquet(stage)
        return (
            s.filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user"),
            )
            .withWatermark(f"{prefix}_ts", "1 minute")
        )

    clicks, errors = side("click", "clk"), side("error", "err")
    joined = clicks.join(
        errors,
        F.expr(
            "clk_user = err_user AND "
            "err_ts >= clk_ts AND err_ts <= clk_ts + INTERVAL 5 MINUTES"
        ),
    ).select(
        F.col("clk_user").alias("user_id"),
        "clk_event_id",
        "err_event_id",
        "clk_ts",
        "err_ts",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def foreach_batch_duckdb_sink(
    db_path: str, table: str, commit_policy=None, insert_slice: int = 8192
):
    """foreachBatch sink with the reference writer's full commit cadence
    (S6, DatabaseWriter.cs:396-414):

    - row-count cadence: COMMIT once ≥ ``commit_every_rows`` rows have
      accumulated in the open transaction;
    - time cadence: COMMIT when the transaction has been open longer
      than ``max_tx_duration_s`` (checked per insert slice);
    - idle tail: between epochs the stream is idle, so the trailing
      COMMIT at epoch end IS the idle-tail commit (the reference's
      ``IdleTailCommitSeconds`` flush of a quiet queue);
    - CHECKPOINT every ``checkpoint_every_commits`` commits (S7).

    The returned callable exposes ``.stats`` (commits / rows / epochs /
    checkpoints) — the sink-side half of the reference's
    ``Enqueued=/Written=`` telemetry (ExporterDatabaseManager.cs:183-184).
    """
    import time as _time

    from strategy_analyzer_exporter_spark.sinks import (
        CommitPolicy,
        spark_schema_to_duckdb_ddl,
    )

    policy = commit_policy or CommitPolicy()
    stats = {"commits": 0, "rows": 0, "epochs": 0, "checkpoints": 0}

    def write_epoch(df: DataFrame, epoch_id: int) -> None:
        import duckdb

        # One Arrow materialization per epoch; slices below are
        # zero-copy views and DuckDB ingests Arrow directly — no
        # full-epoch pandas copy on the driver.
        tbl = df.toArrow()
        con = duckdb.connect(db_path)
        try:
            con.execute(spark_schema_to_duckdb_ddl(df.schema, table))

            def checkpoint_if_due() -> None:
                if stats["commits"] % policy.checkpoint_every_commits == 0:
                    try:
                        con.execute("CHECKPOINT")
                        stats["checkpoints"] += 1
                    except duckdb.TransactionException:
                        pass

            n = tbl.num_rows
            if n:
                cols = ", ".join(f'"{c}"' for c in tbl.schema.names)
                i = 0
                in_tx = False
                tx_rows = 0
                tx_t0 = 0.0
                slice_rows = max(1, min(insert_slice, policy.commit_every_rows))
                while i < n:
                    step = min(slice_rows, n - i)
                    if not in_tx:
                        con.execute("BEGIN TRANSACTION")
                        in_tx, tx_rows, tx_t0 = True, 0, _time.monotonic()
                    # slice Arrow-side (zero-copy): LIMIT/OFFSET over a
                    # registered frame has no ORDER BY guarantee
                    con.register("_slice", tbl.slice(i, step))
                    con.execute(
                        f'INSERT INTO "{table}" ({cols}) SELECT {cols} FROM _slice'
                    )
                    i += step
                    tx_rows += step
                    if (
                        tx_rows >= policy.commit_every_rows
                        or _time.monotonic() - tx_t0 >= policy.max_tx_duration_s
                    ):
                        con.execute("COMMIT")
                        in_tx = False
                        stats["commits"] += 1
                        stats["rows"] += tx_rows
                        checkpoint_if_due()
                if in_tx:  # idle-tail commit: the epoch drained
                    con.execute("COMMIT")
                    stats["commits"] += 1
                    stats["rows"] += tx_rows
                    checkpoint_if_due()
            stats["epochs"] += 1
        finally:
            con.close()

    write_epoch.stats = stats
    return write_epoch


#: (parent session id, partitions, extra confs) → cached isolated child
#: session. newSession() pays a one-time SessionState/catalog init
#: (~0.35 s); reusing one child per key keeps the isolation WITHOUT
#: that cost on every query run. Entries live as long as the parent
#: SparkSession — a handful per process.
_STATE_SESSIONS: dict[
    tuple[int, int, tuple[tuple[str, str], ...]], SparkSession
] = {}


def _state_session(
    spark: SparkSession,
    parts: int,
    extra: tuple[tuple[str, str], ...] = (),
) -> SparkSession:
    from strategy_analyzer_exporter_spark.session import ensure_session_confs

    key = (id(spark), parts, extra)
    sess = _STATE_SESSIONS.get(key)
    if sess is not None:
        # id() keys can be REUSED after the original parent is
        # garbage-collected (ADVICE r05): validate the cached child is
        # bound to THIS parent's still-running SparkContext before
        # handing it back, else rebuild.
        try:
            stale = sess.sparkContext is not spark.sparkContext or (
                sess.sparkContext._jsc.sc().isStopped()
            )
        except Exception:
            stale = True
        if stale:
            _STATE_SESSIONS.pop(key, None)
            sess = None
    if sess is None:
        sess = spark.newSession()
        ensure_session_confs(sess)  # child session starts from defaults
        sess.conf.set("spark.sql.shuffle.partitions", str(parts))
        for k, v in extra:
            sess.conf.set(k, v)
        _STATE_SESSIONS[key] = sess
    return sess


#: transformWithState is only supported on the RocksDB state store —
#: set on the isolated child session so batch plans on the caller's
#: session never observe it
_TWS_CONFS: tuple[tuple[str, str], ...] = (
    (
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    ),
)


def run_stream_to_memory(
    spark: SparkSession,
    source_dir: str,
    cfg: FeatureConfig = TESTDATA_CONFIG,
    query_name: str = "stream_features_out",
    max_files_per_trigger: int = 1,
    state_partitions: int | None = None,
    engine: str = "apply",
) -> DataFrame:
    """Drive a file-source stream of bar parquet through the stateful
    pipeline into a memory sink, synchronously (availableNow semantics
    via processAllAvailable). Returns the materialized result table.

    ``max_files_per_trigger`` sets micro-batch granularity: 1 maximizes
    cross-batch state coverage (tests); larger amortizes the fixed
    per-batch cost (state-store open/commit + Python worker round-trip
    per state partition) — at sf0.1, 30 day-files × ~1.4s/batch means
    batching 8 files cuts the run ~6×. Day-order is preserved either
    way: the staging layout is one file per day, files land whole in a
    batch, and the stateful operator groups by day.

    ``state_partitions`` pins the stateful shuffle's partition count for
    THIS query via an ISOLATED child session (``spark.newSession()`` —
    same SparkContext, own SQLConf), so concurrent plans on the caller's
    session never observe the pinned value (a streaming query captures
    spark.sql.shuffle.partitions at start). State partitions should
    scale with the number of live keys and per-key throughput — every
    partition costs a state-store open/commit + a Python worker
    round-trip PER MICRO-BATCH even when nearly empty (measured at
    sf0.1's 30 day-keys: 32 partitions 1.6 s, 16 partitions 1.3 s). At
    production key cardinalities you raise it; results are
    partitioning-independent (bit-equal,
    tests/test_streaming_sinks.py::test_state_partitions_is_not_a_semantics_knob).

    ``engine`` selects the stateful operator: "apply" (default) =
    ``applyInPandasWithState``; "tws" = ``transformWithStateInPandas``
    over RocksDB (stream_features_tws — same updater, bit-equal
    output). "tws" always runs on a child session because the RocksDB
    provider conf must not leak to the caller."""
    if engine not in ("apply", "tws"):
        raise ValueError(f"unknown streaming engine: {engine!r}")
    if engine == "tws":
        # gate BEFORE building (and permanently caching) the child
        # session — a missing protobuf raises regardless (r08 review)
        _require_tws_runtime()
    extra = _TWS_CONFS if engine == "tws" else ()
    if state_partitions or extra:
        parts = int(
            state_partitions
            or spark.conf.get("spark.sql.shuffle.partitions")
        )
        sess = _state_session(spark, parts, extra)
    else:
        sess = spark
    stream = (
        sess.readStream.schema(BAR_SCHEMA)
        .option("maxFilesPerTrigger", max(1, int(max_files_per_trigger)))
        .parquet(source_dir)
    )
    pipe = stream_features_tws if engine == "tws" else stream_features
    q = (
        pipe(stream, cfg)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sess.table(query_name)
