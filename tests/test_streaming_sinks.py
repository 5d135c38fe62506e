"""Streaming pipeline parity + sink round-trips (SURVEY.md §2.1, §2.5)."""

import os

import numpy as np
import pytest

from strategy_analyzer_exporter_spark.operators.features import (
    TESTDATA_CONFIG,
    features_df,
)
from strategy_analyzer_exporter_spark.sinks import (
    export_to_duckdb,
    spark_schema_to_duckdb_ddl,
    write_parquet,
)
from strategy_analyzer_exporter_spark.sources.bars import bars_df

SF = "/root/testdata/sf0.001"
TMP = "/root/repo/.tmp"


def _norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(["day", "time"], kind="mergesort").reset_index(drop=True)


def test_streaming_bit_equals_batch(spark):
    """The incremental stateful pipeline must produce byte-identical rows
    to the batch pipeline (quantized window sums, same fold order)."""
    from strategy_analyzer_exporter_spark.streaming import BAR_SCHEMA, run_stream_to_memory

    stage = os.path.join(TMP, "bars_stream_test")
    bars = bars_df(spark, SF).select([f.name for f in BAR_SCHEMA.fields])
    bars.write.mode("overwrite").partitionBy("day").parquet(stage)
    got = _norm(run_stream_to_memory(spark, stage, query_name="t_stream").toPandas())
    want = _norm(features_df(spark, SF, TESTDATA_CONFIG).toPandas())
    assert len(got) == len(want) > 0
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f":
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
        else:
            assert (a == b).all(), c


def test_single_batch_equals_default(spark, monkeypatch):
    """The bench's single-batch trigger config (SPARK_GRAFT_STREAM_MFPT
    high) must be bit-equal to the default multi-batch config — batch
    granularity is a throughput knob, never a semantics knob."""
    from strategy_analyzer_exporter_spark.operators.extra_queries import _q_streaming

    monkeypatch.setenv("SPARK_GRAFT_STREAM_MFPT", "64")
    one = _norm(_q_streaming(spark, SF).toPandas())
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MFPT", "2")
    many = _norm(_q_streaming(spark, SF).toPandas())
    assert len(one) == len(many) > 0
    for c in many.columns:
        a, b = one[c].to_numpy(), many[c].to_numpy()
        if a.dtype.kind == "f":
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
        else:
            assert (a == b).all(), c


def test_state_partitions_is_not_a_semantics_knob(spark, monkeypatch):
    """state_partitions (r05 throughput knob: state-store commit +
    Python round-trip cost per partition per batch) must be bit-equal
    across settings — keys hash to different partitions, every key's
    state machine is untouched."""
    from strategy_analyzer_exporter_spark.operators.extra_queries import _q_streaming

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "16")
    a = _norm(_q_streaming(spark, SF).toPandas())
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "5")
    b = _norm(_q_streaming(spark, SF).toPandas())
    assert len(a) == len(b) > 0
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), c
        else:
            assert (x == y).all(), c


def test_tws_engine_bit_equals_apply(spark):
    """The transformWithStateInPandas engine (VERDICT r07 #5) must be
    bit-equal to applyInPandasWithState — same updater behind a
    GroupState-shaped ValueState adapter, so any divergence is a state
    machinery bug. Skipped (with the gate's own message) where the TWS
    Python runtime dependency (google.protobuf) is absent — the gate
    itself is still exercised by test_tws_engine_gate_is_loud."""
    from strategy_analyzer_exporter_spark.streaming import (
        BAR_SCHEMA,
        run_stream_to_memory,
        tws_runtime_available,
    )

    if not tws_runtime_available():
        pytest.skip("google.protobuf absent: TWS runtime unavailable here")
    stage = os.path.join(TMP, "bars_stream_test_tws")
    bars = bars_df(spark, SF).select([f.name for f in BAR_SCHEMA.fields])
    bars.write.mode("overwrite").partitionBy("day").parquet(stage)
    a = _norm(
        run_stream_to_memory(
            spark, stage, query_name="t_tws_a", max_files_per_trigger=2
        ).toPandas()
    )
    b = _norm(
        run_stream_to_memory(
            spark, stage, query_name="t_tws_b", max_files_per_trigger=2,
            engine="tws",
        ).toPandas()
    )
    assert len(a) == len(b) > 0
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), c
        else:
            assert (x == y).all(), c


def test_tws_engine_gate_is_loud(spark):
    """Without google.protobuf, engine='tws' must fail FAST with the
    actionable gate message — never a mid-stream Python worker crash
    (the failure mode the gate replaces)."""
    from strategy_analyzer_exporter_spark.streaming import (
        BAR_SCHEMA,
        run_stream_to_memory,
        tws_runtime_available,
    )

    if tws_runtime_available():
        pytest.skip("protobuf present: gate path not reachable")
    stage = os.path.join(TMP, "bars_stream_test_tws_gate")
    bars = bars_df(spark, SF).select([f.name for f in BAR_SCHEMA.fields])
    bars.write.mode("overwrite").partitionBy("day").parquet(stage)
    with pytest.raises(RuntimeError, match="google.protobuf"):
        run_stream_to_memory(
            spark, stage, query_name="t_tws_gate", engine="tws"
        )


def test_streaming_updater_cross_batch_state(spark):
    """Feeding a day's bars in two chunks must equal feeding them at once
    (state carries the circular buffers across micro-batches)."""
    import pandas as pd

    from strategy_analyzer_exporter_spark.streaming import make_feature_updater

    class FakeState:
        def __init__(self):
            self._v, self.exists = None, False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v, self.exists = v, True

    rows = [
        {"time": 90000 + i * 100, "open": 100.0 + i, "high": 101.0 + i,
         "low": 99.0 + i, "close": 100.5 + i, "volume": 10.0}
        for i in range(30)
    ]
    upd = make_feature_updater(TESTDATA_CONFIG)

    def run(chunks):
        st = FakeState()
        out = []
        for ch in chunks:
            out += list(upd((20240101,), [pd.DataFrame(ch)], st))
        return pd.concat(out).reset_index(drop=True)

    once = run([rows])
    # 13: restore before the window fills; 25: restore a full window
    # (21 values) that evicts on its first push
    for chunks in ([rows[:13], rows[13:]], [rows[:13], rows[13:25], rows[25:]]):
        assert once.equals(run(chunks))
    assert len(once) == 11  # 30 rows, warm-up 20 → rows 20..30


def test_streaming_export_lag_one_bar(spark):
    """export_lag_bars=1 (the reference's bar-[1] export,
    StrategyAnalyzerExporter.cs:207-215): streamed rows equal the batch
    pipeline minus each day's LAST row (held in state forever — its
    triggering next bar never closes), byte-identically."""
    import dataclasses

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from strategy_analyzer_exporter_spark.streaming import (
        BAR_SCHEMA,
        run_stream_to_memory,
    )

    cfg = dataclasses.replace(TESTDATA_CONFIG, export_lag_bars=1)
    stage = os.path.join(TMP, "bars_stream_lag_test")
    bars = bars_df(spark, SF).select([f.name for f in BAR_SCHEMA.fields])
    bars.write.mode("overwrite").partitionBy("day").parquet(stage)
    got = _norm(
        run_stream_to_memory(spark, stage, cfg, query_name="t_stream_lag").toPandas()
    )

    w = Window.partitionBy("day").orderBy(F.col("time").desc())
    want_df = features_df(spark, SF, TESTDATA_CONFIG)
    want = _norm(
        want_df.withColumn("_rev", F.row_number().over(w))
        .filter(F.col("_rev") > 1)
        .drop("_rev")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f":
            assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), c
        else:
            assert (a == b).all(), c


def test_write_parquet_roundtrip(spark):
    path = os.path.join(TMP, "feat_export")
    df = features_df(spark, SF, TESTDATA_CONFIG)
    write_parquet(df, path, use_float32=True, partition_by=("day",))
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # partition pruning: day filter must prune files, not scan all
    plan = back.filter("day = 20240102")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan


def test_export_to_duckdb(spark, tmp_path):
    import duckdb

    df = features_df(spark, SF, TESTDATA_CONFIG)
    db = str(tmp_path / "out.duckdb")
    n = export_to_duckdb(df, db, "features", os.path.join(TMP, "duck_stage"))
    assert n == df.count()
    con = duckdb.connect(db)
    cols = [r[0] for r in con.execute("DESCRIBE features").fetchall()]
    assert cols == sorted(cols)  # alphabetical discipline survives
    types = {r[0]: r[1] for r in con.execute("DESCRIBE features").fetchall()}
    assert types["close"] == "FLOAT" or types["close"] == "REAL"
    con.close()


def test_foreach_batch_duckdb_sink(spark, tmp_path):
    """Streaming features → foreachBatch → DuckDB: per-epoch transactions
    with the reference's checkpoint cadence (S6/S7)."""
    import duckdb

    from strategy_analyzer_exporter_spark.streaming import (
        BAR_SCHEMA,
        foreach_batch_duckdb_sink,
        stream_features,
    )

    stage = os.path.join(TMP, "fb_bars_test")
    bars_df(spark, SF).select([f.name for f in BAR_SCHEMA.fields]).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(stage)
    db = str(tmp_path / "stream.duckdb")
    stream = spark.readStream.schema(BAR_SCHEMA).option("maxFilesPerTrigger", 5).parquet(stage)
    q = (
        stream_features(stream)
        .writeStream.foreachBatch(foreach_batch_duckdb_sink(db, "features"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    con = duckdb.connect(db)
    n = con.execute("SELECT count(*) FROM features").fetchone()[0]
    con.close()
    assert n == features_df(spark, SF, TESTDATA_CONFIG).count()


def test_foreach_batch_commit_cadence(spark, tmp_path):
    """The sink must honor the reference writer's commit knobs
    (DatabaseWriter.cs:396-414): row-count cadence splits an epoch into
    multiple transactions; the time cadence commits long-open
    transactions; the epoch tail always commits."""
    import duckdb
    import pandas as pd

    from strategy_analyzer_exporter_spark.sinks import CommitPolicy
    from strategy_analyzer_exporter_spark.streaming import foreach_batch_duckdb_sink

    pdf = pd.DataFrame({"v": list(range(35))})
    sdf = spark.createDataFrame(pdf)

    # row cadence: 35 rows / commit_every_rows=10 → 3 full + 1 tail commit
    db = str(tmp_path / "cadence.duckdb")
    sink = foreach_batch_duckdb_sink(
        db, "t", CommitPolicy(commit_every_rows=10, max_tx_duration_s=3600)
    )
    sink(sdf, 0)
    assert sink.stats["commits"] == 4
    assert sink.stats["rows"] == 35
    assert sink.stats["epochs"] == 1

    # time cadence: commit_every_rows huge but max_tx_duration_s=0 →
    # every slice (forced to 1 row via insert_slice) commits on time
    db2 = str(tmp_path / "cadence2.duckdb")
    sink2 = foreach_batch_duckdb_sink(
        db2,
        "t",
        CommitPolicy(commit_every_rows=10_000, max_tx_duration_s=0),
        insert_slice=7,
    )
    sink2(sdf, 0)
    assert sink2.stats["commits"] == 5  # ceil(35/7) time-triggered commits
    assert sink2.stats["rows"] == 35

    # rows land exactly once regardless of cadence
    for d in (db, db2):
        con = duckdb.connect(d)
        got = con.execute('SELECT count(*), sum("v") FROM t').fetchone()
        con.close()
        assert got == (35, sum(range(35)))


def test_streaming_windowed_counts_matches_batch(spark):
    from strategy_analyzer_exporter_spark.streaming import run_windowed_counts_to_memory

    got = run_windowed_counts_to_memory(spark, SF, query_name="t_counts")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    import pyspark.sql.functions as F

    from strategy_analyzer_exporter_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    want = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).count()
    assert got.count() == want.count()
    assert (
        got.join(
            want,
            ["window_start", "event_type"],
        )
        .filter(F.col("n_events") != F.col("count"))
        .count()
        == 0
    )


def test_schema_to_ddl(spark):
    df = features_df(spark, SF, TESTDATA_CONFIG)
    ddl = spark_schema_to_duckdb_ddl(df.schema, "features")
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "features"')
    assert '"close" REAL' in ddl and '"day" INTEGER' in ddl


def test_stage_days_ordered_forces_chronological_mtimes(spark, tmp_path):
    """The staged replay contract (ADVICE r03 medium): one directory per
    day, and file mtimes strictly increasing in day order, so a
    maxFilesPerTrigger=1 stream can never advance its watermark past
    unprocessed older days."""
    import pyspark.sql.functions as F

    from strategy_analyzer_exporter_spark.sources.staging import (
        stage_days_ordered,
    )
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", F.to_date("ts").alias("day")
    )
    stage = str(tmp_path / "days")
    stage_days_ordered(ev, stage)
    day_dirs = sorted(d for d in os.listdir(stage) if d.startswith("day_"))
    assert len(day_dirs) >= 2
    prev = None
    for d in day_dirs:
        files = [
            os.path.join(stage, d, f)
            for f in os.listdir(os.path.join(stage, d))
            if not f.startswith("_") and not f.startswith(".")
        ]
        assert files, d
        mt = max(os.path.getmtime(f) for f in files)
        if prev is not None:
            assert mt > prev, (d, mt, prev)
        prev = mt
    # idempotent: the flag blocks a restage on the second call
    assert os.path.exists(os.path.join(stage, "_STAGED_OK"))
    stage_days_ordered(ev, stage)
