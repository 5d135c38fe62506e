"""Streaming ingest into the at-rest dedup index (r11): exactly-once
epoch appends under micro-batch re-delivery — duplicate deliveries
skip, a writer's own torn attempt is cleaned and retried, anyone
else's tear still refuses, and the streamed index answers the batch
lifecycle's oracle byte-for-byte."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.operators.dedup import (
    _idx_dirs,
    _stream_pred,
    dedup_index_append_idempotent,
    dedup_index_tables,
    run_stream_index_ingest,
)
from strategy_analyzer_exporter_spark.sources import epochs

SF = "/root/testdata/sf0.001"
PRED = _stream_pred(0)


def _fresh_fork(spark, name: str):
    """A clean base-only fork: any leftover chain from a previous test
    run fails the no-appends expectation and rebuilds."""
    tables = dedup_index_tables(spark, SF, name_extra=name)
    ok, preds = epochs.chain_state(_idx_dirs(tables))
    assert ok and preds == []
    return tables


def _counts(spark, tables):
    return tuple(spark.table(t).count() for t in tables)


def test_duplicate_delivery_is_skipped(spark):
    tables = _fresh_fork(spark, "idem")
    assert dedup_index_append_idempotent(spark, SF, tables, PRED) == "committed"
    after_first = _counts(spark, tables)
    # the re-delivered batch: same identity predicate — must not
    # double-append a single row
    assert dedup_index_append_idempotent(spark, SF, tables, PRED) == "skipped"
    assert _counts(spark, tables) == after_first
    ok, preds = epochs.chain_state(_idx_dirs(tables))
    assert ok and preds == [PRED]


def test_own_tear_is_recovered_and_retried(spark):
    tables = _fresh_fork(spark, "tear")
    dirs = _idx_dirs(tables)
    # simulate the crashed first attempt: PENDING down, one partial
    # data file written into the gram dir, no commit
    epochs.begin_epoch(dirs, 1, PRED)
    src = next(
        os.path.join(dirs[0], f)
        for f in os.listdir(dirs[0])
        if not f.startswith(("_", "."))
    )
    shutil.copy(src, os.path.join(dirs[0], "part-torn.c000.snappy.parquet"))
    ok, _ = epochs.chain_state(dirs)
    assert not ok  # the tear poisons validation, as designed
    # the engine re-delivers the batch: recovery + clean append
    assert dedup_index_append_idempotent(spark, SF, tables, PRED) == "recovered"
    ok, preds = epochs.chain_state(dirs)
    assert ok and preds == [PRED]
    assert not os.path.exists(
        os.path.join(dirs[0], "part-torn.c000.snappy.parquet")
    )
    # content equals a never-torn append's
    clean = _fresh_fork(spark, "tearref")
    assert dedup_index_append_idempotent(spark, SF, clean, PRED) == "committed"
    assert _counts(spark, tables) == _counts(spark, clean)


def test_foreign_tear_is_refused(spark):
    tables = _fresh_fork(spark, "foreign")
    dirs = _idx_dirs(tables)
    epochs.begin_epoch(dirs, 1, _stream_pred(1))  # someone else's batch
    with pytest.raises(RuntimeError, match="someone else's tear"):
        dedup_index_append_idempotent(spark, SF, tables, PRED)
    # the layout stays poisoned for this writer — rebuild is the out
    ok, _ = epochs.chain_state(dirs)
    assert not ok


def test_streamed_index_equals_batch_lifecycle_output(spark):
    """The stream is an ingest-path refactor: the probe over the
    streamed index must equal the registered batch-lifecycle query's
    output row-for-row (same appended split, 3 epochs instead of 1)."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    streamed = sorted(
        tuple(r)
        for r in QUERIES["streaming_dedup_index_ingest"](spark, SF).collect()
    )
    batch = sorted(
        tuple(r) for r in QUERIES["dedup_index_lifecycle"](spark, SF).collect()
    )
    assert streamed == batch
    assert len(streamed) > 0  # non-vacuous


def test_stream_rerun_is_idempotent_per_session(spark):
    """Running the stream twice over the same staged files commits
    nothing new: every batch's predicate is already in the chain."""
    from strategy_analyzer_exporter_spark import summaries

    tables = summaries.get(
        "stream_index", spark, SF
    ) or dedup_index_tables(spark, SF, name_extra="stream")
    ok, preds_before = epochs.chain_state(_idx_dirs(tables))
    if not (ok and len(preds_before) == 3):
        pytest.skip("stream fork not populated in this session")
    before = _counts(spark, tables)
    run_stream_index_ingest(spark, SF, tables)
    assert _counts(spark, tables) == before
    ok, preds = epochs.chain_state(_idx_dirs(tables))
    assert ok and preds == preds_before


def test_stream_stage_restages_on_fingerprint_mismatch(spark):
    """ADVICE r11: _STAGED_OK carries a corpus+derivation fingerprint —
    a stale or fingerprint-less flag (e.g. regenerated corpus at the
    same path, or a pre-r12 stage) restages instead of silently
    reusing the old batch files."""
    from strategy_analyzer_exporter_spark.operators.dedup import (
        _stream_docs_stage,
    )

    stage = _stream_docs_stage(spark, SF)
    flag = os.path.join(stage, "_STAGED_OK")
    with open(flag) as f:
        fp = f.read().strip()
    assert fp  # the flag is a fingerprint, not an empty touch-file
    # valid flag → reuse: the batch files' mtimes survive
    mt = os.stat(os.path.join(stage, "batch_0000")).st_mtime
    assert _stream_docs_stage(spark, SF) == stage
    assert os.stat(os.path.join(stage, "batch_0000")).st_mtime == mt
    # stale fingerprint → full restage, fresh flag
    with open(flag, "w") as f:
        f.write("stale")
    assert _stream_docs_stage(spark, SF) == stage
    with open(flag) as f:
        assert f.read().strip() == fp
