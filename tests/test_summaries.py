"""The summary memo's key, bound and release rules (Spark-free, with
stub sessions and DataFrames), and "a memo hit persists nothing" over
the LLM-corpus queries."""

from __future__ import annotations

import gc
import os
from types import SimpleNamespace

import pytest

from strategy_analyzer_exporter_spark import summaries


class _Frame:
    """Stands in for a DataFrame: records its unpersist calls."""

    def __init__(self) -> None:
        self.unpersisted = 0

    def unpersist(self) -> None:
        self.unpersisted += 1


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def memo(monkeypatch):
    """An empty memo for the test; the shared one is left untouched."""
    monkeypatch.setattr(summaries, "_entries", {})
    return summaries


def test_two_sessions_get_two_entries(memo):
    built = []
    for app in ("app-1", "app-2", "app-1"):
        s = _session(app)
        memo.get_or_build("grams", s, "/corpus", (3,), lambda: built.append(app) or app)
    assert built == ["app-1", "app-2"]
    assert memo.get("grams", _session("app-2"), "/corpus", (3,)) == "app-2"


def test_relative_and_absolute_paths_share_one_entry(memo, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    s = _session("app")
    first = memo.get_or_build("sigs", s, str(tmp_path / "c"), (3,), _Frame)
    assert memo.get_or_build("sigs", s, "c", (3,), _Frame) is first
    assert memo.get_or_build("sigs", s, "./c/../c", (3,), _Frame) is first


def test_fifth_insert_evicts_and_unpersists_the_first(memo):
    s = _session("app")
    frames = [
        memo.get_or_build("grams", s, "/corpus", (k,), _Frame) for k in range(5)
    ]
    assert [f.unpersisted for f in frames] == [1, 0, 0, 0, 0]
    assert memo.get("grams", s, "/corpus", (0,)) is None
    assert memo.get("grams", s, "/corpus", (4,)) is frames[4]
    # the bound is per kind: another kind's entries are untouched
    other = memo.get_or_build("sigs", s, "/corpus", (0,), _Frame)
    assert other.unpersisted == 0 and frames[1].unpersisted == 0


def test_clear_releases_one_corpus_of_every_kind(memo, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    s = _session("app")
    grams = memo.get_or_build("grams", s, "/a", (3,), _Frame)
    codes, cbs = memo.get_or_build(
        "pq_index", s, "/a", ("arrow",), lambda: (_Frame(), [_Frame(), _Frame()])
    )
    tables = memo.get_or_build("stream_index", s, "/a", (), lambda: ("g", "b", "s"))
    kept = memo.get_or_build("grams", s, "/b", (3,), _Frame)

    memo.clear(os.path.relpath("/a"))

    assert grams.unpersisted == 1 and codes.unpersisted == 1
    assert [f.unpersisted for f in cbs] == [1, 1]
    assert memo.get("grams", s, "/a", (3,)) is None
    assert memo.get("pq_index", s, "/a", ("arrow",)) is None
    assert memo.get("stream_index", s, "/a") is None
    assert tables == ("g", "b", "s")
    assert memo.get("grams", s, "/b", (3,)) is kept and kept.unpersisted == 0


def test_release_of_a_stopped_sessions_frame_does_not_raise(memo):
    """A stopped session's unpersist fails on the JVM side; its blocks
    are gone already, so clearing its entries must still succeed."""
    from py4j.protocol import Py4JJavaError

    class _DeadFrame(_Frame):
        def unpersist(self) -> None:
            raise Py4JJavaError(
                "unpersist on a stopped session", SimpleNamespace(_target_id="o1")
            )

    s = _session("stopped-app")
    memo.get_or_build("grams", s, "/a", (3,), _DeadFrame)
    memo.clear()
    assert memo.get("grams", s, "/a", (3,)) is None


def test_memo_hit_persists_nothing(spark):
    """The second call of each LLM-corpus query reuses the first call's
    summaries and persists no new RDD. (The set may shrink: the
    two-level k-means build leaves per-round centroid checkpoints that
    Spark's context cleaner drops whenever a later GC finds them.)"""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    queries = (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "text_repetition_signals",
        "text_paragraph_dedup",
        "similarity_pq_adc",
        "dedup_semdedup",
    )

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def one_pass() -> None:
        for q in queries:
            QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()

    one_pass()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    before = persisted()
    one_pass()
    assert persisted() <= before
