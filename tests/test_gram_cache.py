"""The gram-relation cache must not accrue persisted RDDs across
repeated dedup-query invocations (round-1 leak: one new persisted
relation per call), and summaries.clear() must release everything it
holds."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_gram_cache_bounded_and_clearable(spark):
    from strategy_analyzer_exporter_spark import summaries
    from strategy_analyzer_exporter_spark.operators import dedup

    summaries.clear()
    base = _n_persistent(spark)

    for _ in range(3):
        dedup._q_dedup_minhash(spark, SF).count()
    # three invocations share ONE cached gram relation + ONE cached
    # signature relation (k=3)
    assert _n_persistent(spark) <= base + 2

    dedup._q_dedup_ngram(spark, SF).count()  # adds the k=5 gram relation
    assert _n_persistent(spark) <= base + 3

    summaries.clear()
    assert _n_persistent(spark) <= base


def test_clear_gram_cache_normalizes_paths(spark):
    """Clearing by a RELATIVE spelling of the cached absolute path must
    still release the persisted relations (keys and the filter both
    normalize via os.path.abspath)."""
    import os

    from strategy_analyzer_exporter_spark import summaries
    from strategy_analyzer_exporter_spark.operators import dedup

    summaries.clear()
    base = _n_persistent(spark)
    dedup._gram_rows(spark, SF).count()
    assert _n_persistent(spark) == base + 1

    rel = os.path.relpath(SF, os.getcwd())
    assert rel != os.path.abspath(SF)
    summaries.clear(rel)
    assert _n_persistent(spark) == base
