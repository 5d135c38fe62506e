"""Overlapping-band recall for fuzzy Levenshtein dedup.

A near-identical pair straddling a length-band boundary (99 vs 101
chars around the 100-char edge) is invisible to single-band blocking
(floor(99/100)=0 vs floor(101/100)=1) but MUST be found by the
two-grid overlapping scheme: both docs land in grid-1 band 1
(floor((len+50)/100)). Also asserts the pair-dedupe: docs colliding on
both grids yield exactly one candidate row.
"""

from __future__ import annotations

import pandas as pd
import pytest

from strategy_analyzer_exporter_spark.operators.dedup import (
    LEV_BAND,
    _q_dedup_fuzzy,
)


@pytest.fixture(scope="module")
def fuzzy_dir(tmp_path_factory):
    base = "x" * 95  # shared prefix, identical within LEV_PREFIX
    rows = [
        # straddling pair: 99 vs 101 chars — different primary bands
        {"doc_id": 1, "lang": "en", "text": base + "abcd"},  # 99
        {"doc_id": 2, "lang": "en", "text": base + "abcdef"},  # 101
        # same-band pair (both 120 chars): collides on BOTH grids
        {"doc_id": 3, "lang": "en", "text": base + "y" * 25},  # 120
        {"doc_id": 4, "lang": "en", "text": base + "z" * 25},  # 120
        # far-away doc: no candidate with anyone
        {"doc_id": 5, "lang": "en", "text": "q" * 400},
    ]
    for r in rows:
        r["source"] = "t"
        r["n_chars"] = len(r["text"])
    d = tmp_path_factory.mktemp("fuzzy")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    return str(d)


def test_straddling_pair_found(spark, fuzzy_dir):
    assert len("x" * 95 + "abcd") == LEV_BAND - 1  # sanity: 99 vs 101
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in _q_dedup_fuzzy(spark, fuzzy_dir).collect()
    }
    # the boundary pair the single-band scheme misses
    assert (1, 2) in got and got[(1, 2)] <= 5
    # ordinary same-band pair still found, exactly once despite
    # colliding on both grids
    assert (3, 4) in got
    rows = _q_dedup_fuzzy(spark, fuzzy_dir).collect()
    keys = [(r.doc_a, r.doc_b) for r in rows]
    assert len(keys) == len(set(keys)), "pair dedupe failed"
    # the outlier matches nothing
    assert not any(5 in k for k in keys)


def test_incremental_dedup_equals_full_pairs_cross_side(spark):
    """dedup_incremental_minhash (batch-vs-corpus band join) must find
    EXACTLY the full self-join query's verified pairs that straddle the
    corpus/batch split — same signatures, same bands, same verify, so
    the only difference is which pairs are candidates at all."""
    from strategy_analyzer_exporter_spark.operators.dedup import (
        BATCH_MOD,
        _q_dedup_incremental,
        _q_dedup_minhash,
    )

    sf = "/root/testdata/sf0.01"
    full = {
        (a, b) if a % BATCH_MOD != 0 else (b, a)
        for a, b, _ in _q_dedup_minhash(spark, sf).collect()
        if (a % BATCH_MOD == 0) != (b % BATCH_MOD == 0)
    }
    incr = {
        (c, bt) for c, bt, _ in _q_dedup_incremental(spark, sf).collect()
    }
    assert incr == full and len(incr) > 0


def test_simhash_int_keys_equal_bits_twin(spark):
    """The registered integer-band-key SimHash must produce EXACTLY the
    pairs+hamming of its bits twin, the oracle, on the real corpora.
    The oracle bands and verifies the '0'/'1' fingerprint string; the
    int key k_b is the base-2 reading of that string's band substring
    by construction, so any divergence is a bug in the bit packing."""
    from oracle_harness import compare

    from strategy_analyzer_exporter_spark.operators.dedup import (
        _q_dedup_simhash,
    )
    from strategy_analyzer_exporter_spark.registry import ORACLES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        df = _q_dedup_simhash(spark, sf)
        assert df.count() > 0, sf
        r = compare(df, ORACLES["dedup_simhash"], sf_dir=sf)
        assert r["ok"], (sf, r["detail"])
