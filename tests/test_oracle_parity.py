"""Driver-contract parity: every registered query vs its DuckDB oracle
at sf0.001 (the full sf0.01 gate is the driver's job; this keeps the
suite fast while catching regressions in both implementations)."""

import pytest

import __spark_entry__ as E
from oracle_harness import compare

SF = "/root/testdata/sf0.001"

QUERIES = E.queries()
ORACLES = E.oracle_sql()


# The only registered callables taking parameters beyond (spark, sf_dir).
# A new selector parameter on a registered query is a second
# implementation hiding behind the registered one: keep one shape per
# operator and delete the one that lost its measurement.
EXTRA_PARAMS_ALLOWLIST = {
    "kmeans_embeddings": ("k", "hint_cents"),
    "similarity_pq_adc": ("mode",),
    "text_bpe_merges": ("n_merges",),
    "text_bpe_encode": ("n_merges",),
    "text_bpe_tokenize_docs": ("n_merges",),
}


def test_every_query_has_callable():
    import inspect

    assert len(QUERIES) >= 40
    # r04: every registered query carries a full value oracle
    assert set(QUERIES) == set(ORACLES)
    extra = {}
    for name, fn in QUERIES.items():
        params = tuple(inspect.signature(fn).parameters)
        assert params[:2] == ("spark", "sf_dir"), (name, params)
        if params[2:]:
            extra[name] = params[2:]
    assert extra == EXTRA_PARAMS_ALLOWLIST


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF)
    if name not in ORACLES:
        assert df.count() >= 0
        return
    r = compare(df, ORACLES[name], sf_dir=SF)
    assert r["ok"], f"{name}: {r['detail']}"


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize(
    "primary,fold",
    [
        ("bars_rsi", "bars_rsi_fold"),
        ("bars_atr", "bars_atr_fold"),
        ("bars_macd", "bars_macd_fold"),
    ],
)
def test_finance_incremental_bit_equals_fold(spark, primary, fold):
    """The O(n) incremental grouped-map and the O(n²) prefix-fold twin
    execute the same pinned float64 op sequence — every cell must agree
    bit-for-bit (the with_ema / with_ema_fold contract, extended to the
    Wilder/MACD family)."""
    a = sorted(map(tuple, QUERIES[primary](spark, SF).collect()))
    b = sorted(map(tuple, QUERIES[fold](spark, SF).collect()))
    assert len(a) == len(b) and a == b
