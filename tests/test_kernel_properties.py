"""Property tests for the round-3 kernels.

- PPM roundtrip: make→parse is the identity over the whole fixture
  id space (hypothesis-driven), and parsing is total (never raises) on
  arbitrary byte prefixes of valid files.
- Column-wise numpy left fold == Python scalar left fold, bit-exact,
  for arbitrary float inputs — the identity the numpy kernels rest on.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from strategy_analyzer_exporter_spark.functions import vector
from strategy_analyzer_exporter_spark.operators.multimodal import make_ppm, parse_ppm


@given(st.integers(min_value=0, max_value=10**12))
@settings(max_examples=200, deadline=None)
def test_ppm_roundtrip_property(doc_id):
    w, h, raster = parse_ppm(make_ppm(doc_id))
    assert (w, h) == (4 + doc_id % 5, 3 + doc_id % 4)
    assert len(raster) == w * h * 3


@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=200))
@settings(max_examples=100, deadline=None)
def test_ppm_parse_total_on_truncation(doc_id, cut):
    b = make_ppm(doc_id)
    out = parse_ppm(b[: min(cut, len(b))])
    assert out is None or out == parse_ppm(b)


@given(
    st.lists(
        st.floats(
            min_value=-1e300, max_value=1e300, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_fold_sum_matches_scalar_left_fold(xs):
    arr = np.asarray([xs], dtype=np.float64)
    got = vector.fold_sum(arr)[0]
    acc = 0.0
    for x in xs:
        acc = acc + x
    assert got == acc or (math.isnan(got) and math.isnan(acc))


# ---------------------------------------------------------------------------
# r05: the O(n) incremental finance grouped-maps vs straight-from-the-
# formula prefix folds (the DuckDB oracle semantics), on arbitrary
# series — the fixture-corpus bit-equality tests in test_oracle_parity
# only cover the shapes the corpus happens to produce.

_PRICES = st.lists(
    st.floats(min_value=0.01, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=0,
    max_size=60,
)


def _bars_pdf(closes, with_hl=False):
    import pandas as pd

    n = len(closes)
    d = {
        "day": pd.Series([20260101] * n, dtype="int32"),
        "time": pd.Series(range(90000, 90000 + n), dtype="int32"),
        "close": pd.Series(closes, dtype="float64"),
    }
    if with_hl:
        # deterministic spread around close — exercises every TR branch
        d["high"] = pd.Series([c + 0.37 for c in closes], dtype="float64")
        d["low"] = pd.Series([c - 0.21 for c in closes], dtype="float64")
    return pd.DataFrame(d)


def _wilder_fold(xs):
    acc = xs[0]
    for x in xs[1:]:
        acc = acc + (x - acc) / 14.0
    return acc


def _ema_prefix_fold(xs, span):
    a = 2.0 / (span + 1.0)
    acc = xs[0]
    for x in xs[1:]:
        acc = acc + a * (x - acc)
    return acc


@given(_PRICES)
@settings(max_examples=150, deadline=None)
def test_rsi_incremental_matches_prefix_fold(closes):
    from strategy_analyzer_exporter_spark.operators import finance

    out = finance._rsi_day(_bars_pdf(closes))
    gains, losses = [], []
    for i in range(1, len(closes)):
        delta = closes[i] - closes[i - 1]
        gains.append(delta if delta > 0.0 else 0.0)
        losses.append(-delta if delta < 0.0 else 0.0)
    expected = []
    for i in range(len(gains)):
        if i + 1 < finance.RSI_N:
            continue
        ag, al = _wilder_fold(gains[: i + 1]), _wilder_fold(losses[: i + 1])
        expected.append(
            100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
        )
    assert out["rsi14"].tolist() == expected


@given(_PRICES)
@settings(max_examples=150, deadline=None)
def test_atr_incremental_matches_prefix_fold(closes):
    from strategy_analyzer_exporter_spark.operators import finance

    out = finance._atr_day(_bars_pdf(closes, with_hl=True))
    trs = []
    for i, c in enumerate(closes):
        h, lo = c + 0.37, c - 0.21
        if i == 0:
            trs.append(h - lo)
        else:
            pc = closes[i - 1]
            trs.append(max(h - lo, abs(h - pc), abs(lo - pc)))
    expected = [
        _wilder_fold(trs[: i + 1])
        for i in range(len(trs))
        if i + 1 >= finance.RSI_N
    ]
    assert out["atr14"].tolist() == expected


@given(_PRICES)
@settings(max_examples=150, deadline=None)
def test_macd_incremental_matches_prefix_fold(closes):
    from strategy_analyzer_exporter_spark.operators import finance

    out = finance._macd_day(_bars_pdf(closes))
    macds = [
        _ema_prefix_fold(closes[: i + 1], finance.MACD_FAST)
        - _ema_prefix_fold(closes[: i + 1], finance.MACD_SLOW)
        for i in range(len(closes))
    ]
    exp_macd, exp_sig = [], []
    for i in range(len(closes)):
        if i + 1 < finance.MACD_SLOW:
            continue
        exp_macd.append(macds[i])
        exp_sig.append(_ema_prefix_fold(macds[: i + 1], finance.MACD_SIG))
    assert out["macd"].tolist() == exp_macd
    assert out["signal"].tolist() == exp_sig
    assert out["histogram"].tolist() == [m - s for m, s in zip(exp_macd, exp_sig)]
