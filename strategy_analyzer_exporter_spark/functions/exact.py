"""Bit-exact Python implementations of the bars derivation and the
windowed feature math, shared by the batch export kernel and the
full-EMA query (operators/features.py) and by the streaming state
operator (streaming/): all three run :class:`DayStep` over :class:`Win`.

Every function reproduces the double op sequence of its DuckDB oracle:
:func:`day_bars` mirrors ``bars_df``/``BARS_CTE``; the window sums
mirror the DECIMAL(38,12) frame sums of ``_features_tail_sql`` —
per-term quantization to 12 decimals (:func:`q12` says where it can
differ in the last digit), exact integer sums, ONE correctly-rounded
conversion back to double, then the same expression order. See README
"Correctness model".
"""

from __future__ import annotations

import math
from collections import deque
from collections.abc import Iterable
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TOL = 1e-6

_Q12 = Decimal("1e-12")


_P12 = 10**12


def q12(x: float) -> int:
    """double → DECIMAL(38,12) as a scaled exact integer: the exact
    binary value rounded HALF_UP. Neither engine's cast does exactly
    this (Spark rounds the shortest decimal string, DuckDB x·10¹²
    computed in double); per term they can differ in the last digit,
    and the window sums almost always round back to the same double.

    Implemented with exact integer arithmetic: a double is exactly n/d
    (d a power of two, float.as_integer_ratio), and HALF_UP rounding of
    n·10¹²/d is floor((2·n·10¹² + d) / (2d)) for n ≥ 0, mirrored for
    negatives (HALF_UP ties round away from zero). ~4× faster than
    Decimal.quantize and bit-identical (property-tested against it in
    tests/test_features_pipeline.py)."""
    n, d = x.as_integer_ratio()
    if n >= 0:
        return (2 * n * _P12 + d) // (2 * d)
    return -((-2 * n * _P12 + d) // (2 * d))


def q12_decimal(x: float) -> int:
    """Reference implementation of :func:`q12` via Decimal (kept for the
    equivalence property test)."""
    return int(Decimal(x).quantize(_Q12, rounding=ROUND_HALF_UP).scaleb(12))


def d12(i: int) -> float:
    """scaled-int decimal → double, one correctly-rounded conversion
    (the oracle's decimal→string→double). CPython's int/int true
    division is correctly rounded, so this equals
    ``float(Decimal(i).scaleb(-12))`` for every |i| < 10²⁸ (the Decimal
    context's 28 digits) at a fifth of the cost; property-tested in
    tests/test_features_pipeline.py."""
    return i / _P12


def day_bars(
    time: np.ndarray, event_id: np.ndarray, close: np.ndarray
) -> tuple[np.ndarray, ...]:
    """One day's bars from its raw events: the numpy mirror of
    ``bars_df`` / ``BARS_CTE`` (sources/bars.py), bit-identical.

    A stable sort by (time, event_id) keeps each time's first row (the
    lowest event_id); open is the previous bar's close, the day's first
    bar opening at its own close; high/low/volume follow the CTE's
    operation order, with ``np.fmod`` for the engines' sign-of-dividend
    ``%``. Inputs are one day's null-free columns (the events corpus has
    no nulls). Returns (time, event_id, open, high, low, close, volume)
    sorted by time."""
    order = np.lexsort((event_id, time))
    time, event_id, close = time[order], event_id[order], close[order]
    first = np.ones(len(time), dtype=bool)
    first[1:] = time[1:] != time[:-1]
    time, event_id, close = time[first], event_id[first], close[first]
    prev = np.concatenate((close[:1], close[:-1]))
    high = np.maximum(prev, close) + np.fmod(event_id, 5).astype(np.float64) * 0.01
    low = np.minimum(prev, close) - np.fmod(event_id, 3).astype(np.float64) * 0.01
    volume = (1 + np.fmod(event_id, 1000)).astype(np.float64)
    return time, event_id, prev, high, low, close, volume


def loc_value(anchor: float, high: float, low: float) -> float:
    """W6/W7 location value (Price.cs:24-38 semantics)."""
    rng = high - low
    if abs(rng) < TOL:
        return 0.0
    return (2.0 * anchor - high - low) / rng


def ma_distance(close: float, ma: float) -> float:
    """W3 MA distance with NaN/Inf + tolerance guards
    (MovingAverage.cs:35-48 semantics)."""
    if math.isnan(close) or math.isinf(close) or math.isnan(ma) or math.isinf(ma):
        return 0.0
    if abs(ma) < TOL:
        return 0.0
    return (close - ma) / ma * 100.0


def autocorr_windowed(win: list[float], prev_products: list[float]) -> float:
    """W4 lag-1 autocorrelation over the trailing window by full re-sum:
    the test reference for :func:`autocorr_from_sums` and :class:`Win`
    (quantized sums, then num/den in the oracle's expression order,
    ``_autocorr_win_sql``)."""
    n = float(len(win))
    if n <= 1.0:
        return 0.0
    x = win[-1]
    first = win[0]
    s = d12(sum(q12(v) for v in win))
    ss = d12(sum(q12(v * v) for v in win))
    p = d12(sum(q12(v) for v in prev_products))
    m = s / n
    num = p - m * (2.0 * s - first - x) + (n - 1.0) * m * m
    den = ss - 2.0 * m * s + n * m * m
    if abs(den) < TOL:
        return 0.0
    return num / den


def autocorr_from_sums(
    n_elems: int, first: float, x: float, s_int: int, ss_int: int, p_int: int
) -> float:
    """:func:`autocorr_windowed` from PRE-ACCUMULATED scaled-integer
    sums — the O(1)-per-bar form of the same computation. The three
    quantized sums are exact integers, so a sliding accumulator
    (add the entering term, subtract the evicted term) produces the
    IDENTICAL integers the per-row full re-sum produces, and everything
    after the d12 conversions is the same pinned float64 sequence —
    bit-equal by construction (asserted directly against the windowed
    form in tests/test_features_pipeline.py::
    test_autocorr_from_sums_bit_equals_windowed). This is what the reference's
    incremental indicator update does with its circular buffer
    (CircularBuffer.cs:30-37): O(1) per bar instead of O(window)."""
    n = float(n_elems)
    if n <= 1.0:
        return 0.0
    s = d12(s_int)
    ss = d12(ss_int)
    p = d12(p_int)
    m = s / n
    num = p - m * (2.0 * s - first - x) + (n - 1.0) * m * m
    den = ss - 2.0 * m * s + n * m * m
    if abs(den) < TOL:
        return 0.0
    return num / den


def slope(first: float, n_elems: int, current: float, tolerance: float) -> float:
    """W5 slope: percent change from the window's first value to the
    current one."""
    if n_elems < 2:
        return 0.0
    if abs(first) < tolerance:
        return 0.0
    return (current - first) / first * 100.0


class Win:
    """One EMA series' sliding window (the reference's capacity-21
    circular buffer, CircularBuffer.cs:30-37) with INCREMENTAL
    exact-integer decimal sums: per pushed value only 3 quantizations
    (v, v², v·prev) instead of re-summing the whole frame. Exact integer
    add/subtract is associative, so the sums are bit-identical to the
    oracle's DECIMAL(38,12) frame sums, and pushing a persisted window's
    values again rebuilds the same sums."""

    __slots__ = ("cap", "vals", "qv", "qvv", "qp", "s", "ss", "p")

    def __init__(self, cap: int, vals: Iterable[float] = ()) -> None:
        self.cap = cap
        self.vals: deque[float] = deque()  # window of MA doubles
        self.qv: deque[int] = deque()  # q12(v) per position
        self.qvv: deque[int] = deque()  # q12(v*v) per position
        self.qp: deque[int] = deque()  # q12(v·prev) per gap (len-1 entries)
        self.s = self.ss = self.p = 0
        for v in vals:
            self.push(v)

    def push(self, v: float) -> None:
        vals = self.vals
        if vals:
            qp = q12(v * vals[-1])
            self.qp.append(qp)
            self.p += qp
        a, b = q12(v), q12(v * v)
        vals.append(v)
        self.qv.append(a)
        self.qvv.append(b)
        self.s += a
        self.ss += b
        if len(vals) > self.cap:
            self.s -= self.qv.popleft()
            self.ss -= self.qvv.popleft()
            self.p -= self.qp.popleft()
            vals.popleft()


#: The features :class:`DayStep` returns, in this order (the export's
#: alphabetical order).
STEP_FEATURES = (
    "f_close_location_value",
    "f_moving_average_autocorrelation",
    "f_moving_average_distance",
    "f_moving_average_slope",
    "f_moving_average_slow_autocorrelation",
    "f_moving_average_slow_distance",
    "f_open_location_value",
)


class DayStep:
    """One day's per-bar feature update (FeaturesBarService.cs:29-47):
    push both EMAs into their windows, apply the warm-up gate (P5: emit
    once the day holds ``bars_required`` rows) and compute the seven
    :data:`STEP_FEATURES`. The caller folds the EMAs, since each caller
    scopes them differently, and feeds only session bars.

    ``cfg`` is a ``FeatureConfig`` (``window``, ``bars_required``,
    ``slope_tolerance``); ``n_rows``/``wf``/``ws`` restore a persisted
    day (the streaming state's row count and window values)."""

    __slots__ = ("n", "win_f", "win_s", "required", "tol")

    def __init__(
        self,
        cfg,
        n_rows: int = 0,
        wf: Iterable[float] = (),
        ws: Iterable[float] = (),
    ) -> None:
        self.n = n_rows
        self.win_f, self.win_s = Win(cfg.window, wf), Win(cfg.window, ws)
        self.required = cfg.bars_required
        self.tol = float(cfg.slope_tolerance)

    def __call__(
        self, o: float, h: float, lo: float, c: float, ema_f: float, ema_s: float
    ) -> tuple[float, ...] | None:
        wf, ws = self.win_f, self.win_s
        wf.push(ema_f)
        ws.push(ema_s)
        self.n += 1
        if self.n < self.required:
            return None
        n, first_f, first_s = len(wf.vals), wf.vals[0], ws.vals[0]
        return (
            loc_value(c, h, lo),
            autocorr_from_sums(n, first_f, ema_f, wf.s, wf.ss, wf.p),
            ma_distance(c, ema_f),
            slope(first_f, n, ema_f, self.tol),
            autocorr_from_sums(n, first_s, ema_s, ws.s, ws.ss, ws.p),
            ma_distance(c, ema_s),
            loc_value(o, h, lo),
        )
