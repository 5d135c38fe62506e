"""The reference's feature pipeline, Spark-first.

Reference dataflow (SURVEY.md §3.1): bar stream → warm-up gate → session
time filter → per-day sliding-window features → alphabetical projection
+ float32 narrowing → sink. Features (FeatureEngineering/*):

  W1/W2  EMA(9)/EMA(21) of close          (NinjaTrader EMA indicator)
  W3     MA distance (fast & slow)        MovingAverage.cs:35-48
  W4     MA autocorrelation lag-1 (both)  Common.cs:29-60
  W5     MA slope (fast)                  Common.cs:14-27
  W6/W7  open/close location value        Price.cs:7-38
  W8     per-day state reset              FeaturesBarService.cs:32-38
  P3     session time predicate           StrategyAnalyzerExporter.cs:189-194
  P5     warm-up gate (≥20 rows in day)   FeaturesBarService.cs:44

Spark architecture: the export is one hash(day) exchange and one Python
pass. The events scan projects (day, time, event_id, close); an
Arrow-batched ``applyInPandas`` per day derives the day's bars
(``functions.exact.day_bars``, the numpy mirror of ``bars_df``), applies
the session filter, and runs the reference's per-bar buffer loop
(FeaturesBarService.cs:29-47): the EMA left-fold (acc + α(x−acc), seeded
with the first close — the DuckDB oracle's ``list_reduce`` op order) and
``functions.exact.DayStep``'s sliding exact-integer window sums, so every
double matches the oracle bit-for-bit. The export projection reads the
grouped map's output directly: no window node and no second shuffle.
The full-EMA query and the streaming operator run the same ``DayStep``.

At 100 TB: days partition the data naturally (≈ thousands of rows per
(instrument, day) group); ``applyInPandas`` groups stay small and
parallelism is bounded by #days × #instruments, not data volume. The
window holds a constant 21 rows, so state per group is O(1) beyond the
day's own rows.

DELIBERATE EMA DIVERGENCE (flagship vs reference binary): the
reference's NinjaTrader EMA indicators are constructed once for the
whole loaded series and update on EVERY bar — across day boundaries and
through out-of-session bars; only the window *buffers* reset per day
(StrategyAnalyzerExporter.cs:138-139, FeaturesBarService.cs:32-44).
``features_df`` instead scopes the EMA to (day, session) — a parallel,
shuffle-friendly semantic where each day is self-contained, so the
first ~20 bars of a day see differently-seeded MAs than the C# binary.
Reference-faithful alternatives, both oracle-checked:
- :func:`features_df_full_ema` (query ``features_flagship_full_ema``)
  — full-series continuously-seeded EMA feeding the per-day buffers,
  the reference-exact composition;
- ``feature_ema_full_series`` (operators/extra_queries.py) — the
  full-series EMA alone, per instrument.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from strategy_analyzer_exporter_spark import functions as X
from strategy_analyzer_exporter_spark.functions import exact
from strategy_analyzer_exporter_spark.schema import export_select
from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE, bar_events


@dataclass(frozen=True)
class FeatureConfig:
    """Knobs of the reference pipeline (StrategyAnalyzerExporter.cs:69-148).

    ``strict_reference_tolerance`` reproduces the reference's
    argument-swap quirk: MovingAverages.Compute passes
    ``config.LookbackPeriodSlow`` as CalculateSlope's *tolerance*
    parameter (Features/MovingAverages/MovingAverages.cs:30), and the
    reference config sets ``LookbackPeriodSlow = 14``
    (StrategyAnalyzerExporter.cs:125) — NOT the EMA slow span of 21 —
    so the slope zeroes out whenever |first| < 14. Default False = the
    intended semantics (tolerance 1e-6). SURVEY.md §2.3."""

    span_fast: int = 9  # EMA fast period (StrategyAnalyzerExporter.cs:138)
    span_slow: int = 21  # EMA slow period (:139)
    window: int = 21  # circular-buffer capacity (FeaturesBarService.cs:22)
    bars_required: int = 20  # warm-up threshold (StrategyAnalyzerExporter.cs:86)
    time_start: int = 90000  # session start HHmmss (:96)
    time_end: int = 155500  # session end HHmmss (:97)
    autocorr_lag: int = 1  # MovingAverage.cs:23-28
    lookback_period_slow: int = 14  # StrategyAnalyzerExporter.cs:125
    use_float32: bool = True  # UseFloat32 (:94)
    strict_reference_tolerance: bool = False
    # Streaming output lag: the reference exports bar index [1] — one
    # behind the in-flight close (StrategyAnalyzerExporter.cs:207-215) —
    # so each feature row is held back until `lag` later bars arrive.
    # Batch is a no-op (all bars are closed, SURVEY §2.5); the streaming
    # state operator honors it, withholding each day's trailing rows.
    export_lag_bars: int = 0

    @property
    def slope_tolerance(self) -> float:
        return (
            float(self.lookback_period_slow)
            if self.strict_reference_tolerance
            else X.TOLERANCE
        )


#: Config the flagship/test queries use: the corpus' synthetic days have
#: ~33-3300 rows spread over 24h, so the reference's 0900-1555 session
#: would starve the 20-bar warm-up at small scale factors. Same operators,
#: wider session.
TESTDATA_CONFIG = FeatureConfig(time_start=20000, time_end=235500)


# ---------------------------------------------------------------------------
# W1/W2 — EMA columns over a bars relation (the per-feature queries)


def with_ema(df: DataFrame, cfg: FeatureConfig = FeatureConfig()) -> DataFrame:
    """Add ``moving_average`` (EMA span_fast) and ``slow_moving_average``
    (EMA span_slow) of ``close`` per day, ordered by ``time``.

    Arrow-batched grouped-map; O(n) per group. The loop body
    ``acc = acc + α*(x - acc)`` (seed = first close) executes the exact
    float64 op sequence of the oracle's ``list_reduce`` fold."""
    a_fast = 2.0 / (cfg.span_fast + 1.0)
    a_slow = 2.0 / (cfg.span_slow + 1.0)
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("moving_average", T.DoubleType(), False),
            T.StructField("slow_moving_average", T.DoubleType(), False),
        ]
    )

    def ema_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("time", kind="mergesort").reset_index(drop=True)
        closes = [float(v) for v in pdf["close"]]
        for alpha, name in ((a_fast, "moving_average"), (a_slow, "slow_moving_average")):
            out = [0.0] * len(closes)
            if closes:
                acc = closes[0]
                out[0] = acc
                for i in range(1, len(closes)):
                    acc = acc + alpha * (closes[i] - acc)
                    out[i] = acc
            pdf[name] = pd.Series(out, dtype="float64")
        return pdf

    return df.groupBy("day").applyInPandas(ema_group, out_schema)


def with_ema_fold(df: DataFrame, cfg: FeatureConfig = FeatureConfig()) -> DataFrame:
    """Pure-expression EMA via prefix-array left-fold — no Python at all,
    O(n²) memory per day. Used to cross-check :func:`with_ema` (both must
    agree bit-for-bit) and wherever a plan must stay UDF-free."""
    w = Window.partitionBy("day").orderBy("time").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pfx = F.collect_list("close").over(w)
    return df.select(
        "*",
        X.ema_fold(pfx, cfg.span_fast).alias("moving_average"),
        X.ema_fold(pfx, cfg.span_slow).alias("slow_moving_average"),
    )


# ---------------------------------------------------------------------------
# Full pipeline


#: The per-day kernels' output: the bar, then :data:`exact.STEP_FEATURES`,
#: before the export projection narrows and orders them.
_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("day", T.IntegerType()),
        T.StructField("time", T.IntegerType()),
        *(
            T.StructField(c, T.DoubleType())
            for c in ("open", "high", "low", "close", "volume", *exact.STEP_FEATURES)
        ),
    ]
)


def _feature_frame(rows: list[tuple]) -> pd.DataFrame:
    """Kernel output rows → a frame of :data:`_FEATURE_SCHEMA`, with
    explicit dtypes so empty outputs (all rows gated) serialize too."""
    cols = _FEATURE_SCHEMA.fieldNames()
    res = pd.DataFrame(rows, columns=cols)
    for col in cols:
        res[col] = res[col].astype("int32" if col in ("day", "time") else "float64")
    return res


def _day_bars(pdf: pd.DataFrame) -> list[np.ndarray]:
    """One day's events → its bars (:func:`functions.exact.day_bars`):
    time, open, high, low, close, volume."""
    time_a, _, *ohlcv = exact.day_bars(
        pdf["time"].to_numpy(), pdf["event_id"].to_numpy(), pdf["close"].to_numpy()
    )
    return [time_a, *ohlcv]


def features_df(
    spark: SparkSession,
    sf_dir: str,
    cfg: FeatureConfig = TESTDATA_CONFIG,
) -> DataFrame:
    """events → bars → session filter → EMA → window features → warm-up
    gate → alphabetical float32 export projection (FIXTURES.md §2
    schema), in ONE exchange and ONE Python pass.

    Only (day, time, event_id, close) cross into Python. Per day the
    kernel derives the bars (:func:`functions.exact.day_bars`), keeps
    the session rows, folds the EMAs over them and runs
    :class:`functions.exact.DayStep` per bar (sliding exact-integer
    window sums, the ``functions.exact`` features, the ``bars_required``
    gate). Every step mirrors ``features_sql`` bit-for-bit. Requires
    cfg.autocorr_lag == 1 (the windowed-sums expansion is lag-1; the
    general-lag array form lives in functions.autocorr)."""
    if cfg.autocorr_lag != 1:
        raise ValueError("features_df implements lag-1 autocorrelation")
    a_f = 2.0 / (cfg.span_fast + 1.0)
    a_s = 2.0 / (cfg.span_slow + 1.0)
    t_start, t_end = cfg.time_start, cfg.time_end

    def day_group(pdf: pd.DataFrame) -> pd.DataFrame:
        day = int(pdf["day"].iat[0])
        step = exact.DayStep(cfg)
        ema_f = ema_s = None
        out: list[tuple] = []
        bars = _day_bars(pdf)
        # P3 — session filter after the bars: open is the previous bar's
        # close even across the session edge, like bars_df
        sess = (bars[0] >= t_start) & (bars[0] <= t_end)
        for t, o, h, lo, c, v in zip(*(a[sess].tolist() for a in bars)):
            if ema_f is None:
                ema_f = ema_s = c
            else:
                ema_f = ema_f + a_f * (c - ema_f)
                ema_s = ema_s + a_s * (c - ema_s)
            f = step(o, h, lo, c, ema_f, ema_s)
            if f is not None:
                out.append((day, t, o, h, lo, c, v) + f)
        return _feature_frame(out)

    raw = bar_events(spark, sf_dir).select("day", "time", "event_id", "close")
    feat = raw.groupBy("day").applyInPandas(day_group, _FEATURE_SCHEMA)
    return export_select(feat, use_float32=cfg.use_float32)


def features_df_full_ema(
    spark: SparkSession,
    sf_dir: str,
    cfg: FeatureConfig = TESTDATA_CONFIG,
) -> DataFrame:
    """Reference-exact EMA seeding: the EMAs run over the FULL loaded
    bar series — seeded once at series start, advancing on every bar
    including out-of-session ones (the NinjaTrader indicators are bound
    to the series, StrategyAnalyzerExporter.cs:138-139) — while the
    session filter, per-day buffer resets, and warm-up gate behave
    exactly like the flagship (FeaturesBarService.cs:32-44).

    The EMA scan is inherently sequential (a single accumulator over the
    whole series), so the (day, time, event_id, close) events run as ONE
    partition sorted by day through an Arrow-batched ``mapInPandas``
    that buffers one day's events at a time (a day may span batches),
    derives its bars (:func:`functions.exact.day_bars`), advances the
    carried EMAs over every bar and feeds the session bars to a fresh
    :class:`functions.exact.DayStep` — O(n) compute, O(day) memory. At
    scale the parallel unit is the instrument (the reference is
    single-instrument, so this series IS one group)."""
    if cfg.autocorr_lag != 1:
        raise ValueError("features_df_full_ema implements lag-1 autocorrelation")
    a_f = 2.0 / (cfg.span_fast + 1.0)
    a_s = 2.0 / (cfg.span_slow + 1.0)
    t_start, t_end = cfg.time_start, cfg.time_end

    def series_scan(batches):
        ema_f = ema_s = None
        held: list[pd.DataFrame] = []  # the events of day held_day
        held_day = None

        def day_rows(day: int, pdf: pd.DataFrame) -> pd.DataFrame:
            nonlocal ema_f, ema_s
            step = exact.DayStep(cfg)
            out: list[tuple] = []
            for t, o, h, lo, c, v in zip(*(a.tolist() for a in _day_bars(pdf))):
                # every bar advances the EMAs; only session bars enter
                # the buffers (the time gate guards GetFeaturesBar only)
                if ema_f is None:
                    ema_f = ema_s = c
                else:
                    ema_f = ema_f + a_f * (c - ema_f)
                    ema_s = ema_s + a_s * (c - ema_s)
                if not (t_start <= t <= t_end):
                    continue
                f = step(o, h, lo, c, ema_f, ema_s)
                if f is not None:
                    out.append((day, t, o, h, lo, c, v) + f)
            return _feature_frame(out)

        for pdf in batches:
            # the partition is sorted by day, so each day is one
            # contiguous run that may continue into the next batch
            for day, part in pdf.groupby("day", sort=False):
                if held and held_day != day:
                    yield day_rows(held_day, pd.concat(held))
                    held = []
                held_day = int(day)
                held.append(part)
        if held:
            yield day_rows(held_day, pd.concat(held))

    raw = bar_events(spark, sf_dir).select("day", "time", "event_id", "close")
    feat = (
        raw.repartition(1)
        .sortWithinPartitions("day")
        .mapInPandas(series_scan, _FEATURE_SCHEMA)
    )
    return export_select(feat, use_float32=cfg.use_float32)


def _autocorr_win_sql(sfx: str, lag: int) -> str:
    """DuckDB mirror of :func:`functions.exact.autocorr_from_sums`'
    double arithmetic."""
    m = f"(s_{sfx} / n_{sfx})"
    x = "moving_average" if sfx == "f" else "slow_moving_average"
    num = f"(p_{sfx} - {m} * (2.0 * s_{sfx} - first_{sfx} - {x}) + (n_{sfx} - 1.0) * {m} * {m})"
    den = f"(ss_{sfx} - 2.0 * {m} * s_{sfx} + n_{sfx} * {m} * {m})"
    return (
        f"CASE WHEN n_{sfx} <= {float(lag)!r} THEN 0.0 "
        f"WHEN abs({den}) < 1e-6 THEN 0.0 "
        f"ELSE {num} / {den} END"
    )


def _features_tail_sql(cfg: FeatureConfig) -> str:
    """The oracle's per-day feature tail (the SQL twin of
    :class:`functions.exact.DayStep`): the pipeline tail from an
    upstream CTE named ``ma`` (day/time/OHLCV + moving_average +
    slow_moving_average) through lag products, exact-decimal window
    stats, features, warm-up gate, and the export projection."""
    real = "REAL" if cfg.use_float32 else "DOUBLE"
    dec = "DECIMAL(38,12)"
    d2d = lambda e: f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)"  # noqa: E731
    win_cols = []
    for sfx, x in (("f", "moving_average"), ("s", "slow_moving_average")):
        win_cols += [
            f"CAST(count({x}) OVER w21 AS DOUBLE) AS n_{sfx}",
            f"{d2d(f'sum(CAST({x} AS {dec})) OVER w21')} AS s_{sfx}",
            f"{d2d(f'sum(CAST({x} * {x} AS {dec})) OVER w21')} AS ss_{sfx}",
            f"{d2d(f'coalesce(sum(CAST(_y_{sfx} AS {dec})) OVER w20, CAST(0 AS {dec}))')} AS p_{sfx}",
            f"first_value({x}) OVER w21 AS first_{sfx}",
        ]
    win_cols_sql = ",\n           ".join(win_cols)
    slope_tol = float(cfg.slope_tolerance)
    return f"""ma2 AS (
    SELECT *,
           moving_average * lag(moving_average) OVER wd AS _y_f,
           slow_moving_average * lag(slow_moving_average) OVER wd AS _y_s
    FROM ma
    WINDOW wd AS (PARTITION BY day ORDER BY time)
),
win AS (
    SELECT *,
           {win_cols_sql},
           row_number() OVER (PARTITION BY day ORDER BY time) AS _rn
    FROM ma2
    WINDOW w21 AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN {cfg.window - 1} PRECEDING AND CURRENT ROW),
           w20 AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN {cfg.window - 2} PRECEDING AND CURRENT ROW)
),
feat AS (
    SELECT day, time, open, high, low, close, volume,
           {X.ma_distance_sql('close', 'moving_average')} AS f_moving_average_distance,
           {X.ma_distance_sql('close', 'slow_moving_average')} AS f_moving_average_slow_distance,
           {_autocorr_win_sql('f', cfg.autocorr_lag)} AS f_moving_average_autocorrelation,
           {_autocorr_win_sql('s', cfg.autocorr_lag)} AS f_moving_average_slow_autocorrelation,
           CASE WHEN n_f < 2.0 THEN 0.0
                WHEN abs(first_f) < CAST({slope_tol!r} AS DOUBLE) THEN 0.0
                ELSE (moving_average - first_f) / first_f * 100.0
           END AS f_moving_average_slope,
           {X.location_value_sql('open', 'high', 'low')} AS f_open_location_value,
           {X.location_value_sql('close', 'high', 'low')} AS f_close_location_value
    FROM win
    WHERE _rn >= {cfg.bars_required}
)
SELECT
    CAST(close AS {real}) AS close,
    day,
    CAST(f_close_location_value AS {real}) AS f_close_location_value,
    CAST(f_moving_average_autocorrelation AS {real}) AS f_moving_average_autocorrelation,
    CAST(f_moving_average_distance AS {real}) AS f_moving_average_distance,
    CAST(f_moving_average_slope AS {real}) AS f_moving_average_slope,
    CAST(f_moving_average_slow_autocorrelation AS {real}) AS f_moving_average_slow_autocorrelation,
    CAST(f_moving_average_slow_distance AS {real}) AS f_moving_average_slow_distance,
    CAST(f_open_location_value AS {real}) AS f_open_location_value,
    CAST(high AS {real}) AS high,
    CAST(low AS {real}) AS low,
    CAST(open AS {real}) AS open,
    time,
    CAST(volume AS {real}) AS volume
FROM feat"""


def features_sql(cfg: FeatureConfig = TESTDATA_CONFIG) -> str:
    """DuckDB oracle for :func:`features_df` — same op sequence: EMA by
    left-fold over per-day prefix lists, autocorrelation by exact-decimal
    bounded-frame window sums (the kernel's sliding exact-integer sums)."""
    ema_f = X.ema_fold_sql("_closes", cfg.span_fast)
    ema_s = X.ema_fold_sql("_closes", cfg.span_slow)
    return f"""
WITH {BARS_CTE},
sess AS (
    SELECT * FROM bars
    WHERE time >= {cfg.time_start} AND time <= {cfg.time_end}
),
pfx AS (
    SELECT *, list(close) OVER (
        PARTITION BY day ORDER BY time
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _closes
    FROM sess
),
ma AS (
    SELECT day, time, open, high, low, close, volume,
           {ema_f} AS moving_average,
           {ema_s} AS slow_moving_average
    FROM pfx
),
{_features_tail_sql(cfg)}
""".strip()


def features_full_ema_sql(cfg: FeatureConfig = TESTDATA_CONFIG) -> str:
    """DuckDB oracle for :func:`features_df_full_ema`.

    The continuously-seeded EMA is a sequential fold over the whole
    series — naively that's an O(n²) global prefix-list fold. Instead
    the fold is blocked BY DAY: a recursive CTE carries each day's
    ending accumulator into the next day's fold (26 iterations, one
    small list fold each), and per-row EMAs fold only the day-local
    prefix seeded with the carried accumulator — O(Σ day²) like the
    flagship oracle, while executing the exact same float op sequence
    as the global fold (a seeded left-fold is position-wise identical
    to continuing the unseeded one)."""
    fold_f = lambda arr: X.ema_fold_sql(arr, cfg.span_fast)  # noqa: E731
    fold_s = lambda arr: X.ema_fold_sql(arr, cfg.span_slow)  # noqa: E731
    return f"""
WITH RECURSIVE {BARS_CTE},
dl AS (
    SELECT day, row_number() OVER (ORDER BY day) AS rn,
           list(close ORDER BY time) AS cs
    FROM bars GROUP BY day
),
rec AS (
    SELECT rn, day, {fold_f('cs')} AS ef_end, {fold_s('cs')} AS es_end
    FROM dl WHERE rn = 1
    UNION ALL
    SELECT d.rn, d.day,
           {fold_f('[r.ef_end] || d.cs')} AS ef_end,
           {fold_s('[r.es_end] || d.cs')} AS es_end
    FROM rec r JOIN dl d ON d.rn = r.rn + 1
),
seeds AS (
    SELECT day,
           lag(ef_end) OVER (ORDER BY rn) AS ef_seed,
           lag(es_end) OVER (ORDER BY rn) AS es_seed
    FROM rec
),
pfx AS (
    SELECT b.*, list(close) OVER (
        PARTITION BY day ORDER BY time
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _closes
    FROM bars b
),
ma_all AS (
    SELECT p.day, p.time, p.open, p.high, p.low, p.close, p.volume,
           CASE WHEN s.ef_seed IS NULL THEN {fold_f('p._closes')}
                ELSE {fold_f('[s.ef_seed] || p._closes')} END AS moving_average,
           CASE WHEN s.es_seed IS NULL THEN {fold_s('p._closes')}
                ELSE {fold_s('[s.es_seed] || p._closes')} END AS slow_moving_average
    FROM pfx p JOIN seeds s ON s.day = p.day
),
ma AS (
    SELECT * FROM ma_all
    WHERE time >= {cfg.time_start} AND time <= {cfg.time_end}
),
{_features_tail_sql(cfg)}
""".strip()
