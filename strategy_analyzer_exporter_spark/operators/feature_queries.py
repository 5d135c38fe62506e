"""Oracle-checked queries for the feature pipeline (SURVEY.md §2.1-2.4).

Each query is a thin, named slice of the pipeline so the driver's
correctness gate exercises every operator independently:

  bars_derivation        S1/P1   source scan + projection + dedupe
  features_flagship      whole pipeline (W1-W9, P3, P5, S4 discipline)
  feature_olv_clv        W6/W7   row-local price features
  feature_ma_distance    W3      distance + guards (P6/P7)
  feature_ma_slope       W5      window slope
  feature_autocorr       W4      window autocorrelation (exact formula)
  feature_ema            W1/W2   per-day EMA (pandas impl vs fold oracle)
  feature_warmup_gate    P4/P5   warm-up predicates
  feature_time_filter    P3      HHmmss session predicate
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark import functions as X
from strategy_analyzer_exporter_spark.operators.features import (
    TESTDATA_CONFIG,
    features_df,
    features_full_ema_sql,
    features_sql,
    with_ema,
)
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE, bars_df

CFG = TESTDATA_CONFIG


# --- bars derivation -------------------------------------------------------

def _q_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bars_df(spark, sf_dir)


register(
    "bars_derivation",
    _q_bars,
    f"WITH {BARS_CTE} SELECT day, time, event_id, user_id, open, high, low, close, volume FROM bars",
)


# --- flagship --------------------------------------------------------------

def _q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return features_df(spark, sf_dir, CFG)


register("features_flagship", _q_flagship, features_sql(CFG))


def _q_flagship_full_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-exact EMA seeding (StrategyAnalyzerExporter.cs:138-139):
    EMAs fold once over the whole series — through day boundaries and
    out-of-session bars — while buffers/warm-up stay per-day
    (FeaturesBarService.cs:32-44). Oracle: recursive day-block fold."""
    from strategy_analyzer_exporter_spark.operators.features import (
        features_df_full_ema,
    )

    return features_df_full_ema(spark, sf_dir, CFG)


register(
    "features_flagship_full_ema",
    _q_flagship_full_ema,
    features_full_ema_sql(CFG),
)


# --- W6/W7 OLV/CLV ---------------------------------------------------------

def _q_olv_clv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bars_df(spark, sf_dir).select(
        "day",
        "time",
        X.location_value("open", "high", "low").alias("f_open_location_value"),
        X.location_value("close", "high", "low").alias("f_close_location_value"),
    )


register(
    "feature_olv_clv",
    _q_olv_clv,
    f"""WITH {BARS_CTE}
SELECT day, time,
       {X.location_value_sql('open', 'high', 'low')} AS f_open_location_value,
       {X.location_value_sql('close', 'high', 'low')} AS f_close_location_value
FROM bars""",
)


# --- W3 distance -----------------------------------------------------------

def _q_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ma = with_ema(bars_df(spark, sf_dir), CFG)
    return ma.select(
        "day",
        "time",
        F.col("moving_average"),
        F.col("slow_moving_average"),
        X.ma_distance("close", "moving_average").alias("f_moving_average_distance"),
        X.ma_distance("close", "slow_moving_average").alias(
            "f_moving_average_slow_distance"
        ),
    )


_EMA_PFX = f"""WITH {BARS_CTE},
pfx AS (
    SELECT *, list(close) OVER (
        PARTITION BY day ORDER BY time
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _closes
    FROM bars
),
ma AS (
    SELECT day, time, open, high, low, close, volume,
           {X.ema_fold_sql('_closes', CFG.span_fast)} AS moving_average,
           {X.ema_fold_sql('_closes', CFG.span_slow)} AS slow_moving_average
    FROM pfx
)"""

register(
    "feature_ma_distance",
    _q_distance,
    f"""{_EMA_PFX}
SELECT day, time, moving_average, slow_moving_average,
       {X.ma_distance_sql('close', 'moving_average')} AS f_moving_average_distance,
       {X.ma_distance_sql('close', 'slow_moving_average')} AS f_moving_average_slow_distance
FROM ma""",
)


# --- W1/W2 EMA -------------------------------------------------------------

def _q_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_ema(bars_df(spark, sf_dir), CFG).select(
        "day", "time", "close", "moving_average", "slow_moving_average"
    )


register(
    "feature_ema",
    _q_ema,
    f"{_EMA_PFX}\nSELECT day, time, close, moving_average, slow_moving_average FROM ma",
)


# --- W5 slope + W4 autocorr over the fast-MA window -------------------------

def _ma_window_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    ma = with_ema(bars_df(spark, sf_dir), CFG)
    w = (
        Window.partitionBy("day")
        .orderBy("time")
        .rowsBetween(-(CFG.window - 1), 0)
    )
    return ma.select(
        "day",
        "time",
        F.collect_list("moving_average").over(w).alias("_arr_f"),
        F.collect_list("slow_moving_average").over(w).alias("_arr_s"),
    )


_WIN_CTE = f"""{_EMA_PFX},
win AS (
    SELECT day, time,
           list(moving_average) OVER w AS _arr_f,
           list(slow_moving_average) OVER w AS _arr_s
    FROM ma
    WINDOW w AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN {CFG.window - 1} PRECEDING AND CURRENT ROW)
)"""


def _q_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ma_window_arrays(spark, sf_dir).select(
        "day",
        "time",
        X.slope(F.col("_arr_f"), CFG.slope_tolerance).alias("f_moving_average_slope"),
    )


register(
    "feature_ma_slope",
    _q_slope,
    f"""{_WIN_CTE}
SELECT day, time,
       {X.slope_sql('_arr_f', CFG.slope_tolerance)} AS f_moving_average_slope
FROM win""",
)


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ma_window_arrays(spark, sf_dir).select(
        "day",
        "time",
        X.autocorr(F.col("_arr_f"), CFG.autocorr_lag).alias(
            "f_moving_average_autocorrelation"
        ),
        X.autocorr(F.col("_arr_s"), CFG.autocorr_lag).alias(
            "f_moving_average_slow_autocorrelation"
        ),
    )


register(
    "feature_autocorr",
    _q_autocorr,
    f"""{_WIN_CTE}
SELECT day, time,
       {X.autocorr_sql('_arr_f', CFG.autocorr_lag)} AS f_moving_average_autocorrelation,
       {X.autocorr_sql('_arr_s', CFG.autocorr_lag)} AS f_moving_average_slow_autocorrelation
FROM win""",
)


# --- P5 warm-up gate --------------------------------------------------------

def _q_warmup(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("day").orderBy("time")
    return (
        bars_df(spark, sf_dir)
        .select("day", "time", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") >= CFG.bars_required)
        .select("day", "time", "rn")
    )


register(
    "feature_warmup_gate",
    _q_warmup,
    f"""WITH {BARS_CTE},
r AS (SELECT day, time, row_number() OVER (PARTITION BY day ORDER BY time) AS rn FROM bars)
SELECT day, time, CAST(rn AS BIGINT) AS rn FROM r WHERE rn >= {CFG.bars_required}""",
)


# --- P3 session filter ------------------------------------------------------

def _q_timefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from strategy_analyzer_exporter_spark.codecs import time_in_session

    return (
        bars_df(spark, sf_dir)
        .filter(time_in_session("time", CFG.time_start, CFG.time_end))
        .select("day", "time", "close")
    )


register(
    "feature_time_filter",
    _q_timefilter,
    f"""WITH {BARS_CTE}
SELECT day, time, close FROM bars
WHERE time >= {CFG.time_start} AND time <= {CFG.time_end}""",
)
