"""Deterministic OHLCV bars derived from the ``events`` table.

The reference consumes NinjaTrader bars (``BaseBar``: Time/Day ints +
OHLCV doubles, FeatureEngineering/BaseBar.cs:3-14). Our test corpus has
no bar table, so the engine derives one from ``events`` exactly as
specified in FIXTURES.md §1. The derivation is implemented twice — as a
Spark DataFrame program and as a DuckDB SQL CTE — and both must produce
bit-identical doubles. To guarantee that, only IEEE-exactly-rounded
operations are used (+, -, *, /, integer %, greatest/least, lag): no
transcendentals, no engine-dependent rounding.

Derivation:
  day    = yyyyMMdd(ts), time = HHmmss(ts)     (codecs, exact ints)
  dedupe = first event_id per (day, time) — makes ``time`` strictly
           increasing within each day (FIXTURES.md constraint)
  close  = 100.0 + value                        (value > 0 in the corpus)
  open   = lag(close) within day, first bar opens at its close
  high   = max(open, close) + (event_id % 5) * 0.01
  low    = min(open, close) - (event_id % 3) * 0.01
  volume = 1 + event_id % 1000 (as double)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.codecs import ts_to_day, ts_to_time
from strategy_analyzer_exporter_spark.sources.tables import load_table

#: DuckDB CTE fragment producing the identical `bars` relation from the
#: pre-registered `events` view. Embed as: f"WITH {BARS_CTE} SELECT ...".
BARS_CTE = """
bars_raw AS (
    SELECT
        CAST(year(ts)*10000 + month(ts)*100 + day(ts) AS INTEGER) AS day,
        CAST(hour(ts)*10000 + minute(ts)*100 + second(ts) AS INTEGER) AS time,
        event_id,
        user_id,
        CAST(100.0 AS DOUBLE) + value AS close
    FROM events
),
bars_dedup AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY day, time ORDER BY event_id) AS _rn
        FROM bars_raw
    ) WHERE _rn = 1
),
bars AS (
    SELECT
        day, time, event_id, user_id,
        coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close) AS open,
        greatest(coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close), close)
            + CAST(event_id % 5 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS high,
        least(coalesce(lag(close) OVER (PARTITION BY day ORDER BY time), close), close)
            - CAST(event_id % 3 AS DOUBLE) * CAST(0.01 AS DOUBLE) AS low,
        close,
        CAST(1 + event_id % 1000 AS DOUBLE) AS volume
    FROM bars_dedup
)
""".strip()


def bar_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, time, event_id, user_id, close) per event: the derivation's
    input, before the dedupe. ``bars_df`` and the feature pipeline's
    per-day kernel (operators/features.py) both start here."""
    return load_table(spark, sf_dir, "events").select(
        ts_to_day("ts").alias("day"),
        ts_to_time("ts").alias("time"),
        "event_id",
        "user_id",
        (F.lit(100.0) + F.col("value")).alias("close"),
    )


def bars_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-side bars derivation; must match BARS_CTE bit-for-bit.

    Scale notes: the (day, time) dedupe and the lag() are one shuffle on
    ``day``, shared by every downstream window over the day. The export
    pipeline runs the same steps per day in numpy instead
    (``functions.exact.day_bars``, pinned to this relation in
    tests/test_features_pipeline.py).
    """
    raw = bar_events(spark, sf_dir)
    # dedupe to the lowest event_id per (day, time) WITHIN the day
    # partition: sorting by (time, event_id) and keeping each time's
    # first row is equivalent to row_number()=1 over (day, time) but
    # shares the hash(day) exchange with the lag() and every day window
    # downstream — one shuffle for the bars relation instead of two
    w_seq = Window.partitionBy("day").orderBy("time", "event_id")
    dedup = (
        raw.withColumn("_prev_t", F.lag("time").over(w_seq))
        .filter(F.col("_prev_t").isNull() | (F.col("_prev_t") != F.col("time")))
        .drop("_prev_t")
    )
    w_day = Window.partitionBy("day").orderBy("time")
    prev = F.coalesce(F.lag("close").over(w_day), F.col("close"))
    return dedup.select(
        "day",
        "time",
        "event_id",
        "user_id",
        prev.alias("open"),
        (
            F.greatest(prev, F.col("close"))
            + (F.col("event_id") % 5).cast("double") * F.lit(0.01)
        ).alias("high"),
        (
            F.least(prev, F.col("close"))
            - (F.col("event_id") % 3).cast("double") * F.lit(0.01)
        ).alias("low"),
        "close",
        (F.lit(1) + F.col("event_id") % 1000).cast("double").alias("volume"),
    )
