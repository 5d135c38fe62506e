"""Domain aggregates over the derived bars: VWAP / TWAP per day, and a
Morton (z-order) clustering key for multi-dimensional file layout.

VWAP/TWAP are the aggregates the reference's users actually consume
downstream of the exporter (volume- and time-weighted prices per
session). Both are ratios of decimal-staged exact sums — one shuffle on
day, map-side partials, engine-exact.

The Morton key interleaves the bits of two join/filter dimensions so a
range of keys covers a 2-D tile — the standard lakehouse trick for
clustering files so scans on EITHER dimension prune (Delta/Iceberg
Z-ORDER). Pure integer shift/mask expressions, exact in both engines;
at scale you'd `repartitionByRange(morton_key)` before the write and
let min/max file stats do the pruning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from strategy_analyzer_exporter_spark.functions import dsum, dsum_sql
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE, bars_df
from strategy_analyzer_exporter_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# VWAP / TWAP per day


def _q_bars_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prices/volumes ARE 2-decimal data stored as doubles, so the
    whole aggregate runs in exact integer cents: ``floor(x·100 + 0.5)``
    is the same IEEE ops in both engines and recovers the intended
    cents exactly; products and sums are then exact integers (staged
    through DECIMAL(38,0), whose integer casts are engine-identical —
    unlike decimal casts of arbitrary doubles, see features.py), and
    the final ratios are single double divisions of identical inputs.
    Bit-exact at ANY scale — decimal staging of the raw doubles was
    1 ulp off on 1-2 days per 30 at sf0.1."""
    b = bars_df(spark, sf_dir)

    def cents(c: str) -> F.Column:
        return F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long")

    hlc_c = cents("high") + cents("low") + cents("close")
    v_c = cents("volume")
    dec0 = "decimal(38,0)"
    num = F.sum((hlc_c * v_c).cast(dec0)).cast("double")
    den = F.sum(v_c.cast(dec0)).cast("double")
    close_sum = F.sum(cents("close").cast(dec0)).cast("double")
    vol_sum = F.sum(v_c.cast(dec0)).cast("double")
    return b.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_bars"),
        (num / (F.lit(3.0) * den)).alias("vwap"),
        # TWAP: bars are equal-duration, so the time weight is uniform
        (close_sum / (F.lit(100.0) * F.count(F.lit(1)).cast("double"))).alias(
            "twap"
        ),
        (vol_sum / F.lit(100.0)).alias("total_volume"),
    )


def _vwap_oracle() -> str:
    def cents(c: str) -> str:
        return f"CAST(floor({c} * 100 + 0.5) AS BIGINT)"

    hlc = f"({cents('high')} + {cents('low')} + {cents('close')})"
    v = cents("volume")
    return f"""WITH {BARS_CTE}
SELECT day, count(*) AS n_bars,
       CAST(sum(CAST({hlc} * {v} AS DECIMAL(38,0))) AS DOUBLE)
         / (3.0 * CAST(sum(CAST({v} AS DECIMAL(38,0))) AS DOUBLE)) AS vwap,
       CAST(sum(CAST({cents("close")} AS DECIMAL(38,0))) AS DOUBLE)
         / (100.0 * CAST(count(*) AS DOUBLE)) AS twap,
       CAST(sum(CAST({v} AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS total_volume
FROM bars GROUP BY day"""


register("bars_vwap_twap", _q_bars_vwap, _vwap_oracle())


# ---------------------------------------------------------------------------
# Morton / z-order clustering key

MORTON_BITS = 16  # per dimension → 32-bit interleaved key


def _morton_terms(a: str, b: str) -> str:
    """Portable SQL: interleave the low MORTON_BITS bits of ``a`` (even
    positions) and ``b`` (odd positions). Same text valid in Spark SQL
    and DuckDB: shiftleft is spelled with << in both via expr."""
    terms = []
    for i in range(MORTON_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def _q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key over (l_partkey, l_suppkey) plus the coarse z-tile
    (top 8 bits) a file-clustering write would range-partition on; the
    per-tile row counts are what a clustering job inspects to pick
    file split points."""
    li = load_table(spark, sf_dir, "lineitem")
    mk = F.expr(_morton_terms("l_partkey", "l_suppkey"))
    return (
        li.select(mk.alias("morton_key"))
        .withColumn("z_tile", F.expr("morton_key >> 24"))
        .groupBy("z_tile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("morton_key").alias("key_min"),
            F.max("morton_key").alias("key_max"),
        )
    )


register(
    "zorder_clustering_key",
    _q_zorder_key,
    f"""WITH keyed AS (
    SELECT {_morton_terms("l_partkey", "l_suppkey")} AS morton_key
    FROM lineitem
)
SELECT morton_key >> 24 AS z_tile, count(*) AS n_rows,
       min(morton_key) AS key_min, max(morton_key) AS key_max
FROM keyed GROUP BY z_tile""",
)


# ---------------------------------------------------------------------------
# Forward fill (last observation carried forward): the time-series
# gap-repair primitive — null sensor/price readings take the most
# recent non-null value per key. One window shuffle on the key;
# last(ignorenulls) is the Spark spelling, IGNORE NULLS the SQL one.


def _q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # synthesize gaps deterministically: readings on 'error' events are
    # missing (the realistic shape — a failed poll reports no value)
    raw = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "error", F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return raw.select(
        "user_id",
        "ts",
        "event_id",
        "reading",
        F.last("reading", ignorenulls=True).over(w).alias("filled"),
    )


register(
    "ts_forward_fill",
    _q_forward_fill,
    """SELECT user_id, ts, event_id,
       CASE WHEN event_type <> 'error' THEN value END AS reading,
       last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM events""",
)


# ---------------------------------------------------------------------------
# Bollinger bands (SMA ± 2σ over the trailing 20-bar window, per day).
# All moments are exact integer window sums over half-up-rounded cents,
# so the mean/variance numerators agree across engines exactly; the
# final band values are a FIXED sequence of correctly-rounded double
# ops (two divisions, one sqrt, one multiply-add, one divide-by-100) —
# bit-equal to the oracle. Same plan shape as bars_rolling_corr: one
# hash(day) shuffle shared by every window aggregate.

BOLL_N = 20


def _q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    c = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("long")
    staged = b.select("day", "time", c.alias("c"), (c * c).alias("cc"))
    w = Window.partitionBy("day").orderBy("time").rowsBetween(-(BOLL_N - 1), 0)
    n = F.count(F.lit(1)).over(w)
    sc = F.sum("c").over(w)
    scc = F.sum("cc").over(w)
    mean_c = sc.cast("double") / n.cast("double")
    # var numerator n·Σc² − (Σc)² is an exact integer; ONE division
    var_c = (n * scc - sc * sc).cast("double") / (n * n).cast("double")
    sd_c = F.sqrt(var_c)
    return (
        staged.select(
            "day",
            "time",
            n.alias("_n"),
            (mean_c / 100.0).alias("sma"),
            ((mean_c + 2.0 * sd_c) / 100.0).alias("upper_band"),
            ((mean_c - 2.0 * sd_c) / 100.0).alias("lower_band"),
        )
        .filter(F.col("_n") == BOLL_N)
        .drop("_n")
    )


_BOLL_ORACLE = f"""WITH {BARS_CTE},
staged AS (
    SELECT day, time, CAST(floor(close * 100 + 0.5) AS BIGINT) AS c
    FROM bars
),
m AS (
    SELECT day, time,
           count(*) OVER w AS n,
           CAST(sum(c) OVER w AS BIGINT) AS sc,
           CAST(sum(c * c) OVER w AS BIGINT) AS scc
    FROM staged
    WINDOW w AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN {BOLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, time,
       (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS sma,
       ((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
          + 2.0 * sqrt(CAST(n * scc - sc * sc AS DOUBLE)
                       / CAST(n * n AS DOUBLE))) / 100.0 AS upper_band,
       ((CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
          - 2.0 * sqrt(CAST(n * scc - sc * sc AS DOUBLE)
                       / CAST(n * n AS DOUBLE))) / 100.0 AS lower_band
FROM m WHERE n = {BOLL_N}"""


register("bars_bollinger", _q_bollinger, _BOLL_ORACLE)


# ---------------------------------------------------------------------------
# RSI(14) with Wilder smoothing — the same seeded-recursion family as
# the reference's EMA (acc + (x − acc)/N is the EMA fold with
# α = 1/N), so the oracle uses the identical prefix-array left fold as
# feature_ema: DuckDB list_reduce seeds with the first element exactly
# like the Spark fold's element_at(1) init. All per-row doubles follow
# one pinned op sequence (lag-diff, greatest, fold, one divide chain),
# so rsi14 matches the oracle bit-for-bit.
#
# Two implementations per indicator in this family (RSI/ATR/MACD):
#   - the PRIMARY registered query (bars_rsi/bars_atr/bars_macd) is the
#     O(n)-per-day incremental grouped-map — the reference's own shape
#     (O(1) per bar, StrategyAnalyzerExporter.cs:138-139; CircularBuffer
#     O(1) append, FeatureEngineering/Utils/CircularBuffer.cs:30-37)
#     and the only shape that survives 10⁵-bar days at 100 TB;
#   - the *_fold twin is the UDF-free pure-expression prefix-array fold
#     (O(n²)/day memory) kept as the oracle-parity cross-check — both
#     paths execute the identical float64 op sequence and must agree
#     bit-for-bit (asserted in tests/test_oracle_parity.py).

RSI_N = 14


def _wilder(arr):
    return F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: acc + (x - acc) / F.lit(float(RSI_N)),
    )


def _q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    wl = Window.partitionBy("day").orderBy("time")
    d = b.select(
        "day", "time", (F.col("close") - F.lag("close").over(wl)).alias("delta")
    ).filter(F.col("delta").isNotNull())
    g = d.select(
        "day",
        "time",
        F.greatest(F.col("delta"), F.lit(0.0)).alias("gain"),
        F.greatest(-F.col("delta"), F.lit(0.0)).alias("loss"),
    )
    wp = Window.partitionBy("day").orderBy("time").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = g.select(
        "day",
        "time",
        F.collect_list("gain").over(wp).alias("_g"),
        F.collect_list("loss").over(wp).alias("_l"),
        F.count(F.lit(1)).over(wp).alias("_n"),
    )
    ag, al = _wilder(F.col("_g")), _wilder(F.col("_l"))
    rsi = F.when(al == 0.0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + ag / al)
    )
    return arr.filter(F.col("_n") >= RSI_N).select("day", "time", rsi.alias("rsi14"))


def _wilder_sql(arr: str) -> str:
    return f"list_reduce({arr}, (acc, x) -> acc + (x - acc) / {float(RSI_N)})"


_RSI_ORACLE = f"""WITH {BARS_CTE},
d AS (
    SELECT day, time,
           close - lag(close) OVER (PARTITION BY day ORDER BY time) AS delta
    FROM bars
),
g AS (
    SELECT day, time, greatest(delta, 0.0) AS gain, greatest(-delta, 0.0) AS loss
    FROM d WHERE delta IS NOT NULL
),
arr AS (
    SELECT day, time,
           list(gain) OVER w AS garr,
           list(loss) OVER w AS larr,
           count(*) OVER w AS n
    FROM g
    WINDOW w AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, time,
       CASE WHEN {_wilder_sql('larr')} = 0.0 THEN 100.0
            ELSE 100.0 - 100.0 / (1.0 + {_wilder_sql('garr')} / {_wilder_sql('larr')})
       END AS rsi14
FROM arr WHERE n >= {RSI_N}"""


def _wilder_step(acc: float, x: float, first: bool) -> float:
    """One Wilder update — the exact float64 ops of the list_reduce
    fold: seed with the first element, then acc + (x − acc)/N."""
    return x if first else acc + (x - acc) / float(RSI_N)


_RSI_SCHEMA = T.StructType(
    [
        T.StructField("day", T.IntegerType()),
        T.StructField("time", T.IntegerType()),
        T.StructField("rsi14", T.DoubleType()),
    ]
)


def _rsi_day(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("time", kind="mergesort").reset_index(drop=True)
    closes = [float(v) for v in pdf["close"]]
    times = pdf["time"].tolist()
    day = int(pdf["day"].iloc[0]) if len(pdf) else 0
    out_t: list[int] = []
    out_v: list[float] = []
    acc_g = acc_l = 0.0
    for i in range(1, len(closes)):
        delta = closes[i] - closes[i - 1]
        gain = delta if delta > 0.0 else 0.0
        loss = -delta if delta < 0.0 else 0.0
        acc_g = _wilder_step(acc_g, gain, i == 1)
        acc_l = _wilder_step(acc_l, loss, i == 1)
        if i >= RSI_N:  # i == count of delta rows so far
            rsi = (
                100.0
                if acc_l == 0.0
                else 100.0 - 100.0 / (1.0 + acc_g / acc_l)
            )
            out_t.append(times[i])
            out_v.append(rsi)
    return pd.DataFrame(
        {
            "day": pd.Series([day] * len(out_t), dtype="int32"),
            "time": pd.Series(out_t, dtype="int32"),
            "rsi14": pd.Series(out_v, dtype="float64"),
        }
    )


def _q_rsi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(n)-per-day RSI: one hash(day) shuffle into an Arrow batch per
    day, single sequential pass (the reference's incremental shape)."""
    b = bars_df(spark, sf_dir).select("day", "time", "close")
    return b.groupBy("day").applyInPandas(_rsi_day, _RSI_SCHEMA)


register("bars_rsi", _q_rsi_incremental, _RSI_ORACLE)
register("bars_rsi_fold", _q_rsi, _RSI_ORACLE)


# ---------------------------------------------------------------------------
# ATR(14) with Wilder smoothing — true range folded through the same
# seeded recursion as RSI (acc + (x − acc)/N). First bar of a day has
# no previous close, so its true range is high − low (the standard
# convention). All per-row doubles follow one pinned op sequence
# (lag, three subtractions, abs, greatest, fold), so atr14 matches the
# oracle bit-for-bit. Registered bars_atr is the O(n) incremental
# grouped-map; this fold twin is the UDF-free oracle-parity shape.


def _q_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    wl = Window.partitionBy("day").orderBy("time")
    pc = F.lag("close").over(wl)
    tr = F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        )
    )
    t = b.select("day", "time", tr.alias("tr"))
    wp = Window.partitionBy("day").orderBy("time").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = t.select(
        "day",
        "time",
        F.collect_list("tr").over(wp).alias("_t"),
        F.count(F.lit(1)).over(wp).alias("_n"),
    )
    return arr.filter(F.col("_n") >= RSI_N).select(
        "day", "time", _wilder(F.col("_t")).alias("atr14")
    )


_ATR_ORACLE = f"""WITH {BARS_CTE},
t AS (
    SELECT day, time,
           CASE WHEN lag(close) OVER w IS NULL THEN high - low
                ELSE greatest(high - low,
                              abs(high - lag(close) OVER w),
                              abs(low - lag(close) OVER w))
           END AS tr
    FROM bars
    WINDOW w AS (PARTITION BY day ORDER BY time)
),
arr AS (
    SELECT day, time,
           list(tr) OVER wp AS tarr,
           count(*) OVER wp AS n
    FROM t
    WINDOW wp AS (PARTITION BY day ORDER BY time
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, time, {_wilder_sql('tarr')} AS atr14
FROM arr WHERE n >= {RSI_N}"""


_ATR_SCHEMA = T.StructType(
    [
        T.StructField("day", T.IntegerType()),
        T.StructField("time", T.IntegerType()),
        T.StructField("atr14", T.DoubleType()),
    ]
)


def _atr_day(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("time", kind="mergesort").reset_index(drop=True)
    highs = [float(v) for v in pdf["high"]]
    lows = [float(v) for v in pdf["low"]]
    closes = [float(v) for v in pdf["close"]]
    times = pdf["time"].tolist()
    day = int(pdf["day"].iloc[0]) if len(pdf) else 0
    out_t: list[int] = []
    out_v: list[float] = []
    acc = 0.0
    for i in range(len(closes)):
        if i == 0:
            tr = highs[i] - lows[i]
        else:
            pc = closes[i - 1]
            tr = max(highs[i] - lows[i], abs(highs[i] - pc), abs(lows[i] - pc))
        acc = _wilder_step(acc, tr, i == 0)
        if i + 1 >= RSI_N:
            out_t.append(times[i])
            out_v.append(acc)
    return pd.DataFrame(
        {
            "day": pd.Series([day] * len(out_t), dtype="int32"),
            "time": pd.Series(out_t, dtype="int32"),
            "atr14": pd.Series(out_v, dtype="float64"),
        }
    )


def _q_atr_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(n)-per-day ATR: same incremental Wilder recursion as bars_rsi,
    true range computed inline from (high, low, prev close)."""
    b = bars_df(spark, sf_dir).select("day", "time", "high", "low", "close")
    return b.groupBy("day").applyInPandas(_atr_day, _ATR_SCHEMA)


register("bars_atr", _q_atr_incremental, _ATR_ORACLE)
register("bars_atr_fold", _q_atr, _ATR_ORACLE)


# ---------------------------------------------------------------------------
# Rolling exact median of close over a 21-bar frame per day. The frame
# is materialized as a sorted 21-element array and the median is its
# middle ELEMENT (odd window — no interpolation, so the output is one
# of the input doubles, bit-exact in any engine). The window is
# day-partitioned — no global sort anywhere; at scale the 21-element
# arrays are constant-size per row.

MED_W = 21


def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    wf = Window.partitionBy("day").orderBy("time").rowsBetween(-(MED_W - 1), 0)
    arr = b.select(
        "day",
        "time",
        "close",
        F.collect_list("close").over(wf).alias("_w"),
    )
    return arr.filter(F.size("_w") == MED_W).select(
        "day",
        "time",
        "close",
        F.element_at(F.array_sort("_w"), (MED_W + 1) // 2).alias(
            f"median_{MED_W}"
        ),
    )


_MED_ORACLE = f"""WITH {BARS_CTE},
arr AS (
    SELECT day, time, close,
           list(close) OVER (PARTITION BY day ORDER BY time
                             ROWS BETWEEN {MED_W - 1} PRECEDING AND CURRENT ROW)
               AS w
    FROM bars
)
SELECT day, time, close,
       list_sort(w)[{(MED_W + 1) // 2}] AS median_{MED_W}
FROM arr WHERE len(w) = {MED_W}"""


register("bars_rolling_median", _q_rolling_median, _MED_ORACLE)


# ---------------------------------------------------------------------------
# MACD(12, 26, 9): fast/slow EMA difference plus the signal line (EMA-9
# of the MACD series) and histogram. Every EMA is the same
# first-element-seeded left fold as the reference's recursion (and
# bars_rsi). The registered bars_macd is the O(n) incremental
# grouped-map below; this fold twin computes macd per row from two
# prefix folds over closes (O(i) each → O(n²) per day); the signal
# then folds over the prefix array of the ALREADY-COMPUTED macd
# COLUMN — collected with a second window, never recomputed per
# position (a nested recompute is O(n³)/day: measured as a hard hang
# at sf0.1's ~3000 bars/day). One pinned op sequence per cell, so all
# three outputs match the oracle bit-for-bit in both paths.

MACD_FAST, MACD_SLOW, MACD_SIG = 12, 26, 9


def _ema_fold(arr, span: int):
    return F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: acc + F.lit(2.0 / (span + 1.0)) * (x - acc),
    )


def _ema_fold_sql(arr: str, span: int) -> str:
    # α must be COMPUTED in double (CAST(2.0 AS DOUBLE) / (span+1)):
    # writing the 17-digit α literal inline makes DuckDB parse it as
    # DECIMAL(18,17) first, whose double cast is 1 ulp off the Python/
    # Spark double — measured: half the macd rows drift ~1e-12 (short-
    # decimal literals like 14.0 cast exactly, which is why the RSI/ATR
    # folds never hit this)
    a = f"(CAST(2.0 AS DOUBLE) / {float(span + 1)})"
    return f"list_reduce({arr}, (acc, x) -> acc + {a} * (x - acc))"


def _q_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    wp = Window.partitionBy("day").orderBy("time").rowsBetween(
        Window.unboundedPreceding, 0
    )
    arr = b.select(
        "day",
        "time",
        F.collect_list("close").over(wp).alias("_c"),
    )
    macd = _ema_fold(F.col("_c"), MACD_FAST) - _ema_fold(F.col("_c"), MACD_SLOW)
    withm = arr.select("day", "time", macd.alias("macd"))
    # signal: EMA-9 folded over the prefix array of the macd COLUMN —
    # the second window collects values computed once per row
    wm = Window.partitionBy("day").orderBy("time").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sig = withm.select(
        "day",
        "time",
        "macd",
        F.collect_list("macd").over(wm).alias("_m"),
        F.count(F.lit(1)).over(wm).alias("_n"),
    )
    signal = _ema_fold(F.col("_m"), MACD_SIG)
    return sig.filter(F.col("_n") >= MACD_SLOW).select(
        "day",
        "time",
        "macd",
        signal.alias("signal"),
        (F.col("macd") - signal).alias("histogram"),
    )


def _macd_of_sql(prefix: str) -> str:
    return (
        f"{_ema_fold_sql(prefix, MACD_FAST)} - {_ema_fold_sql(prefix, MACD_SLOW)}"
    )


_MACD_ORACLE = f"""WITH {BARS_CTE},
arr AS (
    SELECT day, time,
           list(close) OVER wp AS c
    FROM bars
    WINDOW wp AS (PARTITION BY day ORDER BY time
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
m AS (
    SELECT day, time, {_macd_of_sql('c')} AS macd
    FROM arr
),
s AS (
    SELECT day, time, macd,
           list(macd) OVER wm AS mseries,
           count(*) OVER wm AS n
    FROM m
    WINDOW wm AS (PARTITION BY day ORDER BY time
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day, time, macd,
       {_ema_fold_sql('mseries', MACD_SIG)} AS signal,
       macd - {_ema_fold_sql('mseries', MACD_SIG)} AS histogram
FROM s WHERE n >= {MACD_SLOW}"""


_MACD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.IntegerType()),
        T.StructField("time", T.IntegerType()),
        T.StructField("macd", T.DoubleType()),
        T.StructField("signal", T.DoubleType()),
        T.StructField("histogram", T.DoubleType()),
    ]
)


def _macd_day(pdf: pd.DataFrame) -> pd.DataFrame:
    a_fast = 2.0 / (MACD_FAST + 1.0)
    a_slow = 2.0 / (MACD_SLOW + 1.0)
    a_sig = 2.0 / (MACD_SIG + 1.0)
    pdf = pdf.sort_values("time", kind="mergesort").reset_index(drop=True)
    closes = [float(v) for v in pdf["close"]]
    times = pdf["time"].tolist()
    day = int(pdf["day"].iloc[0]) if len(pdf) else 0
    out: list[tuple[int, float, float, float]] = []
    ef = es = sig = 0.0
    for i, x in enumerate(closes):
        if i == 0:
            ef = es = x
            macd = ef - es
            sig = macd  # signal fold seeds with macd[0]
        else:
            ef = ef + a_fast * (x - ef)
            es = es + a_slow * (x - es)
            macd = ef - es
            sig = sig + a_sig * (macd - sig)
        if i + 1 >= MACD_SLOW:
            out.append((times[i], macd, sig, macd - sig))
    return pd.DataFrame(
        {
            "day": pd.Series([day] * len(out), dtype="int32"),
            "time": pd.Series([r[0] for r in out], dtype="int32"),
            "macd": pd.Series([r[1] for r in out], dtype="float64"),
            "signal": pd.Series([r[2] for r in out], dtype="float64"),
            "histogram": pd.Series([r[3] for r in out], dtype="float64"),
        }
    )


def _q_macd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(n)-per-day MACD(12,26,9): three EMA accumulators advanced in
    one sequential pass — the reference's incremental indicator shape;
    bit-equal to the prefix-fold twin and the list_reduce oracle."""
    b = bars_df(spark, sf_dir).select("day", "time", "close")
    return b.groupBy("day").applyInPandas(_macd_day, _MACD_SCHEMA)


register("bars_macd", _q_macd_incremental, _MACD_ORACLE)
register("bars_macd_fold", _q_macd, _MACD_ORACLE)


# ---------------------------------------------------------------------------
# Stochastic oscillator %K(14) / %D(3): windowed min/max over the
# trailing 14 bars plus a 3-bar simple average of %K. Every value is a
# fixed sequence of correctly-rounded double ops on identical inputs
# (window min/max pick existing doubles; the ratio and the 3-term
# pinned-order average are single expressions), so both engines agree
# bit-for-bit. Flat-window convention: hh == ll emits 50.0. One
# day-partitioned shuffle shared by all the window expressions.

STOCH_N = 14


def _q_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = bars_df(spark, sf_dir)
    wf = Window.partitionBy("day").orderBy("time").rowsBetween(-(STOCH_N - 1), 0)
    wl = Window.partitionBy("day").orderBy("time")
    staged = b.select(
        "day",
        "time",
        "close",
        F.max("high").over(wf).alias("hh"),
        F.min("low").over(wf).alias("ll"),
        F.count(F.lit(1)).over(wf).alias("_n"),
    )
    k = F.when(F.col("hh") == F.col("ll"), F.lit(50.0)).otherwise(
        F.lit(100.0) * (F.col("close") - F.col("ll")) / (F.col("hh") - F.col("ll"))
    )
    withk = staged.filter(F.col("_n") >= STOCH_N).select(
        "day", "time", k.alias("pct_k")
    )
    k1, k2 = F.lag("pct_k", 1).over(wl), F.lag("pct_k", 2).over(wl)
    d = (F.col("pct_k") + k1 + k2) / F.lit(3.0)
    return withk.select("day", "time", "pct_k", d.alias("pct_d")).filter(
        F.col("pct_d").isNotNull()
    )


_STOCH_ORACLE = f"""WITH {BARS_CTE},
staged AS (
    SELECT day, time, close,
           max(high) OVER wf AS hh,
           min(low) OVER wf AS ll,
           count(*) OVER wf AS n
    FROM bars
    WINDOW wf AS (PARTITION BY day ORDER BY time
                  ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
),
withk AS (
    SELECT day, time,
           CASE WHEN hh = ll THEN 50.0
                ELSE 100.0 * (close - ll) / (hh - ll) END AS pct_k
    FROM staged WHERE n >= {STOCH_N}
)
SELECT day, time, pct_k,
       (pct_k + lag(pct_k, 1) OVER w + lag(pct_k, 2) OVER w) / 3.0 AS pct_d
FROM withk
WINDOW w AS (PARTITION BY day ORDER BY time)
QUALIFY pct_d IS NOT NULL"""


register("bars_stochastic", _q_stochastic, _STOCH_ORACLE)
