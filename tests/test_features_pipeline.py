"""End-to-end feature-pipeline semantics (SURVEY.md §2.3, FIXTURES.md §4):
warm-up boundaries, day reset, EMA impl equivalence, export discipline."""

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

import py_oracle as O
from strategy_analyzer_exporter_spark.operators.features import (
    FeatureConfig,
    TESTDATA_CONFIG,
    features_df,
    with_ema,
    with_ema_fold,
)
from strategy_analyzer_exporter_spark.sources.bars import bars_df

SF = "/root/testdata/sf0.001"


def _sf(scale: str) -> str:
    """The test corpus at another scale factor, next to SF."""
    return f"{SF.rsplit('/', 1)[0]}/sf{scale}"


def _mini_bars(spark, days):
    """days: {day_int: n_rows}; close follows a deterministic walk."""
    rows = []
    for day, n in days.items():
        for i in range(n):
            close = 100.0 + (i * 7 % 13) - (i % 3)
            rows.append(
                (day, 93000 + i * 100, i, 0, close - 0.5, close + 1.0, close - 1.0, close, 10.0)
            )
    return spark.createDataFrame(
        rows,
        "day: int, time: int, event_id: long, user_id: long, open: double, "
        "high: double, low: double, close: double, volume: double",
    )


def test_ema_pandas_equals_fold_bit_for_bit(spark):
    """The O(n) applyInPandas EMA and the pure-expression prefix-fold EMA
    must agree exactly — same float ops in the same order."""
    bars = _mini_bars(spark, {20240101: 40, 20240102: 25, 20240103: 19})
    a = with_ema(bars).orderBy("day", "time").collect()
    b = with_ema_fold(bars).orderBy("day", "time").collect()
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra["moving_average"] == rb["moving_average"]
        assert ra["slow_moving_average"] == rb["slow_moving_average"]


def test_ema_matches_python_oracle(spark):
    bars = _mini_bars(spark, {20240101: 30})
    got = with_ema(bars).orderBy("time").collect()
    closes = [r["close"] for r in got]
    assert [r["moving_average"] for r in got] == O.ema(closes, 9)
    assert [r["slow_moving_average"] for r in got] == O.ema(closes, 21)


def test_warmup_gate_emits_from_20th_row(spark):
    """P5: a 25-row day emits rows 20..25 (6 rows); a 19-row day emits
    nothing (FeaturesBarService.cs:44); frame is 20 rows on the first
    emitted row, 21 afterwards."""
    cfg = FeatureConfig(time_start=0, time_end=235959)
    spark.createDataFrame([], "x: int")  # noqa - keep session warm
    bars = _mini_bars(spark, {20240101: 25, 20240102: 19})

    from strategy_analyzer_exporter_spark.operators import features as FT

    sess = bars
    ma = FT.with_ema(sess, cfg)
    from pyspark.sql import Window

    w_day = Window.partitionBy("day").orderBy("time")
    out = (
        ma.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") >= cfg.bars_required)
        .groupBy("day")
        .count()
        .collect()
    )
    counts = {r["day"]: r["count"] for r in out}
    assert counts.get(20240101) == 6
    assert 20240102 not in counts


def test_flagship_schema_discipline(spark):
    df = features_df(spark, SF, TESTDATA_CONFIG)
    assert df.columns == sorted(df.columns)  # alphabetical (ordinal) order
    assert df.columns == [
        "close", "day", "f_close_location_value",
        "f_moving_average_autocorrelation", "f_moving_average_distance",
        "f_moving_average_slope", "f_moving_average_slow_autocorrelation",
        "f_moving_average_slow_distance", "f_open_location_value",
        "high", "low", "open", "time", "volume",
    ]
    types = dict(df.dtypes)
    assert types["day"] == "int" and types["time"] == "int"
    assert all(t == "float" for c, t in types.items() if c not in ("day", "time"))
    rows = df.count()
    assert rows > 0


def test_day_partition_isolation(spark):
    """W8: feature values for a day are unaffected by other days'
    presence (buffers reset at day boundary)."""
    one = _mini_bars(spark, {20240105: 30})
    two = _mini_bars(spark, {20240104: 27, 20240105: 30})
    cfg = FeatureConfig(time_start=0, time_end=235959)

    def run(bars):
        from pyspark.sql import Window

        ma = with_ema(bars, cfg)
        w = Window.partitionBy("day").orderBy("time").rowsBetween(-(cfg.window - 1), 0)
        from strategy_analyzer_exporter_spark import functions as X

        return {
            (r["day"], r["time"]): r["v"]
            for r in ma.select(
                "day", "time", X.autocorr(F.collect_list("moving_average").over(w)).alias("v")
            ).collect()
            if r["day"] == 20240105
        }

    assert run(one) == run(two)


def test_bars_derivation_deterministic(spark):
    a = bars_df(spark, SF).orderBy("day", "time").collect()
    b = bars_df(spark, SF).orderBy("day", "time").collect()
    assert a == b
    for r in a[:100]:
        assert r["high"] >= max(r["open"], r["close"])
        assert r["low"] <= min(r["open"], r["close"])


def test_fused_pipeline_single_exchange(spark):
    """The fused per-day pipeline shuffles once, and that one exchange
    partitions by day: every row of a day reaches the same kernel call."""
    import re

    from strategy_analyzer_exporter_spark import plans as P

    df = features_df(spark, SF, TESTDATA_CONFIG)
    plan = P.physical_plan(df)
    assert P.count_exchanges(df) == 1, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 1, plan
    assert re.sub(r"#\d+L?", "", keys[0].split(",")[0]).strip() == "day", plan


def test_q12_integer_matches_decimal_reference():
    """q12's integer HALF_UP rounding must be bit-identical to the
    Decimal reference over the representable domain."""
    import random

    from strategy_analyzer_exporter_spark.functions.exact import q12, q12_decimal

    rnd = random.Random(20260813)
    cases = [0.0, -0.0, 1e-13, -1e-13, 5e-13, -5e-13, 1.5e-12, 2.5e-12,
             -2.5e-12, -1.5e-12, 0.1, 0.3, 1 / 3, 4000.123456789012]
    for _ in range(20000):
        cases.append(rnd.uniform(-1, 1) * (10 ** rnd.uniform(-15, 15)))
    for x in cases:
        assert q12(x) == q12_decimal(x), repr(x)


def test_d12_matches_decimal_reference():
    """d12's int/int true division must equal the Decimal conversion it
    replaced, float(Decimal(i).scaleb(-12)), bit for bit: both are one
    correctly-rounded step for |i| < 10**28 (the window sums stay far
    below, ~1e21)."""
    import random
    from decimal import Decimal

    from strategy_analyzer_exporter_spark.functions.exact import d12

    rnd = random.Random(20261019)
    cases = [0, 1, -1, 5 * 10**11, 10**12, -(10**12), 2**53, 2**53 + 1,
             -(2**53 + 1), 10**22, -(10**22), 10**28 - 1, -(10**28 - 1)]
    for _ in range(50000):
        mag = 10 ** rnd.randint(0, 22)
        cases.append(rnd.randint(-mag, mag))
    for i in cases:
        assert d12(i) == float(Decimal(i).scaleb(-12)), i


def _bits_equal(a, b) -> bool:
    """Byte-for-byte column equality (floats compared as their bits)."""
    import numpy as np

    a, b = np.asarray(a), np.asarray(b)
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        return np.array_equal(
            a.astype(np.float64).view(np.int64), b.astype(np.float64).view(np.int64)
        )
    return np.array_equal(a.astype(np.int64), b.astype(np.int64))


def test_day_bars_pinned_to_bars_df_and_cte(spark):
    """The per-day numpy bars step of features_df must reproduce
    bars_df AND the oracle's BARS_CTE byte for byte. The events are fed
    in shuffled order, so day_bars' own sort and dedupe do the work."""
    import pandas as pd

    from oracle_harness import duckdb_con
    from strategy_analyzer_exporter_spark.functions.exact import day_bars
    from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE, bar_events

    d = _sf("0.01")
    cols = ["day", "time", "event_id", "open", "high", "low", "close", "volume"]
    raw = bar_events(spark, d).select("day", "time", "event_id", "close").toPandas()
    assert raw.duplicated(["day", "time"]).any()  # the dedupe is exercised
    raw = raw.sample(frac=1.0, random_state=7)
    parts = []
    for day, g in raw.groupby("day", sort=True):
        arrs = day_bars(
            g["time"].to_numpy(), g["event_id"].to_numpy(), g["close"].to_numpy()
        )
        parts.append(pd.DataFrame(dict(zip(cols[1:], arrs))).assign(day=day))
    got = pd.concat(parts, ignore_index=True)[cols]

    want_df = (
        bars_df(spark, d).select(*cols).toPandas()
        .sort_values(["day", "time"]).reset_index(drop=True)
    )
    con = duckdb_con(d)
    want_cte = con.execute(
        f"WITH {BARS_CTE} SELECT {', '.join(cols)} FROM bars ORDER BY day, time"
    ).fetchdf()
    con.close()
    for want in (want_df, want_cte):
        assert len(got) == len(want) > 0
        for c in cols:
            assert _bits_equal(got[c], want[c]), c


def test_day_bars_duplicate_time_and_first_bar():
    """A later-arriving lower event_id wins its time; the day's first
    bar opens at its own close; high/low/volume use the id residues."""
    import numpy as np

    from strategy_analyzer_exporter_spark.functions.exact import day_bars

    time = np.array([100, 50, 100, 200], dtype=np.int32)
    event_id = np.array([9, 4, 7, 12], dtype=np.int64)
    close = np.array([101.5, 100.25, 103.0, 99.0])
    t, e, o, h, lo, c, v = (a.tolist() for a in day_bars(time, event_id, close))
    assert t == [50, 100, 200]
    assert e == [4, 7, 12]
    assert c == [100.25, 103.0, 99.0]
    assert o == [100.25, 100.25, 103.0]
    assert h == [100.25 + 4.0 * 0.01, 103.0 + 2.0 * 0.01, 103.0 + 2.0 * 0.01]
    assert lo == [100.25 - 1.0 * 0.01, 100.25 - 1.0 * 0.01, 99.0 - 0.0 * 0.01]
    assert v == [5.0, 8.0, 13.0]


def test_autocorr_from_sums_bit_equals_windowed():
    """The shared sliding window (``exact.Win``: batch kernel, full-EMA
    query, streaming updater) must reproduce autocorr_windowed's full
    re-sum bit-for-bit on arbitrary series and window caps — integer
    add/subtract is order-independent, so the sliding sums equal the
    scratch sums exactly, and everything after the d12 conversions is
    the same pinned float sequence; a window rebuilt from its values
    (the streaming restore) holds the same sums. Seeded deterministic
    fuzz over magnitudes 1e-3..1e6, caps 2..8."""
    import random

    from strategy_analyzer_exporter_spark.functions.exact import (
        Win,
        autocorr_from_sums,
        autocorr_windowed,
    )

    def sliding(w):
        return autocorr_from_sums(len(w.vals), w.vals[0], w.vals[-1], w.s, w.ss, w.p)

    rnd = random.Random(20260814)
    for trial in range(300):
        cap = rnd.randint(2, 8)
        n = rnd.randint(0, 40)
        xs = [rnd.uniform(1e-3, 1.0) * (10 ** rnd.uniform(0, 6)) for _ in range(n)]
        w = Win(cap)
        for x in xs:
            w.push(x)
            win = w.vals
            pp = [win[i] * win[i - 1] for i in range(1, len(win))]
            a = autocorr_windowed(win, pp)
            assert a == sliding(w), (trial, x, win)
            # a window rebuilt from its values holds the same sums
            assert sliding(Win(cap, win)) == a, (trial, x, win)


def test_features_df_bit_exact_to_oracle(spark):
    """The one-pass kernel must reproduce ``features_sql`` (bounded
    DECIMAL(38,12) frames over the SQL bars) to the bit at all three
    scales. sf0.1 holds a row whose double→decimal cast differs between
    Spark and DuckDB; the kernel's exact-integer quantization matches
    the oracle there too."""
    from oracle_harness import compare

    from strategy_analyzer_exporter_spark.operators.features import features_sql

    for sf in ("0.001", "0.01", "0.1"):
        d = _sf(sf)
        r = compare(
            features_df(spark, d, TESTDATA_CONFIG), features_sql(TESTDATA_CONFIG), sf_dir=d
        )
        assert r["ok"], (sf, r["detail"])


def test_features_df_full_ema_bit_exact_to_oracle(spark):
    """The full-series-EMA query (one sorted partition, the per-day
    ``exact.DayStep`` fed by the carried EMA) must reproduce
    ``features_full_ema_sql`` to the bit: at all three scales; under the
    reference session ``FeatureConfig()``, where most bars lie outside
    the session and only advance the EMA; and with tiny Arrow batches,
    so that days straddle batch boundaries."""
    from oracle_harness import compare

    from strategy_analyzer_exporter_spark.operators.features import (
        features_df_full_ema,
        features_full_ema_sql,
    )

    def check(sf, cfg):
        d = _sf(sf)
        r = compare(features_df_full_ema(spark, d, cfg), features_full_ema_sql(cfg), sf_dir=d)
        assert r["ok"], (sf, cfg, r["detail"])

    for sf in ("0.001", "0.01", "0.1"):
        check(sf, TESTDATA_CONFIG)
    check("0.01", FeatureConfig())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "97")
    try:
        check("0.01", TESTDATA_CONFIG)
    finally:
        spark.conf.set(key, old)
