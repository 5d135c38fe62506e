"""Relational operator surface (SURVEY.md §2.6 gap map).

The reference has no joins/aggregation/sort/set-ops — this module is the
planned generalization: every operator is a Catalyst built-in expressed
declaratively, registered with a DuckDB oracle. Conventions that make
the oracle hash-match robust:

- Float aggregates go through ``functions.dsum``/``davg`` (exact
  DECIMAL(38,10) sums cast back to double) so parallel partial
  aggregation order can't perturb results.
- Every LIMIT/top-k query has a *total* ordering (ties broken by key),
  so both engines select the same row set.
- Extracted date parts are cast to the same integer width on both sides.

Scale notes are per-operator docstrings: what shuffles, what broadcasts,
what AQE does at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark import functions as X
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.tables import (
    load_table,
    spread_scan,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregation


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation. Scale: map-side partial agg on
    (returnflag, linestatus) — 6 groups — so the shuffle carries only
    partials; the scan prunes to 7 columns + pushes the date filter.

    The partial aggregation (7 exact-decimal aggregates over every
    surviving row) is the expensive half, and on the single-row-group
    test file it ran on ONE core — spread_scan parallelizes it when the
    scan yields fewer splits than the session (no-op on any multi-file
    layout); decimal sums are order-independent, so the result is
    bit-identical (measured in OPTIMIZATION_r14.md)."""
    li = spread_scan(_t(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            X.dsum("l_quantity").alias("sum_qty"),
            X.dsum("l_extendedprice").alias("sum_base_price"),
            X.dsum(disc_price).alias("sum_disc_price"),
            X.dsum(charge).alias("sum_charge"),
            X.davg("l_quantity").alias("avg_qty"),
            X.davg("l_extendedprice").alias("avg_price"),
            X.davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "agg_pricing_summary",
    _q_pricing_summary,
    f"""SELECT l_returnflag, l_linestatus,
       {X.dsum_sql('l_quantity')} AS sum_qty,
       {X.dsum_sql('l_extendedprice')} AS sum_base_price,
       {X.dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {X.dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {X.davg_sql('l_quantity')} AS avg_qty,
       {X.davg_sql('l_extendedprice')} AS avg_price,
       {X.davg_sql('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)


def _q_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style scan-filter-aggregate: the whole query is one
    parquet scan with pushed predicates + a scalar agg — no shuffle of
    raw rows at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            X.dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


register(
    "agg_filter_scalar",
    _q_filter_agg,
    f"""SELECT {X.dsum_sql('l_extendedprice * l_discount')} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""",
)


def _q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation: count-distinct expands to a two-phase
    plan (distinct then count) — Catalyst handles partial dedup map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


register(
    "agg_count_distinct",
    _q_count_distinct,
    """SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag""",
)


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++). Engines' sketches differ,
    so the raw estimate can never hash-match — instead each engine
    checks its OWN estimate against the HLL accuracy contract and emits
    the exact count plus ``|approx − exact| ≤ 5%·exact`` as a boolean
    (rsd 0.01 → expected ~1% error, so 5% is a hard floor both engines
    clear). The scale story is unchanged: the sketch is constant-size
    per group vs the exact two-phase dedup."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("_approx"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("_approx") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.05)
        ).alias("within_5pct"),
    )


register(
    "agg_approx_distinct",
    _q_approx_distinct,
    """SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey))
           <= count(DISTINCT l_orderkey) * 0.05 AS within_5pct
FROM lineitem GROUP BY l_returnflag""",
)


def _q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna in Spark, t-digest in
    DuckDB) — sketch values differ across engines, so like
    agg_approx_distinct each engine checks its OWN estimate against the
    sketch's contract: the approximate median's RANK must sit within
    2% of the true 0.5 quantile rank (accuracy=1000 → Spark guarantees
    0.1%; t-digest on these group sizes is far tighter). The rank check
    is the correct contract — quantile sketches bound rank error, not
    value error. Shape: one agg for the sketch (3-row result,
    broadcast) + one rescan to rank it — constant state per group at
    any scale."""
    li = _t(spark, sf_dir, "lineitem")
    ap = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("_a"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(ap), "l_returnflag"
    )
    out = j.groupBy("l_returnflag").agg(
        F.max("n_rows").alias("n_rows"),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("_a"), 1).otherwise(0))
        .cast("long")
        .alias("_rank_le"),
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        (
            F.abs(
                F.col("_rank_le").cast("double") / F.col("n_rows").cast("double")
                - F.lit(0.5)
            )
            <= F.lit(0.02)
        ).alias("within_2pct_rank"),
    )


register(
    "agg_approx_percentile_bound",
    _q_approx_percentile,
    """WITH ap AS (
    SELECT l_returnflag,
           approx_quantile(l_extendedprice, 0.5) AS a,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT li.l_returnflag, max(ap.n_rows) AS n_rows,
       abs(CAST(sum(CASE WHEN li.l_extendedprice <= ap.a THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(max(ap.n_rows) AS DOUBLE) - 0.5) <= 0.02
           AS within_2pct_rank
FROM lineitem li JOIN ap ON li.l_returnflag = ap.l_returnflag
GROUP BY li.l_returnflag""",
)


def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the nation→region dimension join.
    Scale: region/nation are tiny → broadcast both; only the agg shuffles."""
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    c = _t(spark, sf_dir, "customer")
    j = c.join(n, c.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        X.dsum("c_acctbal").alias("sum_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


register(
    "agg_rollup",
    _q_rollup,
    f"""SELECT r_name, n_name,
       {X.dsum_sql('c_acctbal')} AS sum_acctbal,
       count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)""",
)


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dims."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        X.dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


register(
    "agg_cube",
    _q_cube,
    f"""SELECT l_returnflag, l_linestatus,
       {X.dsum_sql('l_quantity')} AS sum_qty, count(*) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)


# ---------------------------------------------------------------------------
# Joins


def _q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join with an explicit broadcast hint: nation is a dim
    table — at 100 TB the fact side streams, zero shuffle for the join."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            X.dsum("c_acctbal").alias("sum_acctbal"),
        )
    )


register(
    "join_inner_broadcast",
    _q_join_broadcast,
    f"""SELECT n_name, count(*) AS n_customers, {X.dsum_sql('c_acctbal')} AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",
)


def _q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join. Scale: lineitem⋈orders⋈customer are the
    big shuffles (AQE re-plans skew); supplier/nation/region broadcast.
    Catalyst reorders the dim joins below the fact joins. No
    spread_scan ahead of the joins: the broadcast-hash probes are too
    cheap to pay for a repartition (measured in OPTIMIZATION_r14.md).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # supplier SCALES with sf (no hint — AQE broadcasts while small);
    # nation/region are fixed 25/5 rows at every scale factor
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(X.dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_rows"))
    )


register(
    "join_multiway",
    _q_join_multiway,
    f"""SELECT n_name, {X.dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name""",
)


def _q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders; aggregates
    order counts with nulls → 0 via coalesce after the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            X.dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0))).alias("sum_spent"),
        )
    )


register(
    "join_left_outer",
    _q_join_outer,
    f"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
       {X.dsum_sql('coalesce(o_totalprice, 0.0)')} AS sum_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name""",
)


def _q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers that placed ≥1 high-value order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


register(
    "join_semi",
    _q_join_semi,
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)""",
)


def _q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no large order.

    r11 recalibration: the original predicate ("no orders at all") was
    VACUOUS on the synthetic corpus — every sf0.001/0.01 customer has
    at least one order, so the query had matched its oracle on ZERO
    rows since r01, and a broken anti-join would have passed the gate.
    Anti-joining against the > 400k-price subset returns 20 / 202 /
    1997 rows at sf0.001/0.01/0.1 (measured), so the NOT EXISTS path
    is value-checked on real rows at every scale. Same plan shape: the
    filter pushes to the orders scan, then one anti-join on custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


register(
    "join_anti",
    _q_join_anti,
    """SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""",
)


def _q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: lineitems shipped within 30 days of their
    order's date. The equi key carries the join; the range is a post-join
    predicate, so no O(n²) blowup at scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_fast_shipped"))
    )


register(
    "join_range",
    _q_join_range,
    """SELECT o_orderpriority, count(*) AS n_fast_shipped
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderpriority""",
)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for every event, the value of
    that user's most recent *purchase* event at-or-before its timestamp.

    Implementation — union-and-carry-forward: tag right rows, union with
    left, sort per user by (ts, right-first), carry the right payload
    forward with last(ignorenulls), keep left rows. ONE shuffle on
    user_id + one sort — same cost as a window query, no range explosion;
    at 100 TB this beats the naive range-join formulation by orders of
    magnitude. Ties (event at the same second as a purchase) match the
    purchase, like DuckDB's ASOF JOIN (inclusive)."""
    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "event_type", "value")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        # dedupe right on (user, ts) so the carried value is deterministic
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", F.col("value").alias("last_purchase_value"))
    )
    tagged = left.select(
        "event_id", "user_id", "ts", "event_type", "value",
        F.lit(None).cast("double").alias("last_purchase_value"),
        F.lit(1).alias("_side"),
    ).unionByName(
        right.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            "last_purchase_value",
            F.lit(0).alias("_side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        tagged.withColumn(
            "asof_purchase_value",
            F.last("last_purchase_value", ignorenulls=True).over(w),
        )
        .filter(F.col("_side") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value", "asof_purchase_value")
    )


register(
    "join_asof",
    _q_asof_join,
    """WITH purch AS (
    SELECT user_id, ts, value AS last_purchase_value
    FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS _rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE _rn = 1
)
SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value,
       p.last_purchase_value AS asof_purchase_value
FROM events e
ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts""",
)


# ---------------------------------------------------------------------------
# Window functions


def _q_window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / lag / lead / running sum over one
    shared (custkey, orderdate) window — a single exchange+sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("string")
        .cast("double")
        .alias("running_spent"),
    )


register(
    "window_ranking",
    _q_window_ranking,
    """SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
       row_number() OVER w AS rn,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spent
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
)


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: ranking window + filter. Total order
    (price desc, orderkey) keeps the row set engine-independent. At scale
    this is the standard shuffle-once top-k; no global sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


register(
    "window_topk_per_group",
    _q_topk_per_group,
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3""",
)


def _q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 by totalprice: orderBy+limit compiles to TakeOrdered
    — per-partition top-20 then a 20-row merge at the driver, no global
    sort at any scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    )


register(
    "sort_global_topk",
    _q_global_topk,
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
)


# ---------------------------------------------------------------------------
# Set operations


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT distinct over nation keys of customers vs
    suppliers, tagged and re-unioned so one query covers all three."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    u = c.union(s).distinct().withColumn("op", F.lit("union"))
    i = c.intersect(s).withColumn("op", F.lit("intersect"))
    e = c.subtract(s).withColumn("op", F.lit("except"))  # EXCEPT DISTINCT
    return u.unionByName(i).unionByName(e).select("op", "nationkey")


register(
    "set_ops",
    _q_set_ops,
    """WITH c AS (SELECT c_nationkey AS nationkey FROM customer),
     s AS (SELECT s_nationkey AS nationkey FROM supplier)
SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM c UNION SELECT nationkey FROM s)
UNION ALL
SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT 'except' AS op, nationkey FROM (SELECT DISTINCT nationkey FROM c EXCEPT SELECT nationkey FROM s)""",
)


# ---------------------------------------------------------------------------
# Pivot / conditional aggregation


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values — Catalyst rewrites to
    conditional aggregation, one pass, no extra shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(X.dsum("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


register(
    "pivot_conditional_agg",
    _q_pivot,
    f"""SELECT l_returnflag,
       {X.dsum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_open,
       {X.dsum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_filled
FROM lineitem GROUP BY l_returnflag""",
)


# ---------------------------------------------------------------------------
# Scalar function surface: JSON, dates, strings, math


def _q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction on events.props ({"k": int}) — get_json_object is
    codegen'd JVM-side; no UDF."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", "event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


register(
    "scalar_json_extract",
    _q_json,
    """SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type""",
)


def _q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + grouping by calendar month."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            "o_totalprice",
        )
        .groupBy("y", "m")
        .agg(F.count(F.lit(1)).alias("n_orders"), X.dsum("o_totalprice").alias("volume"))
    )


register(
    "scalar_date_parts",
    _q_date_parts,
    f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       count(*) AS n_orders, {X.dsum_sql('o_totalprice')} AS volume
FROM orders GROUP BY 1, 2""",
)


def _q_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: upper/lower/substring/length/concat/trim/
    replace/split — all codegen'd built-ins."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.size(F.split("p_name", " ")).cast("long").alias("n_words"),
    )


register(
    "scalar_strings",
    _q_strings,
    """SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       lower(p_type) AS type_lower,
       substring(p_name, 1, 10) AS name10,
       CAST(length(p_name) AS BIGINT) AS name_len,
       concat_ws('|', p_brand, p_type) AS brand_type,
       replace(p_name, ' ', '_') AS name_snake,
       CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS BIGINT) AS n_words
FROM part""",
)


def _q_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface on exact-friendly ops (abs/sign/floor/ceil/
    round/mod/greatest/least) — transcendentals excluded from the oracle
    path because libm vs JVM may differ in the last ulp."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
        F.floor("l_extendedprice").cast("double").alias("floor_p"),
        F.ceil("l_extendedprice").cast("double").alias("ceil_p"),
        F.round("l_extendedprice", 1).alias("round_p"),
        (F.col("l_quantity") % 7.0).alias("mod_q"),
        F.greatest("l_tax", "l_discount").alias("max_td"),
        F.least("l_tax", "l_discount").alias("min_td"),
        F.sqrt("l_quantity").alias("sqrt_q"),
    )


register(
    "scalar_math",
    _q_math,
    """SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS abs_d,
       CAST(floor(l_extendedprice) AS DOUBLE) AS floor_p,
       CAST(ceil(l_extendedprice) AS DOUBLE) AS ceil_p,
       round(l_extendedprice, 1) AS round_p,
       fmod(l_quantity, 7.0) AS mod_q,
       greatest(l_tax, l_discount) AS max_td,
       least(l_tax, l_discount) AS min_td,
       sqrt(l_quantity) AS sqrt_q
FROM lineitem""",
)


# ---------------------------------------------------------------------------
# Exact dedup (documents)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the lowest doc_id per distinct
    text. Hash-groupBy, partial agg map-side; the md5 groups at 100 TB
    distribute uniformly so no skew."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


register(
    "dedup_exact",
    _q_dedup_exact,
    """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)""",
)


# As-of with MAX STALENESS: same union-and-carry-forward shape as
# join_asof, but the carried payload is a (ts, value) struct so the
# match can be nulled when the most recent purchase is older than the
# tolerance — the market-data "quote too stale to use" rule. Cost is
# identical to the tolerance-free as-of: one shuffle + one sort.

ASOF_TOL_S = 6 * 3600  # 6 hours


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts", "event_type")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", F.struct("ts", "value").alias("_p"))
    )
    tagged = left.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.lit(None).cast("struct<ts:timestamp,value:double>").alias("_p"),
        F.lit(1).alias("_side"),
    ).unionByName(
        right.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(None).cast("string").alias("event_type"),
            F.col("_p").cast("struct<ts:timestamp,value:double>"),
            F.lit(0).alias("_side"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = (
        tagged.withColumn("_a", F.last("_p", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    age_us = F.timestamp_diff("MICROSECOND", F.col("_a.ts"), F.col("ts"))
    fresh = age_us <= F.lit(ASOF_TOL_S * 1_000_000)
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(fresh, F.col("_a.value")).alias("asof_fresh_value"),
        F.coalesce(fresh, F.lit(False)).alias("has_fresh_purchase"),
    )


register(
    "join_asof_tolerance",
    _q_asof_tolerance,
    f"""WITH purch AS (
    SELECT user_id, ts, value
    FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS _rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE _rn = 1
)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       CASE WHEN epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_TOL_S * 1_000_000}
            THEN p.value END AS asof_fresh_value,
       coalesce(epoch_us(e.ts) - epoch_us(p.ts) <= {ASOF_TOL_S * 1_000_000}, FALSE)
           AS has_fresh_purchase
FROM events e
ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts""",
)


# Revenue concentration: what share of total revenue the top-20
# customers carry — the "how skewed is this key" audit every pipeline
# wants before choosing a partitioning. TakeOrdered produces the k-row
# top set (functions/topk.py argument), both sums are decimal-staged
# (order-independent), and the share is one double division of
# identically-computed inputs — bit-exact.

CONC_TOP_N = 20


def _q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(X.dsum("o_totalprice").alias("rev"))
    top = (
        per.orderBy(F.col("rev").desc(), F.col("o_custkey"))
        .limit(CONC_TOP_N)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_top"),
            X.dsum("rev").alias("top_rev"),
        )
    )
    total = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        X.dsum("rev").alias("total_rev"),
    )
    return top.crossJoin(F.broadcast(total)).select(
        "n_top",
        "n_customers",
        "top_rev",
        "total_rev",
        (F.col("top_rev") / F.col("total_rev")).alias("top_share"),
    )


register(
    "agg_revenue_concentration",
    _q_revenue_concentration,
    f"""WITH per AS (
    SELECT o_custkey, {X.dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY o_custkey
),
top AS (
    SELECT CAST(count(*) AS BIGINT) AS n_top, {X.dsum_sql('rev')} AS top_rev
    FROM (SELECT * FROM per ORDER BY rev DESC, o_custkey LIMIT {CONC_TOP_N})
),
total AS (
    SELECT CAST(count(*) AS BIGINT) AS n_customers, {X.dsum_sql('rev')} AS total_rev
    FROM per
)
SELECT top.n_top, total.n_customers, top.top_rev, total.total_rev,
       top.top_rev / total.total_rev AS top_share
FROM top CROSS JOIN total""",
)
