"""Plan-shape assertions: pushdown, pruning, broadcast choice, exchange
counts. These guard the 100 TB properties that value-correctness tests
can't see (SURVEY.md §4)."""

import re

import pyspark.sql.functions as F
import pytest

from strategy_analyzer_exporter_spark import plans as P
from strategy_analyzer_exporter_spark.operators.features import (
    TESTDATA_CONFIG,
    features_df,
    features_df_full_ema,
)
from strategy_analyzer_exporter_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") < 24).select("l_orderkey", "l_quantity")
    pushed = P.pushed_filters(q)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning_reaches_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    schemas = P.read_schemas(q)
    assert schemas and all(
        set(s.split(",")) <= {"l_orderkey:bigint", "l_quantity:double"} for s in schemas
    ), schemas


def test_multiway_join_broadcasts_dims(spark):
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["join_multiway"](spark, SF)
    assert P.count_broadcast_joins(q) >= 3  # supplier/nation/region at least
    # the two fact joins may be SMJ at scale; at tiny sf AQE may broadcast
    # them too — what must NOT happen is a dim going sort-merge
    assert P.count_sort_merge_joins(q) <= 2


def _node_names(plan: str) -> list[str]:
    """Operator names of a printed physical plan, one per node line."""
    return [
        ln.lstrip(" :+-").split(" ", 1)[0].split("(", 1)[0]
        for ln in plan.splitlines()
        if ln.strip()
    ]


#: The two per-day feature kernels, their Python node and their hash
#: exchanges: the flagship's grouped map per day behind one hash(day)
#: exchange, and the full-EMA query's map over one partition sorted by
#: day (one instrument is one series; its single-partition repartition
#: is not a hash exchange).
_FEATURE_KERNELS = (
    (features_df, "FlatMapGroupsInPandas", 1),
    (features_df_full_ema, "MapInPandas", 0),
)


def test_feature_pipeline_exchange_budget(spark):
    """The whole feature pipeline is at most ONE hash(day) exchange
    feeding ONE Python pass (bars, session filter, EMA, window stats and
    warm-up gate run per day inside it): the export projection reads the
    Python node's output directly, with no second shuffle and no window
    node."""
    for build, node, n_exchanges in _FEATURE_KERNELS:
        df = build(spark, SF, TESTDATA_CONFIG)
        plan = P.physical_plan(df)
        names = _node_names(plan)
        assert P.count_exchanges(df) == n_exchanges, plan
        assert names.count(node) == 1, plan
        assert not any(n.startswith("Window") for n in names), plan


def test_feature_pipeline_python_input_is_four_columns(spark):
    """Only (day, time, event_id, close) cross into Python: the session
    filter and the bars derivation run inside the per-day kernel, so the
    Python node's input is the raw event projection and nothing more."""
    for build, node, _ in _FEATURE_KERNELS:
        plan = P.physical_plan(build(spark, SF, TESTDATA_CONFIG))
        m = re.search(rf"\b{node} [^\n]*?\w+\(([^)]*)\)", plan)
        assert m, plan
        args = [re.sub(r"#\d+L?$", "", a.strip()) for a in m.group(1).split(",")]
        assert args == ["day", "time", "event_id", "close"], plan


def test_whole_stage_codegen_active(spark):
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["agg_pricing_summary"](spark, SF)
    assert P.has_whole_stage_codegen(q)


def test_global_topk_uses_take_ordered(spark):
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["sort_global_topk"](spark, SF)
    assert "TakeOrderedAndProject" in P.physical_plan(q)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located fact-fact join: both sides bucketed on the join key
    with equal bucket counts must join with ZERO exchanges (each task
    zips matching buckets) — the 100 TB answer to repartitioning two
    fact tables on every join."""
    from strategy_analyzer_exporter_spark.sinks import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed_table(li, "b_lineitem", ("l_orderkey",), 8, ("l_orderkey",))
        write_bucketed_table(o, "b_orders", ("o_orderkey",), 8, ("o_orderkey",))
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = P.physical_plan(j)
        assert P.count_exchanges(j) == 0, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_export_partition_pruning(spark, tmp_path):
    from strategy_analyzer_exporter_spark.sinks import write_parquet

    path = str(tmp_path / "feat")
    write_parquet(features_df(spark, SF, TESTDATA_CONFIG), path, partition_by=("day",))
    back = spark.read.parquet(path).filter(F.col("day") == 20240102)
    assert "PartitionFilters: [isnotnull(day" in P.physical_plan(back)


def test_source_partitioned_pruned_prunes_lang(spark):
    """The lang IN ('en','de') filter must be a PartitionFilter on the
    hive-partitioned read — directory pruning, not a data filter."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["source_partitioned_pruned"](spark, SF)
    plan = P.physical_plan(q)
    assert "PartitionFilters: [lang" in plan or "PartitionFilters: [isnotnull(lang" in plan, plan


def test_tpch2_q5_broadcasts_dims_and_pushes_dates(spark):
    """Q5's dimension chain (region->nation) and the date filter must
    not touch the fact side: nation/region broadcast, the o_orderdate
    predicate reaches the orders parquet scan."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["q5_local_supplier_volume"](spark, SF)
    assert P.count_broadcast_joins(q) >= 1, P.physical_plan(q)
    pushed = P.pushed_filters(q)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_tpch2_q9_part_filter_pushdown(spark):
    """The p_name filter is the main selectivity lever in Q9 — it must
    reach the part scan (a StartsWith/Contains pushed filter). At test
    scale the filtered part side broadcasts via SIZE STATS (the explicit
    hint was removed in r06: filtered part is a fraction of a scaling
    table), so the lineitem side never shuffles on p_partkey here,
    while at 100 TB AQE is free to fall back to a shuffle join."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["q9_product_profit"](spark, SF)
    pushed = P.pushed_filters(q)
    assert any("p_name" in p for p in pushed), pushed
    assert P.count_broadcast_joins(q) >= 2, P.physical_plan(q)  # part + nation


def test_tpch2_q11_total_is_single_row_broadcast(spark):
    """Q11's total-value scalar must join as a broadcast (1-row side),
    never a shuffle."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["q11_important_parts"](spark, SF)
    plan = P.physical_plan(q)
    assert "BroadcastNestedLoopJoin" in plan or P.count_broadcast_joins(q) >= 1, plan


def test_pii_scrub_is_map_only(spark):
    """The scrub is a per-row pure function: zero exchanges, the
    featurizer plan shape."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["pii_email_scrub"](spark, SF)
    assert P.count_exchanges(q) == 0, P.physical_plan(q)


def test_bruteforce_streams_corpus_not_pairs(spark):
    """The production brute-force scorer must be the streamed shape:
    one MapInPandas over the corpus (query matrix in the closure), and
    NO join that materializes vector pairs before scoring."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    plan = P.physical_plan(QUERIES["similarity_bruteforce_topk"](spark, SF))
    assert "MapInPandas" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_quantize_is_map_only(spark):
    """int8 quantization is a per-row pure function of the vector:
    zero exchanges, like the PII scrub."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["embedding_quantize_int8"](spark, SF)
    assert P.count_exchanges(q) == 0, P.physical_plan(q)


def test_media_decodes_are_map_only(spark):
    """All four real decoders (PPM, BMP, WAV, Y4M) are per-row pure
    byte parsers: zero exchanges — the featurizer plan shape that
    scales by adding executors, never by shuffling payloads (Y4M's
    frame fan-out happens inside the Arrow batch)."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    for name in (
        "multimodal_decode_ppm",
        "multimodal_decode_bmp",
        "multimodal_decode_wav",
        "multimodal_decode_y4m",
        # r07: the binaryFile-source variant must keep the same shape —
        # file scan → project(media_id, content) → Arrow decode, no
        # exchange between source and parser
        "multimodal_source_binaryfile",
    ):
        q = QUERIES[name](spark, SF)
        assert P.count_exchanges(q) == 0, (name, P.physical_plan(q))


def test_bucketed_readback_join_is_exchange_free(spark):
    """The bucketed-at-rest surface (VERDICT r06 #2): the read-back
    join's plan must contain ZERO shuffle exchanges — the groupBy rides
    the bucketed scan's hashpartitioning(doc_id) and the sort-merge
    join consumes both bucketed layouts directly. Also pins that both
    scans actually take the bucketed-scan path and the join really is
    SMJ (a broadcast join would pass the exchange assertion without
    proving anything about bucketing)."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["source_bucketed_join"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 0, plan
    assert P.count_sort_merge_joins(q) == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_packed_shard_source_moves_metadata_not_media(spark):
    """The packed-shard media source (VERDICT r07 #2): exactly ONE
    exchange, and it repartitions MANIFEST rows — the exchanged schema
    must carry no binary column (media bytes are range-read inside the
    task, never shuffled). The decode output matches the inline and
    binaryFile twins' oracle; this test pins the layout's plan shape."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["multimodal_source_packed_shards"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 1, plan
    ex = plan[plan.index("Exchange"):]
    ex_line = ex[: ex.index("\n")]
    assert "binary" not in ex_line.lower(), ex_line
    # the scan that feeds the exchange reads only manifest columns
    assert "payload" not in plan.split("Exchange")[-1], plan


def test_mixed_shard_source_moves_metadata_not_media(spark):
    """The mixed-modality shard set (VERDICT r08 #5) keeps the WAV
    twin's plan shape: ONE exchange, manifest metadata only (the
    format tag rides along; media bytes never shuffle)."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["multimodal_source_mixed_shards"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 1, plan
    ex = plan[plan.index("Exchange"):]
    ex_line = ex[: ex.index("\n")]
    assert "binary" not in ex_line.lower(), ex_line


def test_ivfpq_at_rest_scan_prunes_partitions(spark):
    """The at-rest IVF-PQ index (VERDICT r08 #2): the stored code
    table is partitioned by cell and the probe restricts it with a
    LITERAL cell set — the pruning must appear as a PartitionFilter on
    the codes scan (the scan itself prunes; a post-scan Filter would
    read every cell's files). Output must equal the join-restricted
    in-session twin row-for-row."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["similarity_ivfpq_at_rest"](spark, SF)
    plan = P.physical_plan(q)
    code_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "pq_index" in ln and "code0" in ln
    ]
    assert code_scans, plan
    assert all("PartitionFilters: [cell" in ln for ln in code_scans), code_scans
    at_rest = sorted(tuple(r) for r in q.collect())
    twin = sorted(
        tuple(r)
        for r in QUERIES["similarity_ivfpq_topk"](spark, SF).collect()
    )
    assert at_rest == twin


def test_ivfpq_frozen_ingest_covers_all_vectors_and_prunes(spark):
    """The frozen-codebook ingest (r09): after staging, the stored code
    table covers EVERY vector (corpus write + batch append into the
    same cell partitions), the probe scan still prunes by cell, and the
    batch rows live in cells assigned by the READ-BACK centroids (the
    append path never touches training state — structural, but the
    coverage count is the observable)."""
    from strategy_analyzer_exporter_spark.operators.pq import ivfpq_frozen_dir
    from strategy_analyzer_exporter_spark.registry import QUERIES
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    d = ivfpq_frozen_dir(spark, SF)
    n_emb = load_table(spark, SF, "embeddings").count()
    codes = spark.read.parquet(d + "/codes")
    assert codes.count() == n_emb
    assert codes.select("vec_id").distinct().count() == n_emb
    q = QUERIES["similarity_ivfpq_frozen_ingest"](spark, SF)
    plan = P.physical_plan(q)
    code_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "pq_frozen" in ln and "code0" in ln
    ]
    assert code_scans, plan
    assert all("PartitionFilters: [cell" in ln for ln in code_scans), code_scans


def test_cms_and_misra_gries_agree_on_heavy_hitters(spark):
    """Two sketch families, one exact-defined output: the count-min
    query's token set must equal the Misra–Gries query's (same corpus,
    same tf·(K+1) > n threshold), and CMS must never underestimate."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    cms = QUERIES["agg_heavy_hitters_cms"](spark, SF).collect()
    mg = QUERIES["agg_heavy_hitters_sketch"](spark, SF).collect()
    assert {r["token"] for r in cms} == {r["token"] for r in mg}
    assert all(r["cms_est"] >= r["tf_total"] for r in cms)
    assert all(r["overestimate"] == r["cms_est"] - r["tf_total"] for r in cms)


def test_tfidf_bucketed_twin_cuts_the_token_shuffle(spark):
    """The at-rest TF-IDF twin (VERDICT r07 #3) must shuffle strictly
    less than the re-explode form: the full-token-stream
    groupBy(doc_id, token) rides the bucketed scan's
    hashpartitioning(doc_id), so only aggregated relations (tf, vocab)
    ever cross an exchange."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    base = P.count_exchanges(QUERIES["text_tfidf_topk"](spark, SF))
    bucketed = P.count_exchanges(QUERIES["text_tfidf_topk_bucketed"](spark, SF))
    assert bucketed < base, (bucketed, base)
    plan = P.physical_plan(QUERIES["text_tfidf_topk_bucketed"](spark, SF))
    assert plan.count("Bucketed: true") >= 1, plan


def test_bm25_bucketed_twin_cuts_the_token_shuffle(spark):
    """The BM25 at-rest twin (VERDICT r11 #5), same contract as the
    TF-IDF twin above: strictly fewer exchanges than the re-tokenize
    form AND within the r11 verdict's ≤ 2 budget — tf and dl both ride
    the bucketed scan's hashpartitioning(doc_id); what shuffles is the
    aggregated vocabulary and the 5-term posting lists."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    base = P.count_exchanges(QUERIES["text_bm25_topk"](spark, SF))
    bucketed = P.count_exchanges(QUERIES["text_bm25_topk_bucketed"](spark, SF))
    assert bucketed < base, (bucketed, base)
    assert bucketed <= 2, P.physical_plan(
        QUERIES["text_bm25_topk_bucketed"](spark, SF)
    )
    plan = P.physical_plan(QUERIES["text_bm25_topk_bucketed"](spark, SF))
    assert plan.count("Bucketed: true") >= 1, plan


def test_bucketed_staging_reattaches_without_rewrite(spark):
    """ADVICE r07: a session that finds a valid ``_STAGED_OK`` layout
    but no catalog entry (= a fresh process sharing SPARK_GRAFT_TMP_DIR)
    must RE-ATTACH via DDL instead of overwriting the files another
    process may be reading. Simulated by dropping the catalog entries:
    the rebuilt tables must be served by the IDENTICAL on-disk files
    (same names, sizes, mtimes) and still scan bucketed."""
    import os

    from strategy_analyzer_exporter_spark.operators.bucketed import (
        bucketed_doc_tables,
    )
    from strategy_analyzer_exporter_spark.registry import QUERIES
    from strategy_analyzer_exporter_spark.sources.staging import staging_root

    docs_tbl, toks_tbl = bucketed_doc_tables(spark, SF)

    def listing(table: str) -> list[tuple[str, int, int]]:
        d = os.path.join(staging_root(), "bucketed", table)
        return sorted(
            (f, os.stat(os.path.join(d, f)).st_size,
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = {t: listing(t) for t in (docs_tbl, toks_tbl)}
    for t in (docs_tbl, toks_tbl):
        spark.sql(f"DROP TABLE {t}")
    assert bucketed_doc_tables(spark, SF) == (docs_tbl, toks_tbl)
    assert {t: listing(t) for t in (docs_tbl, toks_tbl)} == before
    q = QUERIES["source_bucketed_join"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 0, plan
    assert plan.count("Bucketed: true") == 2, plan


# Queries allowed explicit F.broadcast() hints, with the bound that
# justifies each: a hint overrides Spark's size threshold, so it is
# legitimate ONLY on a side whose row count is provably independent of
# the data scale (VERDICT r05 #4 — this sweep is what would have caught
# the q16/q18 hints automatically). Everything else must be a plain
# join: AQE still broadcasts at runtime while a side is genuinely
# small, and stops when it isn't — exactly the adaptivity a hint
# destroys.
#
# Each value is the EXACT allowed hint count. Exact equality, not an
# upper bound: a removed hint must force the allowlist entry to shrink,
# or a stale cap would silently admit a future unvetted hint (ADVICE
# r06).
BROADCAST_HINT_ALLOWLIST: dict[str, int] = {
    # fixed dimension tables: nation = 25 rows, region = 5 at every SF
    "agg_rollup": 2,
    "join_inner_broadcast": 1,
    "join_multiway": 2,
    "q5_local_supplier_volume": 2,
    "q7_volume_shipping": 2,  # two nation aliases
    "q8_market_share": 3,  # region + two nation aliases
    "q9_product_profit": 1,  # nation (part hint removed r06)
    "q10_returned_items": 1,
    # 1-row scalar relations (global max / avg / total / count / shift)
    "agg_heavy_hitters_sketch": 2,  # 1-row token total + 1-row MG bound
    "agg_revenue_concentration": 1,
    "cdc_merge_upsert": 1,
    "domain_mixture_plan": 1,
    # 1-row totals (appears in BOTH the plan subtree and the selection
    # subtree's copy of it = 2 hint nodes) + the ≤#sources-row plan
    # side of the pass-2 bucket join — source is a bounded domain
    # vocabulary (the mixture table a human reviews), never corpus-
    # scaling; the corpus side is plain scan+filter
    "sample_temperature_mixture": 3,
    "feature_warmup_global": 1,  # 1-row (day,time) warm-up threshold
    "q11_important_parts": 1,
    "q15_top_revenue_supplier": 1,
    "q22_idle_rich_customers": 1,
    "text_tfidf_topk": 1,  # 1-row corpus doc count
    "text_tfidf_topk_bucketed": 1,  # same 1-row doc count, at-rest twin
    "text_bm25_topk": 1,  # 1-row (n_docs, avgdl) stats scalar
    "text_bm25_topk_bucketed": 1,  # same 1-row stats scalar, at-rest twin
    # bounded-enum group keys: l_returnflag ≤ 3, event_type is a small
    # fixed vocabulary, p_brand = 25 "Brand#MN" values at every SF
    "agg_approx_percentile_bound": 1,
    "events_zscore_outliers": 1,
    "subquery_correlated_min": 1,
    "winsorize_prices": 1,
    # PQ codebooks (m × 256 centroids) and per-query distance tables /
    # ground-truth top-k over the FIXED 10-row query evaluation matrix.
    # similarity_pq_recall composes all four ANN pipelines; every
    # hinted side is scale-independent.
    "similarity_pq_adc": 8,
    # the flat-PQ 8 (codebooks + per-query distance tables) + the
    # coarse-centroid relation (IVF_CELLS rows) on the probe crossJoin
    "similarity_ivfpq_topk": 9,
    # the at-rest twin: 4 stored codebooks + 4 per-query distance
    # tables (the coarse-probe crossJoin's cents hint is not in the
    # returned plan — the probe is collected once, ≤ 20 rows, and
    # re-materialized as a local relation)
    "similarity_ivfpq_at_rest": 8,
    # frozen-ingest twin probes through the same _at_rest_topk
    "similarity_ivfpq_frozen_ingest": 8,
    # tombstoned twin: the at-rest 8 + the tombstone relation's
    # anti-join hint (the takedown list — thousands of ids vs billions
    # of vectors at scale, broadcastable by design; VERDICT r09 #4)
    "similarity_ivfpq_tombstoned": 9,
    # the vacuumed twin probes through the same _at_rest_topk but with
    # NO tombstone broadcast — the at-rest baseline's 8 (centroids + 4
    # per-subspace codebook distance relations, etc.), one fewer than
    # the tombstoned twin, which is itself the point (r11)
    "similarity_ivfpq_vacuumed": 8,
    # the dedup tombstone relation, same bound (retired corpus doc ids)
    "dedup_incremental_tombstoned": 1,
    # 1-row token total + the 256-row merged CMS matrix (d·w constant)
    "agg_heavy_hitters_cms": 2,
    "similarity_pq_recall": 16,
}


@pytest.fixture(scope="module")
def registered_plans(spark):
    """One sweep over every registered batch query: builds each ONCE and
    records (broadcast hints, unpartitioned windows) for the two
    repo-wide plan checks below. Streaming queries
    are skipped: building one runs a whole stream, and the returned
    DataFrame is a finished memory-table result with no join or window
    surface on the batch side."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    out = {}
    for name, fn in sorted(QUERIES.items()):
        if name.startswith("streaming_"):
            continue
        q = fn(spark, SF)
        out[name] = (P.count_broadcast_hints(q), P.count_unpartitioned_windows(q))
    return out


def test_no_forced_broadcast_of_scaling_relations(registered_plans):
    """Repo-wide broadcast-hint sweep: every registered query's analyzed
    plan must contain EXACTLY the allowlisted hint count (default 0) —
    a new unvetted hint fails, and so does a stale allowlist entry
    after a hint is removed (ADVICE r06)."""
    offenders = {}
    for name, (n, _) in registered_plans.items():
        allowed = BROADCAST_HINT_ALLOWLIST.get(name, 0)
        if n != allowed:
            offenders[name] = (n, allowed)
    assert not offenders, offenders


def test_finance_incremental_is_one_day_shuffle(spark):
    """The O(n) incremental indicator family (r05) must keep the
    grouped-map shape: exactly ONE hash(day) exchange feeding the
    Python state pass — a second exchange means the bars derivation
    stopped sharing its day partitioning with the applyInPandas."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    for name in ("bars_rsi", "bars_atr", "bars_macd"):
        q = QUERIES[name](spark, SF)
        assert P.count_exchanges(q) == 1, (name, P.physical_plan(q))


def test_funnel_one_pass_is_single_shuffle(spark):
    """The one-pass funnel's whole point: events scanned once, ONE
    hash(user_id) exchange shared by the qualifying window and the
    final aggregate — vs the relational twin's 3 scans / 5 exchanges.
    Also all-JVM: the measured-and-rejected applyInPandas variant paid
    a full-event-log Arrow transfer (7.3 s vs 1.9 s at 10×)."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["events_funnel_one_pass"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Pandas" not in plan, plan


def test_relational_analytics_exchange_budgets(spark):
    """The relational funnel/retention twins keep their shuffle budgets
    — a regression here (e.g. a lost exchange reuse after a refactor)
    shows up as a count jump long before it shows up as wall time. The
    pinned budgets are the r05 MEASURED counts (5 and 4) plus one
    headroom each for AQE plan variation across sf."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    for name, budget in (("events_funnel_3step", 6), ("events_retention_cohorts", 5)):
        q = QUERIES[name](spark, SF)
        assert P.count_exchanges(q) <= budget, (name, P.physical_plan(q))


def test_retention_one_pass_budget(spark):
    """One scan, two exchanges (hash(user_id) window for dedupe+cohort,
    then the matrix aggregate), no join — vs the relational twin's
    distinct + agg + join + agg."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    q = QUERIES["events_retention_one_pass"](spark, SF)
    plan = P.physical_plan(q)
    assert P.count_exchanges(q) == 2, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_minhash_exchange_budget(spark):
    """dedup_minhash_lsh's per-run shuffle budget (r04 #4 exchange
    diet): the cached signature relation means candidate generation and
    the Jaccard verify add only a handful of distinct shuffles on top of
    the one-time gram/signature cache builds. Budget ≤ 6 distinct
    exchanges (measured 2 warm at sf0.001; headroom for AQE SMJ
    fallbacks at larger sf)."""
    from strategy_analyzer_exporter_spark import summaries
    from strategy_analyzer_exporter_spark.registry import QUERIES

    summaries.clear()
    q = QUERIES["dedup_minhash_lsh"](spark, SF)
    q.write.format("noop").mode("overwrite").save()
    assert P.count_exchanges(q) <= 6, P.physical_plan(q)


def test_no_registered_query_has_unpartitioned_window(registered_plans):
    """No registered query may rank through a WindowExec with an empty
    partition spec — that moves the whole relation to ONE task (the
    q3/q10/vocab defect of VERDICT r03). Global top-k must be
    TakeOrderedAndProject + a constant-key window over the k survivors
    (functions/topk.py)."""
    offenders = {
        name: n for name, (_, n) in registered_plans.items() if n
    }
    assert not offenders, offenders


def test_kmeans_assign_stream_is_map_only(spark):
    """The streamed k-means assign must not shuffle the corpus: the
    centroid matrix rides in the closure, so the plan is scan →
    (optional spread) → MapInPandas with no joins at all."""
    from strategy_analyzer_exporter_spark.operators.pipeline import (
        kmeans_assign_stream,
    )
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    e = load_table(spark, SF, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) as v"
    )
    rows = e.orderBy("vec_id").limit(4).selectExpr("vec_id as cid", "v as cv").collect()
    plan = P.physical_plan(kmeans_assign_stream(e, rows))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan


def test_bucketed_tables_have_one_file_per_bucket(spark):
    """The bucketed write discipline (repartition(N, key) before
    bucketBy(N, key)) must yield exactly ONE data file per bucket:
    multi-file buckets silently disable the sorted-bucket read path and
    multiply small files at scale. Guards the murmur3 alignment
    assumption between repartition and the bucketed writer."""
    import os
    import re

    from strategy_analyzer_exporter_spark.operators.bucketed import (
        N_BUCKETS,
        bucketed_doc_tables,
    )
    from strategy_analyzer_exporter_spark.sources.staging import staging_root

    for tbl in bucketed_doc_tables(spark, SF):
        d = os.path.join(staging_root(), "bucketed", tbl)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        # bucket id is encoded in the file name: part-..._<bucket>.c...
        buckets = sorted(
            int(m.group(1))
            for f in files
            if (m := re.search(r"_(\d{5})(?:\.|$)", f))
        )
        assert len(files) == N_BUCKETS, (tbl, files)
        assert buckets == list(range(N_BUCKETS)), (tbl, buckets)


def test_scan_split_count_matches_planner(spark, tmp_path):
    """scan_split_count replicates Spark's FilePartition packing from
    file metadata alone (ADVICE r14: the spread_scan no-op path must
    not force planning + an RDD conversion). Pinned against the
    planner's own partition count for every fixture table layout plus
    a staged multi-file table, so upstream packing changes are caught
    here instead of silently diverging."""
    from strategy_analyzer_exporter_spark.sources.tables import (
        TABLES,
        scan_split_count,
    )

    for sf in ("0.001", "0.01", "0.1"):
        for name in TABLES:
            df = load_table(spark, f"/root/testdata/sf{sf}", name)
            assert scan_split_count(df) == df.rdd.getNumPartitions(), (
                sf,
                name,
            )
    # multi-file layout: 7 part files of range data
    p = str(tmp_path / "multi.parquet")
    spark.range(0, 200_000).repartition(7).write.parquet(p)
    df = spark.read.parquet(p)
    assert scan_split_count(df) == df.rdd.getNumPartitions()
    # non-file sources fall back (-1)
    assert scan_split_count(spark.range(5)) == -1
