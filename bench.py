"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Ends stdout with ONE compact JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>, ...}

The full result — scale probe, exchange counts, extras — is written to
BENCH_FULL.json next to this file. The stdout line stays compact on
purpose: the driver captures a bounded TAIL of stdout, and round 5's
probe-grown single line overflowed it (`BENCH_r05.json parsed: null`),
losing the whole bench record (VERDICT r05 #1).

Each query is forced to full materialization with the noop sink (count()
alone would let Catalyst prune final projections). The flagship feature
pipeline additionally reports rows/s to mirror the reference's bars/s
throughput print (StrategyAnalyzerExporter.cs:240-245).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# headline set: the reference-pipeline equivalent + the heaviest
# representative of each operator family
HEADLINE = (
    "features_flagship",
    "agg_pricing_summary",
    "join_multiway",
    "join_asof",
    "window_topk_per_group",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_bruteforce_topk",
    "similarity_lsh_ann",
    "text_quality_score",
    "kmeans_embeddings",
    "corpus_clean_pipeline",
    "pack_sequences",
    "streaming_features",
    # round-3 representatives
    "similarity_pq_adc",
    "pii_email_scrub",
    "text_repetition_signals",
    # round-4 representatives
    "bars_stochastic",
    "embedding_quantize_int8",
    "events_funnel_3step",
    # round-5: bars_macd joins the headline now that the registered
    # query is the O(n)-per-day incremental grouped-map (the r4 comment
    # excluding the O(n²) prefix-fold applies only to the *_fold
    # oracle-parity twins, which stay out)
    "bars_macd",
    # round-7 representatives: the bucketed-at-rest read-back join
    # (zero-exchange SMJ over the bucketed layout) and the
    # binaryFile-source media decode
    "source_bucketed_join",
    "multimodal_source_binaryfile",
    # round-8: the packed-shard twin of the binaryFile source (same
    # decode, container-object layout — VERDICT r07 #2) and the TF-IDF
    # twins, re-explode vs bucketed-at-rest, so the layout's headline
    # exchange-count/wall-time delta is recorded side by side
    # (VERDICT r07 #3)
    "multimodal_source_packed_shards",
    "text_tfidf_topk",
    "text_tfidf_topk_bucketed",
    # round-9: the mixed-modality shard set (same container layout,
    # format-dispatched decode) next to its WAV-only sibling, and the
    # at-rest incremental dedup (corpus side served from the stored
    # index — the ingest-loop headline shape)
    "multimodal_source_mixed_shards",
    "dedup_incremental_at_rest",
)

# queries whose work happens (partly) INSIDE the query fn — a stream
# runs to completion and returns a memory-table result; k-means runs
# its Lloyd rounds eagerly (centroids live on the driver between
# rounds). Time build + materialization together, or the headline
# would only measure the final cheap assign.
# (PQ builds its four codebooks eagerly at query-build time too)
EAGER_BUILD = {"streaming_features", "kmeans_embeddings", "similarity_pq_adc"}

# Micro-batch size for the streaming headline. The cost curve was
# MEASURED in r07 (docs/BENCH_NOTES.md §r07): throughput rises
# monotonically with maxFilesPerTrigger (10× corpus: 111k rows/s at
# 64 → 140k at 256 → 170k at 1024) because every batch pays a fixed
# state-store-commit + Python-round-trip cost. 256 is the chosen
# default: it captures most of the amortization while the 10× probe
# (300 day-files) still runs ≥2 micro-batches, so the number measured
# remains a STREAM with cross-batch state, not a single-batch drain
# (1024 would collapse t10 to one batch). Cross-batch state continuity
# is separately verified by the driver correctness run (2-batch
# config) and tests/test_streaming_sinks.py; results are bit-equal at
# every setting.
os.environ.setdefault("SPARK_GRAFT_STREAM_MFPT", "256")

TRIALS = 3  # report median-of-3 — guards against one-off JIT/GC noise

# ---------------------------------------------------------------------------
# Scale probe: the heaviest queries re-run on a 10× synthetic corpus,
# reporting wall-time scaling exponents (log10 t10/t1 ≈ 1.0 = linear,
# ≈ 0 = fixed-overhead-bound). The 100 TB claims should be measured,
# not argued: a superlinear exponent here flags a plan whose candidate
# generation or shuffle grows faster than the data.

PROBE_QUERIES = (
    "dedup_minhash_lsh",
    # r06: the banded-integer-votes family gets an exponent too (second
    # heaviest headline dedup; previously only minhash was probed)
    "dedup_simhash",
    "text_quality_score",
    "corpus_clean_pipeline",
    "similarity_bruteforce_topk",
    "kmeans_embeddings",
    # pair-shaped ANN (r03 regression pair): the banded bucket +
    # Catalyst-fold re-rank shape documented in functions/vector.py
    "similarity_lsh_ann",
    "similarity_pq_adc",
    # r05 analytics wave (VERDICT r04 #8): the post-broadcast-fix join
    # plans get measured exponents like the dedup/similarity families.
    # These scale on EVENTS rows, not documents — _stage_10x grows the
    # events table 10× too (disjoint user/event id spaces per copy, so
    # per-user funnel/retention/as-of structure replicates exactly and
    # pairs scale linearly by construction).
    "events_funnel_3step",
    "events_retention_cohorts",
    "join_asof_tolerance",
    # the one-pass twins: same oracles, 1 scan / 1-2 shuffles — their
    # exponents vs the relational shapes are the measured case for the
    # single-pass window forms at scale
    "events_funnel_one_pass",
    "events_retention_one_pass",
    # day-keyed pipelines over the v5 corpus (disjoint day ranges per
    # copy → 10× DAYS): the reference's own feature pipeline and the
    # incremental indicator family, measured instead of argued
    "features_flagship",
    "bars_macd",
    # r07 (VERDICT r06 #5): the heaviest media decoder — Y4M multi-frame
    # 4:2:0 with per-sampled-frame fan-out inside the Arrow batch.
    # Map-only is plan-asserted; the exponent makes linearity measured,
    # not assumed, per the repo's own convention
    "multimodal_decode_y4m",
    # r07: the remaining three decoders — same convention as Y4M (all
    # map-only plan-asserted, so linearity is structural, but every
    # decoder should carry a MEASURED exponent, not an argued one)
    "multimodal_decode_ppm",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    # r07: the binaryFile-source twin of the WAV decode — at 10× the
    # staging fans out to ~50k individual files, so this exponent also
    # measures the small-files listing/scan cost a real media lake
    # pays (the one-time file staging lands in the warm-up call)
    "multimodal_source_binaryfile",
    # r07: Bloom-filter decontamination — the net-new query's exponent
    # on record next to decontaminate_ngram's broadcast-join shape
    # (bloom-vs-join trade measured in docs/BENCH_NOTES.md §r07)
    "decontaminate_bloom",
    # r07: the bucketed-at-rest read-back — the first probe call on the
    # 10× dir pays the one-time bucketed ingest (warm-up), then the
    # timed trials measure the exchange-free read-back join itself
    "source_bucketed_join",
    # r08: the packed-shard media source — the scale-safe twin of the
    # file-per-record binaryFile layout (whose ~1.0 exponent was r07's
    # one weak mark). Expectation: decode-bound ~0.2-class, because the
    # object count no longer grows with records
    "multimodal_source_packed_shards",
    # r08: the TF-IDF twins — the at-rest layout's t1/t10 delta vs the
    # re-explode form IS the measured repeated-pass story (the bucketed
    # ingest itself lands in the warm-up call, like source_bucketed_join)
    "text_tfidf_topk",
    "text_tfidf_topk_bucketed",
    # r08: paragraph-block decontamination — block explode is 16× fewer
    # rows than the token explode; exponent on record like its 13-gram
    # siblings
    "decontaminate_paragraphs",
    # r08 wave 2: incremental-ingest dedup (batch-vs-corpus band join —
    # candidate volume scales with the batch, the exponent should sit
    # under the self-join's) and the Misra–Gries heavy-hitter sketch
    # (map-only summary pass + a ≤(K+1)·P-row merge)
    "dedup_incremental_minhash",
    "agg_heavy_hitters_sketch",
    # r08 wave 3: the composed IVF-PQ index (coarse probe restricts the
    # ADC join to nprobe/cells of the corpus; index builds land in the
    # warm-up like PQ's)
    "similarity_ivfpq_topk",
    # r09: the at-rest twins + the round's sketch — every net-new query
    # probed at 1×/10× in its own round (the r07 convention).
    # dedup_incremental_at_rest: index staging (10× shingle) lands in
    # the warm-up; expect ≤ the in-memory incremental's 0.61 since the
    # timed pass reads the index instead of re-shingling the corpus.
    # similarity_ivfpq_at_rest: stored-index probe, expect the topk
    # twin's ~0.27 class. mixed shards: the packed layout with format
    # dispatch, expect ≈0.0 like the WAV shard set. CMS: map-only
    # constant-size matrix + exact-tf audit, expect MG's ~0.2 class.
    "dedup_incremental_at_rest",
    "similarity_ivfpq_at_rest",
    "multimodal_source_mixed_shards",
    "agg_heavy_hitters_cms",
    # r09 wave 2: frozen-codebook ingest — same probe shape as the
    # at-rest twin (staging incl. the batch append lands in warm-up)
    "similarity_ivfpq_frozen_ingest",
    # r10: the round's net-new — probe-time tombstone twins (expect the
    # baselines' exponents: the anti-join adds a broadcast over a tiny
    # relation, no new scaling term) and the append→compact lifecycle
    # query (staging incl. the epoch append + compaction lands in the
    # warm-up; the timed pass is a half-batch probe over the extended
    # index, expect the at-rest incremental's class)
    "dedup_incremental_tombstoned",
    "similarity_ivfpq_tombstoned",
    "dedup_index_lifecycle",
    # r11: vacuum twins — physical purge at compaction; staging (fork +
    # tombstone-compact) lands in warm-up, the timed pass is a plain
    # probe over the smaller index with NO anti-join: expect ≤ the
    # tombstoned twins' exponents
    "dedup_incremental_vacuumed",
    "similarity_ivfpq_vacuumed",
    # r11: substring-span dedup — gram-hash shuffle dominates and
    # cross-copy grams never collide in the 10× corpus, so duplicated
    # coverage grows linearly by construction; expect the minhash
    # class (~0.5-0.8, shuffle+window bound)
    "dedup_substring_spans",
    # r11: the span kernel's consumer — adds the token-position
    # fan-out join + reassembly agg on top of the span coverage;
    # linear by the same construction
    "text_clip_duplicated_spans",
    # r11: BM25 — the tf/df relations are TF-IDF's, plus the fixed-k
    # query-term posting-list join; expect the tfidf re-explode class
    "text_bm25_topk",
    # r11: containment — the ngram-jaccard candidate join shape over
    # the CACHED gram relation; pairs scale linearly in the 10x corpus
    # by construction (cross-copy grams never collide)
    "dedup_ngram_containment",
    # r11: SemDeDup at FIXED k was probed ONCE and removed from the
    # recurring set — measured exponent 1.71 (t1 7.74 s, t10 396.85 s
    # at 50k vectors / 12.5k per cluster): the within-cluster pairwise
    # cost grows ~quadratically when k stays fixed, which is exactly
    # the measured case for the paper's k ∝ n rule (cluster size, not
    # corpus size, must be the bounded quantity). That number stays on
    # record in docs/BENCH_NOTES.md §r11 as the fixed-k contrast.
    # r12 (VERDICT r11 #2): the registered query now DERIVES
    # k = max(KM_K, ⌈n/SEMDEDUP_CLUSTER_CAP⌉), capping cluster size —
    # the within-cluster pair count is ~n·CAP (linear) and the probe
    # re-enters the recurring set to keep the exponent measured. The
    # assign pass is n·k numpy flops (k ∝ n ⇒ ~n²/CAP), cheap per op
    # but the expected steepener at the probe's top end — whatever the
    # blend reads, it replaces the one-off 1.71.
    # r13 (VERDICT r12 #1): the assign is now TWO-LEVEL (coarse kc =
    # ⌈√k⌉ cells, then per-cell fine assign — ~2n·√k work, never n·k);
    # semdedup joins the 100× tier below so the no-n·k-term claim is
    # measured across two decades, and the ASSIGN stage itself is
    # measured cache-cold out-of-band (BENCH_NOTES §r13 — the memoized
    # in-probe timing alone would exclude the very term under test)
    "dedup_semdedup",
    # r13: the two-level assignment exposed as its own operator —
    # expect the semdedup class minus the pairwise stage
    "kmeans_two_level",
    # r12: the BM25 at-rest twin — same staged-token-table shape as
    # text_tfidf_topk_bucketed (ingest lands in the warm-up); expect
    # at or under the tfidf_bucketed class (VERDICT r11 #5)
    "text_bm25_topk_bucketed",
    # r12: the epoch materializer — the one-time shard WRITE (one
    # repartition-on-shard exchange + per-partition sort) lands in the
    # warm-up under the staging-memo convention (the at-rest family
    # pattern); the timed pass is the shard-file read-back, expect the
    # flat at-rest class
    "train_epoch_materialize",
    # r12: BPE merge training — ONE corpus shuffle builds the weighted
    # vocabulary, then every round runs on |vocab| rows; measured
    # out-of-band at registration t1 1.49 / t10 1.39 (exp ≈ 0.0, the
    # per-round fixed costs dominate the 10× vocab), kept recurring
    # to hold that claim
    "text_bpe_merges",
    # r13: the tokenizer-APPLY half — same one-corpus-shuffle shape
    # plus the |vocab|-row encode explode/agg; expect the trainer's
    # class (the corpus shuffle dominates both)
    "text_bpe_encode",
    # r13 wave 2: the per-DOCUMENT encode (word → segmentation join
    # back onto the corpus word explode + per-doc agg) — the corpus is
    # now touched twice (vocab build + explode-join), so expect a
    # LINEAR-class exponent, unlike the trainer/encoder's vocab-bound
    # flat class; that contrast is the point of measuring it
    "text_bpe_tokenize_docs",
    # r13 wave 2: CCNet-style LM bucketing — trigram explode, one
    # (lang, trigram) agg over the reference slice, co-partitioned
    # left join, per-doc agg, lang-window ntile; expect the
    # token-explode linear class (text_quality_score's family)
    "text_lm_likelihood_buckets",
    # r13 wave 3: the Gopher rule gate — one token-explode hash-agg on
    # doc_id, no window; expect text_quality_score's linear class
    "text_gopher_rules",
    # r13 wave 3: temperature mixture — two corpus passes (per-source
    # counts, then the broadcast-plan bucket filter); the passes are
    # scan+agg-bound, expect the flat sample/split class plus the
    # second scan's linear term
    "sample_temperature_mixture",
    # r13 wave 4: C4-style corpus-wide paragraph dedup + doc rebuild —
    # block explode (1/16 token volume), hash(para) first-occurrence
    # window, doc_id rebuild agg; expect the decontaminate_paragraphs
    # class (same explode) plus the window/rebuild linear term
    "text_paragraph_dedup",
    # streaming at 10× days: 300 day-files at the MFPT=256 default
    # (r07) → 2 micro-batches, so the exponent (~0.7) is trigger-cycle
    # growth, not state growth — rows/s IMPROVES at t10 (state compute
    # amortizes the per-batch machinery; 140k rows/s at t10 vs ~77k at
    # t1). Full MFPT cost curve: docs/BENCH_NOTES.md §r07.
    "streaming_features",
)

# VERDICT r09 #5: the flat-exponent at-rest family gets a THIRD decade.
# Every scale claim so far rests on 1×/10×; for layouts whose whole
# point is "the scan prunes / the layout co-locates" (exponents
# 0.04-0.36), a 100× point separates "flat because the plan scales"
# from "flat because fixed costs dominate both measured points". Only
# the cheap at-rest queries get the tier — their t100 staging
# (documents+embeddings copies, shard payloads, index builds) lands in
# the probe warm-up like every other staged layout.
PROBE100_QUERIES = (
    "source_bucketed_join",
    "multimodal_source_packed_shards",
    "multimodal_source_mixed_shards",
    "text_tfidf_topk_bucketed",
    "dedup_incremental_at_rest",
    "similarity_ivfpq_at_rest",
    # VERDICT r10 #6: the lifecycle family's second decade — "the
    # tombstone anti-join is free" and "epoch append + compact stays in
    # the at-rest class" measured at 100×, not just claimed from 1×/10×
    "dedup_index_lifecycle",
    "dedup_incremental_tombstoned",
    "similarity_ivfpq_tombstoned",
    "similarity_ivfpq_frozen_ingest",
    # r13 (VERDICT r12 #1): the two-level SemDeDup's second decade —
    # the claim "no term scales as n·k" needs the 100× point where the
    # flat assign's n²/CAP would have dominated (200k vectors, k=2000:
    # flat = 4×10^8 pair-distances; two-level = ~2×10^7)
    "dedup_semdedup",
    # r13 (VERDICT r12 #7): streaming's third decade — 100× distinct
    # days through the MFPT=256 micro-batch machinery (the r07 curve
    # was measured at 10×); settles whether per-batch fixed cost
    # amortizes or compounds at the next decade
    "streaming_features",
    # r14 (VERDICT r13 #1): the paragraph family's second decade — the
    # hash-keyed metadata decision's whole point is that the decision
    # shuffle stays 24 B/row while text crosses once; the 100× point
    # measures that claim where the block explode's fixed costs stop
    # dominating
    "text_paragraph_dedup",
    # r15 (VERDICT r14 #2): pq-adc's pairs-vs-cells decision is now
    # metadata-adaptive with the flip at PQ_K^PQ_M = 65,536 corpus
    # rows — BETWEEN the 10× (20k → pairs) and 100× (200k → cells)
    # tiers, so the third decade is the only driver-visible datum on
    # the cells side of the crossover
    "similarity_pq_adc",
)
# min-of-3 (was 2): this host shows intermittent noisy-neighbor bursts
# that inflate ISOLATED probe entries 2-4× even on an idle box (r07:
# three consecutive full runs each had a different single outlier —
# minhash t10 7.5 s, then features_flagship t10 7.2 s — while targeted
# re-probes reproduced the historical values); a third trial makes the
# min survive a burst that spans one trial window
PROBE_TRIALS = 3


def _summary_builds(spark) -> dict:
    """Cold-build seconds for every persisted-summary relation the
    warm headline numbers exclude (VERDICT r14 #3/#5: the summaries
    are materialized by the warm-up convention, so the per-query
    medians measure the CONSUMERS — this records what one cold build
    of each summary costs, making the warm numbers interpretable).
    Runs AFTER the headline loop: each memo is cleared for SF_DIR and
    the summary re-materialized through the noop sink once."""
    from strategy_analyzer_exporter_spark import summaries
    from strategy_analyzer_exporter_spark.operators import dedup as D
    from strategy_analyzer_exporter_spark.operators import pq as PQ

    out: dict[str, float] = {}

    def timed(tag, fn):
        spark.sparkContext.setJobDescription(f"summary build: {tag}")
        t0 = time.perf_counter()
        fn()
        out[tag] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    summaries.clear(SF_DIR)
    # minhash gram + signature relations (the sig build consumes the
    # just-built gram relation, so the two numbers decompose the
    # pipeline the way the memo does)
    timed("minhash_gram_rows", lambda: noop(D._gram_rows(spark, SF_DIR)))
    timed("minhash_sig_rows", lambda: noop(D._sig_rows(spark, SF_DIR)))
    timed("simhash_keys", lambda: noop(D._simhash_keys(spark, SF_DIR)))
    # PQ index (codebooks + codes; localCheckpoint is eager, so the
    # call itself is the build)
    timed("pq_index", lambda: PQ._pq_index(spark, SF_DIR))
    return out


def _probe_staging_root() -> str:
    root = os.environ.get("SPARK_GRAFT_TMP_DIR")
    if not root:
        import tempfile

        root = os.path.join(tempfile.gettempdir(), "spark_graft_staging")
    os.makedirs(root, exist_ok=True)
    return root


def _stage_10x(spark, sf_dir: str) -> str:
    """10× documents + embeddings derived from sf_dir, cached on disk.

    Document copy i suffixes every word with i (copy 0 = original):
    each copy is an exact isomorphic image of the corpus in its own
    vocabulary namespace, so within-copy similarity structure (near-dup
    pairs, LSH bucket densities) replicates the base corpus exactly and
    cross-copy shingles can never collide — candidate pairs scale
    LINEARLY in copies by construction, which is what a scaling probe
    must hold fixed. (Two rejected generators, measured: verbatim
    copies make every doc ~10 near-dups → quadratic pairs, exponent
    1.7; word-scrambles over the SHARED small vocabulary still inflate
    random shingle collisions → exponent 1.2.) Embedding copies get a
    tiny per-copy shift (ANN/k-means cost is O(n·k) regardless of
    distribution)."""
    from pyspark.sql import functions as F

    # v5: dir name carries the generator version so a cached corpus
    # from an older generator is never reused (v4 added the 10× events
    # table; v5 shifts each copy's timestamps into a disjoint 90-day
    # range so day-keyed pipelines — bars, features, streaming state —
    # see 10× DAYS instead of 10 copies collapsing onto one (day, time)
    # grid in the bars dedupe)
    out = os.path.join(
        _probe_staging_root(), "scale10x_v5_" + sf_dir.strip("/").split("/")[-1]
    )
    done_flag = os.path.join(out, "_STAGED_OK")
    if os.path.exists(done_flag):
        return out

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()

    def scramble(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                i = int(r["copy"])
                if i > 0:
                    text = " ".join(w + str(i) for w in r["text"].split())
                else:
                    text = r["text"]
                rows.append(
                    (
                        int(r["doc_id"]) + i * n_docs,
                        text,
                        r["lang"],
                        r["source"],
                        len(text),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    docs10 = (
        docs.crossJoin(spark.range(10).select(F.col("id").alias("copy")))
        .repartition(int(CPUS))
        .mapInPandas(
            scramble, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    docs10.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_emb = emb.count()
    others = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    emb10 = None
    for i in range(10):
        c = emb.select(
            (F.col("vec_id") + i * n_emb).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x + F.lit(float(i)) * F.lit(1e-4)).cast("float")
            ).alias("embedding"),
            *others,
        )
        emb10 = c if emb10 is None else emb10.unionByName(c)
    emb10.repartition(int(CPUS)).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # events 10×: copy i shifts event_id/user_id into disjoint spaces
    # and shifts ts by i·90 days (a uniform per-copy offset — within-
    # user event ORDER and gaps are untouched) — each copy is an exact
    # image of the base corpus's per-user event structure, so funnel
    # stages, retention cohorts, and as-of matches replicate per copy
    # and scale LINEARLY by construction (the same invariant the
    # document copies guarantee for shingles), while the disjoint day
    # ranges make bars-derived pipelines see 10× distinct days.
    # load_table, not a raw read: it normalizes the TIMESTAMP(NANOS)
    # ts (read as LONG under nanosAsLong) to a microsecond timestamp,
    # which timestampadd needs; the staged copy round-trips as
    # TIMESTAMP(MICROS), which load_table passes through
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # ONE scan for all staging scalars. max+1, not count(): the
    # disjoint-id-space invariant must not assume dense 0..n-1 ids
    # (equal today, so staged output unchanged). The per-copy ts shift
    # is derived from the corpus's actual day span (not a hard-coded
    # 90): a corpus spanning ≥ the shift would silently collapse day
    # keys across copies and fake the day-keyed probe exponents.
    # max(90, span+1) keeps the standard ≤30-day corpora byte-identical
    # to the v5 cache while staying correct for any span.
    max_eid, max_uid, ts_lo, ts_hi = ev.agg(
        F.max("event_id"), F.max("user_id"), F.min("ts"), F.max("ts")
    ).collect()[0]
    if max_eid is None:  # empty events table: max/min aggregate to NULL
        raise RuntimeError(
            f"cannot stage 10x events: {sf_dir}/events.parquet is empty"
        )
    n_ev = max_eid + 1
    n_users = max_uid + 1
    span_days = (ts_hi - ts_lo).days + 1
    shift_days = max(90, span_days + 1)
    ev10 = ev.crossJoin(spark.range(10).select(F.col("id").alias("copy"))).select(
        (F.col("event_id") + F.col("copy") * n_ev).alias("event_id"),
        F.expr(f"timestampadd(DAY, CAST(copy * {shift_days} AS INT), ts)").alias("ts"),
        (F.col("user_id") + F.col("copy") * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    ev10.repartition(int(CPUS)).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    open(done_flag, "w").close()
    return out


# ---------------------------------------------------------------------------
# Host-noise calibration (VERDICT r07 #4): r07's headline carried a
# uniform +8% smear vs r06 across 21 unchanged plans — host contention,
# but argued from prose. This makes cross-round deltas
# noise-ATTRIBUTABLE: a fixed, data-independent reference job timed
# with the same min-of-N discipline at run start and end, plus
# os.getloadavg() at both points. A headline delta that moves WITH the
# calibration is host load; one that moves without it is the code.
# The job is pure JVM codegen over range() — no disk, no Python, no
# shuffle — so it isolates the CPU/scheduling component the smear
# showed (uniform inflation incl. map-only plans).

CALIBRATION_ROWS = 200_000_000  # ~0.3 s on an idle local[32]


def _calibration(spark) -> dict:
    cal: dict[str, float] = {}
    df = (
        spark.range(0, CALIBRATION_ROWS, 1, int(CPUS))
        .selectExpr("sum(id * 3 + 7) AS s")
    )
    # warm until the timing stabilizes (≤2% run-to-run) or 8 rounds:
    # the first calibration runs on a cold JVM, and one warm-up is NOT
    # enough — C2 still compiling made the r08 first run's start
    # calibration read 0.173 s on an IDLE box vs 0.098 warm, which
    # would misattribute JIT ramp-up as host load
    prev = None
    for _ in range(8):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if prev is not None and abs(dt - prev) / max(dt, prev) < 0.02:
            break
        prev = dt
    times = []
    for _ in range(PROBE_TRIALS):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    cal["sec_min"] = round(min(times), 3)
    cal["sec_med"] = round(sorted(times)[len(times) // 2], 3)
    try:
        l1, l5, l15 = os.getloadavg()
        cal.update(
            {"load1": round(l1, 2), "load5": round(l5, 2), "load15": round(l15, 2)}
        )
    except OSError:
        pass
    return cal


def _stage_100x(spark, sf_dir: str) -> str:
    """100× documents + embeddings + events for the third decade
    (VERDICT r09 #5). Same copy-isomorphism invariant as _stage_10x
    (per-copy vocabulary namespaces → candidate pairs scale linearly
    by construction; per-copy disjoint id spaces and day ranges →
    day-keyed pipelines see 100× DAYS). v2 adds the events table so
    the streaming family can be probed at its third decade (VERDICT
    r12 #7); the v1 cache (documents+embeddings only) is never reused
    under the new name."""
    from pyspark.sql import functions as F

    out = os.path.join(
        _probe_staging_root(), "scale100x_v2_" + sf_dir.strip("/").split("/")[-1]
    )
    done_flag = os.path.join(out, "_STAGED_OK")
    if os.path.exists(done_flag):
        return out

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = docs.count()

    def scramble(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                i = int(r["copy"])
                if i > 0:
                    text = " ".join(w + str(i) for w in r["text"].split())
                else:
                    text = r["text"]
                rows.append(
                    (
                        int(r["doc_id"]) + i * n_docs,
                        text,
                        r["lang"],
                        r["source"],
                        len(text),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
            )

    docs100 = (
        docs.crossJoin(spark.range(100).select(F.col("id").alias("copy")))
        .repartition(int(CPUS) * 4)
        .mapInPandas(
            scramble,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
    docs100.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_emb = emb.count()
    others = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    emb100 = emb.crossJoin(
        spark.range(100).select(F.col("id").alias("copy"))
    ).select(
        (F.col("vec_id") + F.col("copy") * n_emb).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: (x + F.col("copy").cast("double") * F.lit(1e-4)).cast(
                "float"
            ),
        ).alias("embedding"),
        *others,
    )
    emb100.repartition(int(CPUS)).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    # events 100×: the _stage_10x v5 generator at 100 copies — disjoint
    # id spaces, per-copy ts shifts derived from the corpus's real day
    # span so day keys never collide across copies (100× distinct days)
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    max_eid, max_uid, ts_lo, ts_hi = ev.agg(
        F.max("event_id"), F.max("user_id"), F.min("ts"), F.max("ts")
    ).collect()[0]
    if max_eid is None:
        raise RuntimeError(
            f"cannot stage 100x events: {sf_dir}/events.parquet is empty"
        )
    n_ev = max_eid + 1
    n_users = max_uid + 1
    span_days = (ts_hi - ts_lo).days + 1
    shift_days = max(90, span_days + 1)
    ev100 = ev.crossJoin(
        spark.range(100).select(F.col("id").alias("copy"))
    ).select(
        (F.col("event_id") + F.col("copy") * n_ev).alias("event_id"),
        F.expr(
            f"timestampadd(DAY, CAST(copy * {shift_days} AS INT), ts)"
        ).alias("ts"),
        (F.col("user_id") + F.col("copy") * n_users).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    ev100.repartition(int(CPUS) * 4).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    open(done_flag, "w").close()
    return out


def _probe_one(spark, fn, dirs) -> dict:
    import math

    entry: dict[str, float] = {}
    for tag, d in dirs:
        times = []
        fn(spark, d).write.format("noop").mode("overwrite").save()  # warm
        for _ in range(PROBE_TRIALS):
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        entry[tag] = round(min(times), 3)
    if "t1" in entry and "t10" in entry:
        entry["exponent"] = round(
            math.log10(max(entry["t10"], 1e-9) / max(entry["t1"], 1e-9)), 2
        )
    if "t10" in entry and "t100" in entry:
        # second-decade exponent: does the flatness HOLD when fixed
        # costs stop dominating?
        entry["exponent_d2"] = round(
            math.log10(max(entry["t100"], 1e-9) / max(entry["t10"], 1e-9)), 2
        )
    return entry


def _scale_probe(spark, queries) -> dict:
    dir10 = _stage_10x(spark, SF_DIR)
    dir100 = _stage_100x(spark, SF_DIR)
    dirs = (("t1", SF_DIR), ("t10", dir10))
    dirs100 = dirs + (("t100", dir100),)
    probe: dict[str, dict] = {}
    for name in PROBE_QUERIES:
        probe[name] = _probe_one(
            spark, queries[name], dirs100 if name in PROBE100_QUERIES else dirs
        )
    return probe


def full_record_path(here: str, run_kind: str) -> str:
    """Where the full bench record lands. Refuses to DEMOTE record
    quality (VERDICT r12 wrong #2: the driver's host-smeared re-run
    silently clobbered the committed idle-comparable record in the
    working tree): a host-smeared run never overwrites an existing
    BENCH_FULL.json whose run_kind is idle-comparable — it is diverted
    to BENCH_FULL.host-smeared.json instead, with a stderr note. An
    idle-comparable run (same or better quality) always takes the
    primary slot; SPARK_GRAFT_BENCH_FORCE=1 overrides the guard."""
    primary = os.path.join(here, "BENCH_FULL.json")
    if run_kind == "idle-comparable" or os.environ.get(
        "SPARK_GRAFT_BENCH_FORCE"
    ) == "1":
        return primary
    try:
        with open(primary) as f:
            existing_kind = json.load(f).get("run_kind")
    except (OSError, ValueError):
        return primary  # nothing to demote (absent/unreadable record)
    if existing_kind != "idle-comparable":
        return primary
    diverted = os.path.join(here, "BENCH_FULL.host-smeared.json")
    print(
        "BENCH_FULL.json holds an idle-comparable record; this run is "
        f"{run_kind} — writing {os.path.basename(diverted)} instead "
        "(set SPARK_GRAFT_BENCH_FORCE=1 to overwrite)",
        file=sys.stderr,
    )
    return diverted


def main() -> None:
    from strategy_analyzer_exporter_spark.session import get_spark

    import __spark_entry__ as entrymod

    # no console progress bars: their \r-frames land in the driver's
    # bounded stdout tail capture and push the final JSON line out of it
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    queries = entrymod.queries()

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    calibration = {"start": _calibration(spark)}
    results: dict[str, float] = {}
    extras: dict[str, object] = {}
    exchanges: dict[str, int] = {}
    for name in HEADLINE:
        fn = queries[name]
        times: list[float] = []
        if name in EAGER_BUILD:
            fn(spark, SF_DIR)  # warm-up (stream machinery + state codec)
            for _ in range(TRIALS):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
        else:
            # warm-up: JVM JIT of generated code dominates cold runs
            # (observed 50-100s cold vs ~3s warm on md5-heavy plans).
            # Reuse the SAME DataFrame for warm-up and timing —
            # rebuilding the plan would re-generate (and re-JIT) the
            # code. Two warm-ups: C2 compilation is still finishing
            # after the first.
            df = fn(spark, SF_DIR)
            for _ in range(2):
                df.write.format("noop").mode("overwrite").save()
            for _ in range(TRIALS):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            # plan-shape audit alongside the wall time: shuffle count is
            # the number that must stay flat as data grows
            from strategy_analyzer_exporter_spark import plans as _P

            exchanges[name] = _P.count_exchanges(df)
        dt = sorted(times)[len(times) // 2]  # median
        results[name] = round(dt, 3)
        if name == "features_flagship":
            n = fn(spark, SF_DIR).count()
            extras["features_rows"] = n
            extras["features_rows_per_s"] = round(n / dt, 1)

    extras["exchanges"] = exchanges
    # cold-build cost of each persisted summary the warm medians
    # exclude (VERDICT r14 #5) — additions-only: headline timing above
    # is untouched, and the rebuilt caches are exactly what the probe
    # warm-ups below would have built anyway
    extras["summary_build_sec"] = _summary_builds(spark)
    extras["scale_probe"] = _scale_probe(spark, queries)
    # VERDICT r09 #6 — the cold-clock ordering experiment, made a
    # permanent artifact field: features_flagship runs FIRST in the
    # headline loop (coldest CPU clocks of the whole run); re-timing
    # the SAME DataFrame at the END of the run puts first-slot vs
    # warm-box throughput side by side in every record. If end-of-run
    # rows/s recovers while the plan is unchanged, a soft first-slot
    # number is the governor ramp, not a code regression.
    df_fl = queries["features_flagship"](spark, SF_DIR)
    # same 2-warm-up JIT discipline as the headline loop: this is a
    # REBUILT DataFrame (new codegen — the probe section long since
    # evicted the headline plan's compiled code), so an unwarmed median
    # would carry C2 compilation and bias the end-of-run reading low —
    # the exact confound this field exists to rule out (r10 review)
    for _ in range(2):
        df_fl.write.format("noop").mode("overwrite").save()
    fl_times = []
    for _ in range(TRIALS):
        t0 = time.perf_counter()
        df_fl.write.format("noop").mode("overwrite").save()
        fl_times.append(time.perf_counter() - t0)
    fl_end = sorted(fl_times)[len(fl_times) // 2]
    extras["flagship_end_of_run"] = {
        "sec": round(fl_end, 3),
        "rows_per_s": round(extras["features_rows"] / fl_end, 1),
        "first_slot_sec": results["features_flagship"],
    }
    calibration["end"] = _calibration(spark)
    extras["calibration"] = calibration
    # Round-stamped measurement commentary lives in docs/BENCH_NOTES.md
    # (ADVICE r06): hard-coding it here re-emitted stale narrative
    # claims (old timings, rejected variants) into every future
    # BENCH_FULL.json alongside fresh numbers. The artifact now carries
    # only a pointer; the history file is keyed by round.
    extras["notes"] = {
        "history": "docs/BENCH_NOTES.md",
        # VERDICT r14 ruling #5: stays registered and on the headline
        # card as the measured anti-pattern CONTRAST for the packed/
        # mixed shard shapes (exp ~0.96 vs 0.07/0.10); not a target
        "multimodal_source_binaryfile": "anti-pattern contrast twin",
    }
    # make each record self-classifying (VERDICT r09: a driver re-run on
    # a loaded host overwrote the committed idle record and the two
    # disagreed with nothing in the artifact saying which to trust):
    # idle-comparable iff the calibration job ran in the idle band AND
    # the 15-min load average was low at start — otherwise treat the
    # medians as smeared and compare probe t1 values / exchange counts
    idle = (
        calibration["start"]["sec_min"] <= 0.16
        and calibration["end"]["sec_min"] <= 0.11
        and calibration["start"].get("load15", 99.0) < 2.0
    )
    extras["run_kind"] = "idle-comparable" if idle else "host-smeared"

    total = round(sum(results.values()), 3)
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
    }
    for k in ("features_rows", "features_rows_per_s"):
        if k in extras:
            compact[k] = extras[k]
    compact["features_rows_per_s_end"] = extras["flagship_end_of_run"][
        "rows_per_s"
    ]
    # calibration summary in the compact line (full record in extras):
    # min-of-3 reference-job seconds at start/end + the 15-min load avg
    # at start — the best contamination predictor on this host
    compact["calib_sec"] = [
        calibration["start"]["sec_min"],
        calibration["end"]["sec_min"],
    ]
    if "load15" in calibration["start"]:
        compact["load15_start"] = calibration["start"]["load15"]
    compact["run_kind"] = extras["run_kind"]
    # the parseable driver artifact is the compact LAST stdout line —
    # print it BEFORE the file write so a full disk / read-only dir
    # can't eat the whole bench record again (the r05 failure mode)
    sys.stdout.flush()
    print(json.dumps(compact), flush=True)
    # full record (probe, exchanges, notes) to a file the judge can read
    here = os.path.dirname(os.path.abspath(__file__))
    target = full_record_path(here, extras["run_kind"])
    try:
        with open(target, "w") as f:
            json.dump({**compact, **extras}, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:
        print(f"{os.path.basename(target)} write failed: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
