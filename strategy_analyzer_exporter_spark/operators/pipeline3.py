"""Training-data pipeline operators, batch 3: decontamination, TF-IDF,
vocabulary building, sliding-window chunking — plus two finance window
aggregates (drawdown, rolling correlation) and an equi-width histogram.

These extend the LLM-pipeline surface (BASELINE.json north_star) beyond
the reference's own operator set, as first-class `queries()` entries
with DuckDB oracles.

Determinism contract (the driver compares doubles BIT-exact): every
float here is produced by correctly-rounded IEEE ops (+ - * / sqrt) on
inputs that are themselves exact (integers or identical doubles in both
engines) — no transcendentals, no engine-summed doubles. Sums that feed
floats are integer/decimal-staged (see functions.dsum).

Scale design (100 TB):
- decontamination: a REAL eval benchmark's gram set is bounded and
  would broadcast; this query's stand-in heldout (doc_id % mod) is a
  FRACTION of the corpus and scales with it, so it carries no explicit
  broadcast hint — AQE broadcasts while genuinely small (r06 hint
  sweep). The corpus side is one scan + one hash aggregation on
  doc_id. No shuffle of document text.
- TF-IDF / vocabulary: explode-to-rows + groupBy — map-side partial
  combine does the heavy lifting; no per-row array lambdas (HOFs don't
  enter whole-stage codegen, measured in dedup.py).
- chunking: mapInPandas streams Arrow batches; linear in corpus size,
  no state across documents.
- rolling windows: one shuffle on day, all window exprs share the sort.
- the only global orderings are over already-aggregated tiny relations
  (top-100 vocab), never over raw rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.functions import (
    TOKENS_SQL,
    dsum,
    dsum_sql,
    tokens,
)
from strategy_analyzer_exporter_spark.functions.topk import take_ordered_ranked
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE, bars_df
from strategy_analyzer_exporter_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Benchmark decontamination: flag corpus docs sharing any k-gram with a
# held-out set (the GPT-3 style n-gram collision check). Held-out set =
# doc_id % 11 == 0 (a stand-in for an eval benchmark shipped separately).

DECON_K = 8
HELDOUT_MOD = 11


def _gram_sql(tokens: str, k: int) -> str:
    """DuckDB distinct word-k-gram shingles — mirrors dedup._shingles_sql
    (duplicated, not imported: a module-level import from a sibling
    operator module breaks when THAT module is a worker's entry import,
    see tests/test_pipeline_ops.py::test_operator_modules_import_standalone)."""
    parts = " || ' ' || ".join(f"({tokens})[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(range(1, len({tokens}) - {k - 2}), "
        f"i -> {parts}))"
    )


def _decon_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(grams, heldout, corpus) shared by both decontamination shapes —
    one definition so the exact and bloom queries can never drift."""
    # call-time import avoids the circular-at-partial-init trap above
    from strategy_analyzer_exporter_spark.operators.dedup import _gram_rows

    grams = _gram_rows(spark, sf_dir, k=DECON_K)  # (doc_id, gram), distinct
    heldout = (
        grams.filter(F.col("doc_id") % HELDOUT_MOD == 0)
        .select("gram")
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") % HELDOUT_MOD != 0)
    return grams, heldout, corpus


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, heldout, corpus = _decon_relations(spark, sf_dir)
    return (
        # heldout is the distinct-gram set of 1/HELDOUT_MOD of the
        # corpus — it grows linearly with documents, so no broadcast
        # hint (r06 sweep); AQE broadcasts only while genuinely small
        corpus.join(heldout, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


_DECON_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
),
grams AS (
    SELECT doc_id, unnest({_gram_sql("tk", DECON_K)}) AS gram
    FROM toks WHERE len(tk) >= {DECON_K}
),
heldout AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {HELDOUT_MOD} = 0),
corpus AS (SELECT * FROM grams WHERE doc_id % {HELDOUT_MOD} <> 0)
SELECT c.doc_id, count(*) AS n_hit_grams
FROM corpus c JOIN heldout h USING (gram)
GROUP BY c.doc_id"""

register("decontaminate_ngram", _q_decontaminate, _DECON_ORACLE)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (r07): the SAME contract as
# decontaminate_ngram, restructured for the regime where the heldout
# set CANNOT broadcast — the heldout gram set is compacted into an
# m-bit Bloom bitmap
# (classic Kirsch–Mitzenmacher double hashing: pos_i = xxhash64(gram) +
# i·murmur3(gram) mod m, all JVM-side), the bitmap ships to executors
# as an m/8-byte packed closure constant, and the corpus-side EXACT join
# probes only the bloom-flagged residue instead of every gram. Bloom
# filters have NO false negatives by construction (build and probe use
# identical deterministic hash expressions), so the exact output is
# unchanged — the filter is purely a probe-side reducer, which is
# exactly its production role (a broadcast join of a multi-million-gram
# benchmark set costs GBs; its 1%-fpp Bloom costs ~1.2 bytes/gram).
#
# Determinism/oracle contract: every output value is produced by the
# exact join, never by the filter, so the DuckDB oracle is the
# decontaminate_ngram oracle plus a literal TRUE for `bloom_caught` —
# Spark computing TRUE for every row IS the no-false-negative check
# (a single dropped true gram would drop a row/count and fail the
# hash compare). Hash-collision-dependent quantities (how many CLEAN
# grams got flagged) never appear in the output.
#
# Bounded driver material, per the repo convention: `heldout.count()`
# (one scalar) sizes the filter; the bitmap is assembled from one
# packed m/8-byte partial per partition (executor-side bit-setting),
# so the driver handles the filter's own size times a small constant —
# never the heldout row count.
#
# MEASURED trade (r07, min-of-3 warm, local[32], after the packed
# partial-bitmap build): at test scale the bloom path LOSES to the
# plain broadcast join — decontaminate_ngram t1 0.80 / t10 1.56 s vs
# bloom t1 2.34 / t10 2.47 s — because the probe is an Arrow-batched
# Python UDF over every corpus gram while the exact join is
# whole-stage-codegen JVM work against a small cached heldout
# relation. (The first, rejected build — a driver collect of distinct
# positions — measured t10 5.73 s; the executor-side packed build cut
# that to 2.47 and made the t1→t10 growth near-flat.) The bloom shape
# pays off
# only when the real heldout set is too large to broadcast as a hash
# relation but its ~1.2-bytes/gram bitmap still fits (tens of GB of
# grams -> tens of MB of bitmap) — i.e. it replaces a SHUFFLE join,
# not a broadcast join. Both shapes stay registered for exactly that
# reason, with the cheap one (`decontaminate_ngram`) as the default
# recommendation below the broadcast threshold. Same honest-negative
# convention as agg_salted_two_phase (docs/BENCH_NOTES.md §r07).

BLOOM_FPP = 0.01


def _bloom_params(n: int) -> tuple[int, int]:
    """Standard sizing: m = ceil(-n ln p / ln^2 2), k = round(m/n ln 2),
    floored to stay sane for tiny heldout sets."""
    import math

    n = max(1, n)
    m = max(64, int(math.ceil(-n * math.log(BLOOM_FPP) / math.log(2) ** 2)))
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    grams, heldout, corpus = _decon_relations(spark, sf_dir)
    n_grams = heldout.count()
    m, k = _bloom_params(n_grams)
    nbytes = (m + 7) // 8

    def positions(col: F.Column) -> list[F.Column]:
        h1 = F.pmod(F.xxhash64(col), F.lit(m))
        h2 = F.pmod(F.hash(col).cast("long"), F.lit(m))
        # each term is reduced mod m BEFORE the add: h1 + i*h2 over raw
        # 64-bit hashes can overflow a long, and Spark 4 runs ANSI mode
        # by default where that RAISES instead of wrapping (r07 review;
        # ~1e-9 per (gram, i), i.e. a certainty at billions of grams).
        # Bounded terms (< m + 16m) can never overflow. Build and probe
        # share these exact expressions -> no false negatives possible.
        # Positions stay LONG end-to-end (ADVICE r07): m = ~9.6n passes
        # INT_MAX once the heldout set reaches ~224M grams — exactly the
        # too-big-to-broadcast regime this query exists for — and under
        # ANSI mode an int cast of such a position RAISES. numpy int64
        # indexing costs nothing extra.
        return [
            F.pmod(h1 + F.lit(i) * h2, F.lit(m)).cast("long") for i in range(k)
        ]

    # distributed build: heldout grams -> bit positions -> one PACKED
    # m/8-byte partial bitmap per partition (set bits accumulated
    # executor-side), OR-merged on the driver. Driver material is
    # n_partitions x m/8 bytes -- the filter's own size times a small
    # constant, never the heldout row count (r07 review: a
    # collect() of distinct positions is O(heldout) and would OOM the
    # driver in exactly the too-big-to-broadcast regime this shape
    # exists for).
    def pack_partition(batches):
        part = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            pos = pdf["p"].to_numpy()
            if len(pos):
                # MSB-first within each byte; ufunc.at handles
                # duplicate byte indices within one call
                np.bitwise_or.at(
                    part, pos >> 3, (0x80 >> (pos & 7)).astype(np.uint8)
                )
        yield pd.DataFrame({"bm": [part.tobytes()]})

    packed = np.zeros(nbytes, dtype=np.uint8)
    for row in (
        heldout.select(
            F.explode(F.array(*positions(F.col("gram")))).alias("p")
        )
        .mapInPandas(pack_partition, "bm binary")
        .collect()
    ):
        packed |= np.frombuffer(row[0], dtype=np.uint8)

    @F.pandas_udf("boolean")
    def might_contain(*pos: pd.Series) -> pd.Series:
        def bit(p: "np.ndarray") -> "np.ndarray":
            return (packed[p >> 3] >> (7 - (p & 7))) & 1

        acc = bit(pos[0].to_numpy())
        for srs in pos[1:]:
            acc &= bit(srs.to_numpy())
        return pd.Series(acc.astype(bool))

    pos_cols = [c.alias(f"p{i}") for i, c in enumerate(positions(F.col("gram")))]
    flagged = (
        corpus.select("doc_id", "gram", *pos_cols)
        .filter(might_contain(*[F.col(f"p{i}") for i in range(k)]))
        .select("doc_id", "gram")
    )
    return (
        flagged.join(heldout, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
        .withColumn("bloom_caught", F.lit(True))
    )


# derived from the exact oracle, never duplicated: the bloom output IS
# the exact output plus a constant column (r07 review — two hand-kept
# copies could drift and silently break the equivalence contract)
_DECON_BLOOM_ORACLE = _DECON_ORACLE.replace(
    "count(*) AS n_hit_grams", "count(*) AS n_hit_grams, TRUE AS bloom_caught"
)

register("decontaminate_bloom", _q_decontaminate_bloom, _DECON_BLOOM_ORACLE)


# ---------------------------------------------------------------------------
# Paragraph-level exact decontamination (VERDICT r07 #6): the public
# substring-decontamination shape, one granularity finer than whole
# 13-gram hits — split each document into PARAGRAPHS, hash-join
# paragraph normal forms against the heldout set's paragraphs, and
# report per-doc contaminated-paragraph SPANS (count, first/last index,
# full index list) so a downstream filter can excise the contaminated
# region instead of dropping the document. The synthetic corpus has no
# newlines, so "paragraph" is the deterministic unit both engines can
# compute: non-overlapping PARA_TOKENS-token blocks (trailing partial
# block included). Same heldout split as decontaminate_ngram
# (doc_id % HELDOUT_MOD == 0).
#
# Scale shape: the block explode is linear in tokens (output rows =
# n_tokens / PARA_TOKENS — 16× FEWER rows than the token explode, and
# ~13× fewer than the 13-gram explode since blocks don't overlap); the
# heldout relation is a distinct-string set joined with a plain hash
# join — AQE broadcasts while it's genuinely small, shuffles on the
# block string when it isn't (same no-hint policy as
# decontaminate_ngram). The per-doc span aggregation collects only the
# HIT indices (contamination is sparse by construction), sorted for
# determinism, CSV-serialized because the driver harness can't hash
# array cells.

PARA_TOKENS = 16


def _q_decontaminate_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    n = F.size(tk)
    nblocks = F.floor((n + F.lit(PARA_TOKENS - 1)) / F.lit(PARA_TOKENS))
    # sequence(0, nblocks-1) DESCENDS when nblocks == 0 (empty doc) —
    # same guard as dedup._shingles; the oracle's range() is empty
    blocks = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(0), (nblocks - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(tk, i * PARA_TOKENS + 1, PARA_TOKENS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rows = d.select(
        "doc_id", F.posexplode(blocks).alias("para_idx", "para")
    ).withColumn("para_idx", F.col("para_idx").cast("long"))
    heldout = (
        rows.filter(F.col("doc_id") % HELDOUT_MOD == 0)
        .select("para")
        .distinct()
    )
    corpus = rows.filter(F.col("doc_id") % HELDOUT_MOD != 0)
    return (
        corpus.join(heldout, "para")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bad_paras"),
            F.min("para_idx").alias("first_bad"),
            F.max("para_idx").alias("last_bad"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("para_idx")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("bad_idx_csv"),
        )
    )


_DECON_PARA_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
),
paras AS (
    SELECT doc_id,
           unnest(range(0, (len(tk) + {PARA_TOKENS - 1}) // {PARA_TOKENS}))
               AS para_idx,
           unnest(list_transform(
               range(0, (len(tk) + {PARA_TOKENS - 1}) // {PARA_TOKENS}),
               i -> array_to_string(
                   tk[i * {PARA_TOKENS} + 1 : (i + 1) * {PARA_TOKENS}], ' ')))
               AS para
    FROM toks
),
heldout AS (
    SELECT DISTINCT para FROM paras WHERE doc_id % {HELDOUT_MOD} = 0
),
corpus AS (SELECT * FROM paras WHERE doc_id % {HELDOUT_MOD} <> 0)
SELECT c.doc_id,
       count(*) AS n_bad_paras,
       min(c.para_idx) AS first_bad,
       max(c.para_idx) AS last_bad,
       array_to_string(list_sort(list(c.para_idx)), ',') AS bad_idx_csv
FROM corpus c JOIN heldout h USING (para)
GROUP BY c.doc_id"""

register(
    "decontaminate_paragraphs",
    _q_decontaminate_paragraphs,
    _DECON_PARA_ORACLE,
)


# ---------------------------------------------------------------------------
# Corpus-wide paragraph dedup with document reconstruction (the C4 /
# RefinedWeb intra-corpus pass: Raffel et al. 2020 drop repeated
# three-sentence spans CORPUS-wide keeping one occurrence; RefinedWeb
# §3.3 dedups at paragraph granularity before MinHash). Unit = the
# same deterministic PARA_TOKENS-token blocks as
# decontaminate_paragraphs (the expressions are intentionally
# identical — kept separate so registering this op does not re-enter
# the decontamination query's changed band). A paragraph SURVIVES only
# in its first occurrence — smallest (doc_id, para_idx) corpus-wide —
# and every document is re-emitted as the ordered concatenation of its
# surviving paragraphs (possibly '', e.g. an exact duplicate of an
# earlier doc loses every block).
#
# 100 TB shape (r14, guide §2.3/§2.5/§8 — decide with small rows, move
# payloads once): the registered default is the HASH-KEYED metadata
# decision. The first-occurrence decision depends only on
# (xxhash64(para), doc_id, para_idx) — 24 bytes/row — so that is ALL
# the decision pass shuffles: one hash(ph) aggregation with map-side
# partial min/count (constant per-task state even when one boilerplate
# paragraph owns millions of rows — no window ever materializes a hot
# key's row list, no exchange ever carries paragraph text keyed by
# para). Hash-singleton groups (cnt=1) are proven unique without ever
# comparing text; only rows of COLLIDING hashes (true duplicates +
# astronomically rare 64-bit collisions) are re-derived WITH text and
# resolved exactly per (ph, para) — so the output is exactly the
# window form's, not probabilistically so. Documents are rebuilt
# MAP-SIDE from each doc's own text at the kept block indices (the
# winner list is metadata), so document text crosses exactly one
# exchange in the whole query: the final doc_id join. The window and
# min-struct shapes it replaced shuffle the paragraph text, about 3×
# this shape's shuffle bytes on the sf0.1 corpus; their wall-clock
# measurements are in OPTIMIZATION_r14.md.


def _para_blocks(tk: F.Column) -> F.Column:
    """Deterministic PARA_TOKENS-token blocks of a token array (the
    'paragraph' unit shared with decontaminate_paragraphs)."""
    n = F.size(tk)
    nblocks = F.floor((n + F.lit(PARA_TOKENS - 1)) / F.lit(PARA_TOKENS))
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(0), (nblocks - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice(tk, i * PARA_TOKENS + 1, PARA_TOKENS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide first-occurrence paragraph dedup + doc rebuild.

    Metadata-only decision: the explode emits (ph=xxhash64(para),
    doc_id, para_idx) and the para string is dropped before anything
    shuffles. ONE hash(ph) aggregation (map-side partial min+count)
    finds each hash's first occurrence and its row count; cnt=1 hashes
    are unique paragraphs by construction, cnt>1 hashes (duplicate mass
    + any 64-bit collisions) are re-derived with text and resolved
    EXACTLY per (ph, para) — collisions cannot change the output, which
    equals the oracle's row_number() over partitionBy(para). Winners
    are pure metadata (doc_id, para_idx); kept_text is re-sliced from
    the document's own text map-side, so text crosses exactly one
    exchange (the final doc_id join)."""
    d = load_table(spark, sf_dir, "documents")
    blocks = _para_blocks(tokens(F.col("text")))
    # --- decision pass: 24-byte metadata rows only -------------------
    rows_k = d.select(
        "doc_id", F.posexplode(blocks).alias("para_idx", "para")
    ).select(
        "doc_id",
        F.col("para_idx").cast("long").alias("para_idx"),
        F.xxhash64("para").alias("ph"),
    )
    g = rows_k.groupBy("ph").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "para_idx")).alias("w"),
    )
    win_single = g.filter(F.col("cnt") == 1).select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.para_idx").alias("para_idx"),
    )
    # --- exact resolution of colliding hashes (duplicate mass only) --
    multi = g.filter(F.col("cnt") > 1).select("ph")
    rows_m = (
        d.select("doc_id", F.posexplode(blocks).alias("para_idx", "para"))
        .select(
            "doc_id",
            F.col("para_idx").cast("long").alias("para_idx"),
            "para",
            F.xxhash64("para").alias("ph"),
        )
        .join(multi, "ph", "semi")
    )
    win_multi = (
        rows_m.groupBy("ph", "para")
        .agg(F.min(F.struct("doc_id", "para_idx")).alias("w"))
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.para_idx").alias("para_idx"),
        )
    )
    winners = win_single.unionByName(win_multi)
    per_doc = winners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_sort(F.collect_list("para_idx")).alias("kept_idx"),
    )
    # --- rebuild: kept_text re-sliced from the doc's own text --------
    tk2 = tokens(F.col("text"))
    n2 = F.size(tk2)
    nblocks2 = F.floor((n2 + F.lit(PARA_TOKENS - 1)) / F.lit(PARA_TOKENS))
    return (
        d.select("doc_id", "text")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(n2 >= 1, nblocks2).otherwise(F.lit(0))
            .cast("long")
            .alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        "kept_idx",
                        lambda i: F.concat_ws(
                            " ",
                            F.slice(
                                tk2,
                                (i * PARA_TOKENS + 1).cast("int"),
                                PARA_TOKENS,
                            ),
                        ),
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("kept_text"),
        )
    )


_PARA_DEDUP_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
),
paras AS (
    SELECT doc_id,
           unnest(range(0, (len(tk) + {PARA_TOKENS - 1}) // {PARA_TOKENS}))
               AS para_idx,
           unnest(list_transform(
               range(0, (len(tk) + {PARA_TOKENS - 1}) // {PARA_TOKENS}),
               i -> array_to_string(
                   tk[i * {PARA_TOKENS} + 1 : (i + 1) * {PARA_TOKENS}], ' ')))
               AS para
    FROM toks
),
ranked AS (
    SELECT doc_id, para_idx, para,
           row_number() OVER (PARTITION BY para
                              ORDER BY doc_id, para_idx) = 1 AS kept
    FROM paras
),
per_doc AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(
               list(para ORDER BY para_idx) FILTER (WHERE kept), ' '), '')
               AS kept_text
    FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_paras, 0) AS n_paras,
       COALESCE(p.n_kept, 0) AS n_kept,
       COALESCE(p.kept_text, '') AS kept_text
FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


register("text_paragraph_dedup", _q_paragraph_dedup, _PARA_DEDUP_ORACLE)


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters (r08): the one mergeable-sketch family the
# engine didn't cover (HLL → agg_approx_distinct, quantile sketch →
# agg_approx_percentile_bound; this adds frequent items). Per input
# partition a K-counter Misra–Gries summary is built in one pass over
# the token stream (mapInPandas, ≤ K+1 output rows per partition:
# surviving counters + that partition's decrement count); summaries
# merge by per-token SUM — a few-hundred-row aggregation, never the
# token stream. The classic guarantees survive the merge:
#   est ≤ exact                       (MG never overcounts), and
#   exact − est ≤ Σ_p dec_p           (each decrement absorbs ≤ 1
#                                      occurrence per token), with
#   Σ_p dec_p ≤ Σ_p ⌊n_p/(K+1)⌋ ≤ ⌊n/(K+1)⌋
# so every token with exact count > n/(K+1) MUST survive in the merged
# summary. Output follows the repo's sketch-contract convention
# (agg_approx_distinct precedent): the emitted SET is defined on the
# EXACT counts (deterministic, partition-invariant, oracle-matchable —
# tf·(K+1) > n as a pure integer comparison) and the sketch appears as
# two guaranteed-TRUE booleans (found in summary; error within bound)
# whose failure would flag a broken merge. The partition-dependent
# estimate itself is deliberately NOT an output column (it would break
# partition invariance and the cross-engine hash).
#
# Scale shape: one map-only pass over documents (tokenising in-UDF —
# the token stream never crosses Arrow row-by-row), a ≤(K+1)·P-row
# summary aggregation, and the exact-count aggregation the contract
# audit needs anyway (a production pipeline would drop the audit and
# keep only the sketch pass). K = 29 → threshold n/30: on this corpus
# (31-word near-uniform vocab) 16 of 31 tokens qualify — a strict,
# non-trivial subset.

MG_K = 29


def mg_summary(tokens_iter, k: int = MG_K) -> tuple[dict, int]:
    """One-pass Misra–Gries over a token iterator: returns (surviving
    counters, decrement count). Module-level so the guarantee is
    property-testable directly (tests/test_properties.py)."""
    counters: dict[str, int] = {}
    dec = 0
    for t in tokens_iter:
        if t in counters:
            counters[t] += 1
        elif len(counters) < k:
            counters[t] = 1
        else:
            dec += 1
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters, dec


def _q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the test corpus is one parquet file → one input partition; spread
    # the sketch pass so the MERGE path is actually exercised (same
    # rationale as dedup._gram_rows)
    docs = d.select("text").repartition(spark.sparkContext.defaultParallelism)

    def mg(batches):
        def toks():
            for pdf in batches:
                for text in pdf["text"]:
                    # same token rule as functions.tokens / TOKENS_SQL
                    for t in (text or "").split(" "):
                        if t:
                            yield t

        counters, dec = mg_summary(toks())
        # the NULL-token row carries this partition's decrement count
        rows = [(t, c) for t, c in counters.items()]
        rows.append((None, dec))
        yield pd.DataFrame(rows, columns=["token", "est"])

    summ = docs.mapInPandas(mg, "token string, est long")
    # ONE aggregation over the summary rows; the bound rows (token NULL)
    # group under the NULL key. Both consumers below are filters over
    # the SAME aggregate subtree, so ReuseExchange runs the expensive
    # sketch pass + its shuffle ONCE (r08 review: per-side filters
    # below the exchange made the subtrees differ, executing the
    # Python sketch twice — and decoupling est from the bound it is
    # checked against).
    g = summ.groupBy("token").agg(F.sum("est").alias("est"))
    merged = g.filter(F.col("token").isNotNull())
    bound = g.filter(F.col("token").isNull()).select(
        F.col("est").alias("bound")
    )
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf_total"))
    n_tot = tf.agg(F.sum("tf_total").alias("n"))
    return (
        tf.crossJoin(F.broadcast(n_tot))
        .filter(F.col("tf_total") * (MG_K + 1) > F.col("n"))
        .join(merged, "token", "left")
        .crossJoin(F.broadcast(bound))
        .select(
            "token",
            "tf_total",
            F.col("est").isNotNull().alias("sketch_found"),
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("tf_total"))
                & (F.col("tf_total") - F.col("est") <= F.col("bound"))
            ).alias("contract_ok"),
        )
    )


_HEAVY_HITTERS_ORACLE = f"""WITH tok AS (
    SELECT unnest({TOKENS_SQL}) AS token FROM documents
),
tf AS (SELECT token, count(*) AS tf_total FROM tok GROUP BY token),
n AS (SELECT count(*) AS n FROM tok)
SELECT token, tf_total, TRUE AS sketch_found, TRUE AS contract_ok
FROM tf, n
WHERE tf_total * {MG_K + 1} > n"""

register("agg_heavy_hitters_sketch", _q_heavy_hitters, _HEAVY_HITTERS_ORACLE)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (VERDICT r08 #6): the FOURTH sketch
# family (HLL distinct, KLL-style quantiles, Misra–Gries frequent
# items, now count-min), cross-checked against Misra–Gries on the SAME
# corpus and SAME exact-count threshold — two independent sketch
# families agreeing on the exact-defined heavy-hitter set
# (tests/test_sketches.py pins the token sets equal).
#
# CMS is a LINEAR sketch: the d×w counter matrix of a partitioned
# stream is the elementwise SUM of per-partition matrices, so — unlike
# Misra–Gries, whose estimates are merge-order-dependent — the merged
# estimate is a pure function of the exact token frequencies:
#   est_d(t) = Σ tf(t') over t' with h_d(t') = h_d(t);  est = min_d.
# That makes the estimate itself PARTITION-INVARIANT and fully
# oracle-expressible: DuckDB recomputes the same bucket sums from the
# exact tf relation with the same md5-derived hash rows, and the query
# emits cms_est as a value-checked INTEGER column (strictly stronger
# than the sketch-contract booleans the order-dependent sketches are
# held to). CMS never underestimates, so cms_est ≥ tf_total on every
# row by construction — the overestimate column shows the collision
# mass directly.
#
# Scale shape: one map-only Arrow pass over documents (tokenising
# in-UDF), a ≤ d·w·P-row matrix merge (d·w = 256 counters — constant,
# corpus-size-independent), and the exact tf aggregation the audit
# contract needs anyway. The heavy-token probe side joins the merged
# 256-row matrix as a broadcast.

CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row (31-token test vocab → real collisions)


def _cms_hash_sql(d_sql: str, token_sql: str) -> str:
    """Bucket index for hash row ``d_sql`` — identical text valid in
    Spark SQL and DuckDB (the feature-hash convention), and mirrored
    byte-for-byte by the Python sketch pass below: md5 of 'd:token',
    first 8 hex chars as BIGINT, mod CMS_W (non-negative input, so %
    agrees across engines)."""
    from strategy_analyzer_exporter_spark.functions import hex8_to_long_sql

    # STRING is the one text-type spelling BOTH engines parse (Spark
    # rejects bare VARCHAR; DuckDB accepts STRING as a VARCHAR alias)
    h = f"substring(md5(CAST({d_sql} AS STRING) || ':' || {token_sql}), 1, 8)"
    return f"({hex8_to_long_sql(h)} % {CMS_W})"


def cms_bucket(d: int, token: str, w: int = CMS_W) -> int:
    """The one bucket-index definition, mirrored byte-for-byte by
    _cms_hash_sql (md5 of 'd:token', first 8 hex chars, mod w).
    Module-level so the linearity/no-underestimate guarantees are
    property-testable directly (tests/test_properties.py)."""
    import hashlib

    return int(hashlib.md5(f"{d}:{token}".encode()).hexdigest()[:8], 16) % w


def cms_matrix(tokens_iter, d: int = CMS_D, w: int = CMS_W) -> list[list[int]]:
    """One-pass count-min matrix over a token iterator. Counts per
    DISTINCT token first, then hashes each distinct token once per hash
    row: d·|vocab| md5 calls instead of d·(stream length) — equivalent
    because CMS cells are sums (grouping identical tokens first changes
    nothing). The per-occurrence form measured probe exponent 0.32 at
    10× purely from re-hashing a fixed vocab; this form measures 0.22
    (docs/BENCH_NOTES.md §r09)."""
    counts: dict[str, int] = {}
    for t in tokens_iter:
        counts[t] = counts.get(t, 0) + 1
    mat = [[0] * w for _ in range(d)]
    for t, c in counts.items():
        for di in range(d):
            mat[di][cms_bucket(di, t, w)] += c
    return mat


def _q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    docs = d.select("text").repartition(spark.sparkContext.defaultParallelism)

    def cms(batches):
        def toks():
            for pdf in batches:
                for text in pdf["text"]:
                    for t in (text or "").split(" "):
                        if t:
                            yield t

        mat = cms_matrix(toks())
        rows = [
            (di, w, c)
            for di in range(CMS_D)
            for w, c in enumerate(mat[di])
            if c
        ]
        yield pd.DataFrame(rows, columns=["d", "w", "cnt"])

    merged = (
        docs.mapInPandas(cms, "d int, w int, cnt long")
        .groupBy("d", "w")
        .agg(F.sum("cnt").alias("cnt"))
    )
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf_total"))
    n_tot = tf.agg(F.sum("tf_total").alias("n"))
    heavy = (
        tf.crossJoin(F.broadcast(n_tot))
        .filter(F.col("tf_total") * (MG_K + 1) > F.col("n"))
        .select("token", "tf_total")
    )
    probes = heavy.select(
        "token",
        "tf_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(di).alias("d"),
                        F.expr(_cms_hash_sql(f"'{di}'", "token"))
                        .cast("int")
                        .alias("w"),
                    )
                    for di in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("token", "tf_total", F.col("p.d").alias("d"), F.col("p.w").alias("w"))
    return (
        probes.join(F.broadcast(merged), ["d", "w"])
        .groupBy("token", "tf_total")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "token",
            "tf_total",
            "cms_est",
            (F.col("cms_est") - F.col("tf_total")).alias("overestimate"),
        )
    )


def _cms_oracle() -> str:
    return f"""WITH tok AS (
    SELECT unnest({TOKENS_SQL}) AS token FROM documents
),
tf AS (SELECT token, count(*) AS tf_total FROM tok GROUP BY token),
n AS (SELECT count(*) AS n FROM tok),
ds AS (SELECT CAST(unnest(range(0, {CMS_D})) AS INTEGER) AS d),
bx AS (
    SELECT ds.d AS d, {_cms_hash_sql("ds.d", "tf.token")} AS w,
           sum(tf_total) AS cnt
    FROM tf CROSS JOIN ds
    GROUP BY 1, 2
),
heavy AS (
    SELECT token, tf_total FROM tf, n WHERE tf_total * {MG_K + 1} > n
),
est AS (
    SELECT h.token, min(b.cnt) AS cms_est
    FROM heavy h CROSS JOIN ds
    JOIN bx b ON b.d = ds.d
             AND b.w = {_cms_hash_sql("ds.d", "h.token")}
    GROUP BY h.token
)
SELECT h.token, h.tf_total, CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(e.cms_est - h.tf_total AS BIGINT) AS overestimate
FROM heavy h JOIN est e ON e.token = h.token"""


register("agg_heavy_hitters_cms", _q_heavy_hitters_cms, _cms_oracle())



# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document. Linear idf (N/df, one IEEE division)
# instead of log idf: Java's Math.log is 1-ulp-accurate but NOT
# correctly rounded, so ln() may differ from libm in the last bit —
# tf·(N/df) uses only correctly-rounded ops and stays bit-identical.

TFIDF_TOPK = 3


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_docs = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_docs, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df_docs").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "token", "tf", "df_docs", "score", "rn")
    )


_TFIDF_ORACLE = f"""WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfd AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
nd AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, dfd.df_docs,
           CAST(tf.tf AS DOUBLE)
             * (CAST(nd.n_docs AS DOUBLE) / CAST(dfd.df_docs AS DOUBLE)) AS score
    FROM tf JOIN dfd USING (token) CROSS JOIN nd
)
SELECT doc_id, token, tf, df_docs, score, rn FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rn
    FROM scored
) WHERE rn <= {TFIDF_TOPK}"""

register("text_tfidf_topk", _q_tfidf, _TFIDF_ORACLE)


# ---------------------------------------------------------------------------
# Vocabulary build: global token frequencies, top-100. The top-k runs
# over the already-aggregated vocab relation as TakeOrderedAndProject
# (per-partition heaps, k-row merge) — at web scale |vocab| is still
# millions of rows, so an unpartitioned ranking window would funnel it
# through one task (functions/topk.py has the full argument).

VOCAB_TOP = 100


def _q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.count_distinct("doc_id").alias("df_docs"),
    )
    return take_ordered_ranked(
        vocab,
        [F.col("tf_total").desc(), F.col("token").asc()],
        VOCAB_TOP,
        rank_col="rank",
    ).select("rank", "token", "tf_total", "df_docs")


_VOCAB_ORACLE = f"""WITH tok AS (
    SELECT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
),
vocab AS (
    SELECT token, count(*) AS tf_total, count(DISTINCT doc_id) AS df_docs
    FROM tok GROUP BY token
)
SELECT rank, token, tf_total, df_docs FROM (
    SELECT *, row_number() OVER (
        ORDER BY tf_total DESC, token ASC) AS rank
    FROM vocab
) WHERE rank <= {VOCAB_TOP}"""

register("vocab_top_tokens", _q_vocab, _VOCAB_ORACLE)


# ---------------------------------------------------------------------------
# Context-window chunking: overlapping token windows (size 32, stride
# 24) — the pre-tokenization step before sequence packing
# (pipeline.pack_sequences). Arrow-batched mapInPandas; no cross-doc
# state, so it parallelizes embarrassingly.

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def _q_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    def gen(batches):
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "chunk_id": [], "start_tok": [],
                "n_tokens": [], "first_tok": [], "last_tok": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").split(" ") if t]
                n = len(toks)
                for cid, s in enumerate(range(0, n, CHUNK_STRIDE)):
                    m = min(CHUNK_SIZE, n - s)
                    rows["doc_id"].append(doc_id)
                    rows["chunk_id"].append(cid)
                    rows["start_tok"].append(s)
                    rows["n_tokens"].append(m)
                    rows["first_tok"].append(toks[s])
                    rows["last_tok"].append(toks[s + m - 1])
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        gen,
        "doc_id bigint, chunk_id bigint, start_tok bigint, "
        "n_tokens bigint, first_tok string, last_tok string",
    )


_CHUNK_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
),
starts AS (
    SELECT doc_id, tk, unnest(range(0, len(tk), {CHUNK_STRIDE})) AS s
    FROM toks WHERE len(tk) > 0
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(least({CHUNK_SIZE}, len(tk) - s) AS BIGINT) AS n_tokens,
       tk[CAST(s + 1 AS BIGINT)] AS first_tok,
       tk[CAST(s + least({CHUNK_SIZE}, len(tk) - s) AS BIGINT)] AS last_tok
FROM starts"""

register("chunk_sliding_windows", _q_chunk, _CHUNK_ORACLE)


# ---------------------------------------------------------------------------
# Equi-width histogram of lineitem prices: one scan, one hash agg on a
# 10-value key — the profiling primitive for range partitioning choices.

HIST_WIDTH = 11000.0
HIST_BUCKETS = 10


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / F.lit(HIST_WIDTH)),
        F.lit(HIST_BUCKETS - 1).cast("bigint"),
    ).cast("long")
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


_HIST_ORACLE = f"""SELECT
    CAST(least(floor(l_extendedprice / {HIST_WIDTH}), {HIST_BUCKETS - 1}) AS BIGINT)
        AS bucket,
    count(*) AS n_rows,
    min(l_extendedprice) AS min_price,
    max(l_extendedprice) AS max_price,
    {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem GROUP BY 1"""

register("agg_histogram", _q_histogram, _HIST_ORACLE)


# ---------------------------------------------------------------------------
# Drawdown per session day: running peak close, max (peak-close)/peak.
# peak is an exact window max of identical doubles; the ratio is two
# correctly-rounded ops — bit-exact cross-engine.


def _q_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_df(spark, sf_dir)
    w = (
        Window.partitionBy("day")
        .orderBy("time")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    peak = F.max("close").over(w)
    dd = (peak - F.col("close")) / peak
    return (
        b.withColumn("_dd", dd)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.max("close").alias("peak_close"),
            F.max("_dd").alias("max_drawdown"),
        )
    )


_DRAWDOWN_ORACLE = f"""WITH {BARS_CTE},
run AS (
    SELECT day, close,
           max(close) OVER (
               PARTITION BY day ORDER BY time
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
    FROM bars
)
SELECT day, count(*) AS n_bars, max(close) AS peak_close,
       max((peak - close) / peak) AS max_drawdown
FROM run GROUP BY day"""

register("bars_drawdown", _q_drawdown, _DRAWDOWN_ORACLE)


# ---------------------------------------------------------------------------
# Rolling 20-bar Pearson correlation of close vs volume, per day. All
# moments are exact integer window sums (cents / whole volumes staged
# as BIGINT — order-independent); the final correlation is a fixed
# sequence of correctly-rounded double ops on identical integers, so
# the doubles match bit-for-bit cross-engine.

CORR_N = 20


def _q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars_df(spark, sf_dir)
    c = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("long")
    # Explicit half-up rounding on BOTH sides: a bare cast truncates in
    # Spark but rounds half-to-even in DuckDB — identical today only
    # because volume is integer-valued by construction. Mirrors the
    # time-rollup operator's v_cents convention.
    v = F.floor(F.col("volume") + F.lit(0.5)).cast("long")
    staged = b.select(
        "day", "time", c.alias("c"), v.alias("v"),
        (c * c).alias("cc"), (v * v).alias("vv"), (c * v).alias("cv"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("time")
        .rowsBetween(-(CORR_N - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    sc, sv = F.sum("c").over(w), F.sum("v").over(w)
    scc, svv, scv = F.sum("cc").over(w), F.sum("vv").over(w), F.sum("cv").over(w)
    num = (n * scv - sc * sv).cast("double")
    varc = (n * scc - sc * sc)
    varv = (n * svv - sv * sv)
    corr = F.when(
        (varc > 0) & (varv > 0),
        num / (F.sqrt(varc.cast("double")) * F.sqrt(varv.cast("double"))),
    )
    return (
        staged.select("day", "time", corr.alias("corr20"), n.alias("_n"))
        .filter(F.col("_n") == CORR_N)
        .select("day", "time", "corr20")
    )


_CORR_ORACLE = f"""WITH {BARS_CTE},
staged AS (
    SELECT day, time,
           CAST(floor(close * 100 + 0.5) AS BIGINT) AS c,
           CAST(floor(volume + 0.5) AS BIGINT) AS v
    FROM bars
),
moments AS (
    SELECT day, time,
           count(*) OVER w AS n,
           CAST(sum(c) OVER w AS BIGINT) AS sc,
           CAST(sum(v) OVER w AS BIGINT) AS sv,
           CAST(sum(c * c) OVER w AS BIGINT) AS scc,
           CAST(sum(v * v) OVER w AS BIGINT) AS svv,
           CAST(sum(c * v) OVER w AS BIGINT) AS scv
    FROM staged
    WINDOW w AS (PARTITION BY day ORDER BY time
                 ROWS BETWEEN {CORR_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT day, time,
       CASE WHEN (n * scc - sc * sc) > 0 AND (n * svv - sv * sv) > 0 THEN
           CAST(n * scv - sc * sv AS DOUBLE)
             / (sqrt(CAST(n * scc - sc * sc AS DOUBLE))
                * sqrt(CAST(n * svv - sv * sv AS DOUBLE)))
       END AS corr20
FROM moments WHERE n = {CORR_N}"""

register("bars_rolling_corr", _q_rolling_corr, _CORR_ORACLE)


# ---------------------------------------------------------------------------
# Inverted index build: token → document frequency + SORTED posting
# list of doc_ids — the search-index construction shape. One explode +
# one hash aggregation on token (the same scale step as the vocab
# build); the posting list is collected then array_sort'ed so the
# output is deterministic regardless of shuffle arrival order. At 100
# TB posting lists for stopword-class tokens get long — the df floor
# keeps the demo relation honest, and a production index would shard
# postings by (token, doc_id bucket) before the collect.

POSTINGS_MIN_DF = 5


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (
        tok.distinct()
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df_docs"),
            # CSV-serialized postings: the cross-engine harness compares
            # scalar cells (the scalar_array_funcs convention); sorting
            # before joining makes the string deterministic
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df_docs") >= POSTINGS_MIN_DF)
    )


_INVERTED_ORACLE = f"""WITH tok AS (
    SELECT DISTINCT doc_id, unnest({TOKENS_SQL}) AS token FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS df_docs,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM tok GROUP BY token
HAVING count(*) >= {POSTINGS_MIN_DF}"""

register("text_inverted_index", _q_inverted_index, _INVERTED_ORACLE)


# ---------------------------------------------------------------------------
# BM25 ranking (Robertson/Spärck Jones Okapi BM25) — the retrieval
# scorer a data pipeline uses for query-based corpus selection and
# RAG-style retrieval eval; distinct from TF-IDF above by the two
# things BM25 exists for: tf SATURATION (k1) and document-LENGTH
# normalization (b). Query terms are data-derived — the BM25_QTERMS
# highest-df tokens (ties by token) — so the query relation is
# deterministic in both engines with no fixture vocabulary.
#
# Float parity: the idf factor is the house LINEAR idf (n_docs/df, one
# correctly-rounded division — see the TF-IDF note above for why not
# ln); every other term is +, ×, / over exact integers (tf, df, dl) or
# the single exact-ratio avgdl = Σdl / n_docs, composed with IDENTICAL
# parenthesization in both engines, so scores are bit-identical.
#
# Scale shape: tf/df are the inverted-index relations TF-IDF already
# builds (one token shuffle); the query relation is fixed-k tiny; the
# scored join fans out only the POSTING LISTS of the query terms —
# which are the hottest tokens by construction, the classic posting
# skew (AQE skew-join handles it; a production engine shards hot
# postings). Per-term top-k is a k-row window over those lists.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 3
BM25_QTERMS = 5


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    tok = toks.select("doc_id", F.explode("t").alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfd = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    qterms = dfd.orderBy(F.col("df").desc(), F.col("token").asc()).limit(
        BM25_QTERMS
    )
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    score = (F.col("n_docs") / F.col("df").cast("double")) * (
        (tf_d * F.lit(BM25_K1 + 1.0))
        / (
            tf_d
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (dl_d / F.col("avgdl")))
        )
    )
    scored = (
        qterms.join(tf, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("token", "doc_id", "tf", "dl", score.alias("bm25"))
    )
    w = Window.partitionBy("token").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= BM25_TOPK)
        .select("token", "doc_id", "tf", "dl", "bm25", "rn")
    )


_BM25_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {TOKENS_SQL} AS t FROM documents
),
tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfd AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
qterms AS (SELECT token, df FROM dfd ORDER BY df DESC, token ASC LIMIT {BM25_QTERMS}),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
    FROM dl
),
scored AS (
    SELECT q.token, t.doc_id, t.tf, d.dl,
           (s.n_docs / CAST(q.df AS DOUBLE)) * (
               (CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0!r})
               / (CAST(t.tf AS DOUBLE)
                  + {BM25_K1!r} * ({1.0 - BM25_B!r}
                                   + {BM25_B!r} * (CAST(d.dl AS DOUBLE) / s.avgdl)))
           ) AS bm25
    FROM qterms q JOIN tf t USING (token) JOIN dl d USING (doc_id)
    CROSS JOIN stats s
)
SELECT token, doc_id, tf, dl, bm25, rn FROM (
    SELECT *, row_number() OVER (
        PARTITION BY token ORDER BY bm25 DESC, doc_id ASC) AS rn
    FROM scored
) WHERE rn <= {BM25_TOPK}"""

register("text_bm25_topk", _q_bm25, _BM25_ORACLE)


# ---------------------------------------------------------------------------
# BPE merge TRAINING (Sennrich et al. 2016, "Neural Machine Translation
# of Rare Words with Subword Units") — the tokenizer-construction step a
# training-data pipeline runs before tokenizing anything: learn the
# first BPE_MERGES merge rules from the corpus. The classic trainer is
# a driver loop over an in-memory vocabulary; the distributed form here
# keeps the SAME mathematical recipe but runs every step relational:
#
#   1. ONE corpus-sized shuffle builds the weighted vocabulary
#      (word, count) — from there on, every iteration operates on the
#      VOCABULARY, never the corpus (the standard trainer trick: pair
#      statistics are word-frequency-weighted, so the corpus is only
#      needed once).
#   2. per round: adjacent symbol pairs explode from each word's
#      current segmentation, one hash aggregation sums their weighted
#      counts (map-side combine), and the argmax pair — ties broken
#      (count DESC, lhs ASC, rhs ASC), deterministic in both engines —
#      becomes the round's merge rule.
#   3. the merge applies as a MAP-ONLY string rewrite: segmentations
#      are carried as " s1  s2  ...  sn " (double-space separators,
#      single-space pad), so replace(s, ' L  R ', ' LR ') performs
#      exactly BPE's leftmost non-overlapping merge pass — adjacent
#      matches never share characters (the double space), and the
#      single-space boundaries the replacement introduces are
#      re-normalized by a regex re-split before the next round.
#      Verified identical semantics in Spark and DuckDB (replace() is
#      leftmost non-overlapping in both: " a  a  a  a " → " aa  aa ").
#
# No driver loop over data, no collect: the per-round argmax is a
# 1-ROW relation consumed by a crossJoin, and per-round
# localCheckpoint keeps the unrolled lineage flat (the kmeans/PageRank
# eager-materialization pattern — it also keeps the returned plan free
# of per-round join hints, which the repo-wide hint sweep enforces).
# End-of-word markers are deliberately omitted (documented deviation:
# merges never cross word boundaries here either way, because pairs
# are generated within words only).
#
# 100 TB shape: step 1 is the only corpus-scale operation; rounds 2-3
# touch |vocab| rows. A production trainer runs thousands of rounds —
# each is one small shuffle + one map pass, and the argmax relation
# (the only driver-adjacent state) is one row per round, the
# irreducible minimum any BPE trainer carries.

BPE_MERGES = 3


def _bpe_pad(col):
    """array<symbol> → ' s1  s2  ...  sn ' (the replace-safe form)."""
    return F.concat(F.lit(" "), F.array_join(col, "  "), F.lit(" "))


def _bpe_loop(
    spark: SparkSession, sf_dir: str, n_merges: int, apply_last: bool
) -> tuple[DataFrame, DataFrame]:
    """(merges, state): the shared trainer loop. ``apply_last`` — the
    trainer itself never consumes the last rule's rewrite, so it skips
    it (one fewer vocab pass); the ENCODER needs the state with every
    learned rule applied, because that state IS the encoding of each
    distinct word (greedy rank-order BPE: applying the rules in the
    order they were learned reproduces training-time segmentation
    exactly — Sennrich et al. 2016 §3.2). The state carries ``word``
    alongside (wc, s) so per-document consumers (text_bpe_tokenize_docs)
    can join the word → segmentation map back onto the corpus; the
    trainer/encoder ignore it (|vocab|-row string column, negligible)."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    state = vocab.select(
        "word", "wc", _bpe_pad(F.split("word", "")).alias("s")
    ).localCheckpoint()
    merges = None
    for rank in range(1, n_merges + 1):
        syms = state.select("wc", F.split(F.trim("s"), " +").alias("a"))
        pairs = (
            syms.filter(F.size("a") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(a) - 2), "
                        "i -> struct(a[i] AS lhs, a[i + 1] AS rhs))"
                    )
                ).alias("p"),
            )
            .select("wc", "p.lhs", "p.rhs")
        )
        best = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("wc").cast("long").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(),
                F.col("lhs").asc(),
                F.col("rhs").asc(),
            )
            .limit(1)
            .localCheckpoint()
        )
        row = best.select(
            F.lit(rank).cast("int").alias("rank"),
            "lhs",
            "rhs",
            F.concat("lhs", "rhs").alias("merged"),
            "pair_count",
        )
        merges = row if merges is None else merges.unionByName(row)
        if rank < n_merges or apply_last:
            merged_s = F.replace(
                F.col("s"),
                F.concat(
                    F.lit(" "), F.col("lhs"), F.lit("  "), F.col("rhs"),
                    F.lit(" "),
                ),
                F.concat(
                    F.lit(" "), F.col("lhs"), F.col("rhs"), F.lit(" ")
                ),
            )
            state = (
                state.crossJoin(best.select("lhs", "rhs"))
                .select(
                    "word",
                    "wc",
                    _bpe_pad(F.split(F.trim(merged_s), " +")).alias("s"),
                )
                .localCheckpoint()
            )
    return merges, state


def _q_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """``n_merges`` parameterizes training depth (VERDICT r12 #3): the
    REGISTERED query stays at BPE_MERGES=3 (bounded oracle cost — the
    DuckDB side unrolls the same rounds), while the depth-≥8 planted
    test (tests/test_substring_semdedup.py) and the out-of-band
    rounds-vs-time curve (docs/BENCH_NOTES.md §r13) run deeper. The
    per-round localCheckpoint keeps lineage flat at ANY depth — each
    round's plan starts from the previous round's materialized state,
    so depth never compounds plan size."""
    return _bpe_loop(spark, sf_dir, n_merges, apply_last=False)[0]


def _q_bpe_encode(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """(token, token_count): the corpus token distribution under the
    learned BPE tokenizer — train the first ``n_merges`` rules, apply
    ALL of them to the weighted vocabulary, explode the final
    segmentations weighted by word count. The tokenizer-APPLY half the
    trainer implies: what a pipeline reads for vocab coverage /
    tokens-per-word compression before committing to a tokenizer.

    100 TB shape: identical to the trainer's — the corpus is touched
    exactly once (the vocabulary shuffle); every later step, INCLUDING
    the encode itself, runs on |vocab| rows. That is the production
    point: BPE encoding is word-internal, so encoding a corpus reduces
    to encoding the distinct-word relation, and (when the encoded
    documents themselves are wanted) broadcast-joining the word →
    segmentation map back onto the corpus as a map-only pass — never a
    per-document merge loop. The aggregate here distributes over word
    counts, so it never performs even that join."""
    _, state = _bpe_loop(spark, sf_dir, n_merges, apply_last=True)
    return (
        state.select(
            "wc", F.explode(F.split(F.trim("s"), " +")).alias("token")
        )
        .groupBy("token")
        .agg(F.sum("wc").cast("long").alias("token_count"))
    )


def _bpe_ctes(apply_last: bool) -> list[str]:
    """The unrolled trainer CTE chain; ``apply_last`` mirrors
    :func:`_bpe_loop` (the encode oracle needs s{BPE_MERGES})."""
    ctes = [
        f"words AS (SELECT unnest({TOKENS_SQL}) AS word FROM documents)",
        "vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM words GROUP BY word)",
        (
            "s0 AS (SELECT word, wc,"
            " ' ' || array_to_string(string_split(word, ''), '  ')"
            " || ' ' AS s FROM vocab)"
        ),
    ]
    for i in range(1, BPE_MERGES + 1):
        prev = f"s{i - 1}"
        ctes.append(
            f"""p{i} AS (
    SELECT string_split(pr, chr(1))[1] AS lhs,
           string_split(pr, chr(1))[2] AS rhs, wc
    FROM (
        SELECT unnest(list_transform(range(1, len(a)),
                      j -> a[j] || chr(1) || a[j + 1])) AS pr, wc
        FROM (SELECT wc, regexp_split_to_array(trim(s), ' +') AS a
              FROM {prev})
    )
)"""
        )
        ctes.append(
            f"""b{i} AS (
    SELECT lhs, rhs, CAST(sum(wc) AS BIGINT) AS pair_count
    FROM p{i} GROUP BY lhs, rhs
    ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
)"""
        )
        if i < BPE_MERGES or apply_last:
            ctes.append(
                f"""s{i} AS (
    SELECT word, wc,
           ' ' || array_to_string(regexp_split_to_array(trim(
               replace(s, ' ' || b.lhs || '  ' || b.rhs || ' ',
                          ' ' || b.lhs || b.rhs || ' ')), ' +'), '  ')
           || ' ' AS s
    FROM {prev}, b{i} b
)"""
            )
    return ctes


def _bpe_oracle() -> str:
    selects = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS rank, lhs, rhs, "
        f"lhs || rhs AS merged, pair_count FROM b{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(_bpe_ctes(apply_last=False)) + "\n" + selects


def _bpe_encode_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_ctes(apply_last=True))
        + f"""
SELECT token, CAST(sum(wc) AS BIGINT) AS token_count
FROM (
    SELECT wc, unnest(regexp_split_to_array(trim(s), ' +')) AS token
    FROM s{BPE_MERGES}
)
GROUP BY token"""
    )


def _q_bpe_tokenize_docs(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> DataFrame:
    """(doc_id, n_words, n_tokens, tokens_per_word): per-DOCUMENT token
    counts under the learned BPE tokenizer — the bridge from the
    trainer (text_bpe_merges) to the sequence packer (pack_sequences):
    a loader budgets shards by post-tokenization length, not word
    count. tokens_per_word is the per-doc compression ratio (one double
    division of exact BIGINTs).

    100 TB shape: the word → segmentation map is |vocab| rows, so the
    per-document step is the corpus word-explode joined against it on
    ``word`` — co-partitioned hash join (AQE broadcasts the vocab side
    when it fits), then one per-doc hash-agg. BPE is word-internal
    (Sennrich et al. 2016), so this join IS the whole encode: no
    per-document merge loop ever runs."""
    _, state = _bpe_loop(spark, sf_dir, n_merges, apply_last=True)
    seg = state.select(
        "word", F.size(F.split(F.trim("s"), " +")).cast("long").alias("wtoks")
    )
    dw = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    )
    return (
        dw.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("wtoks").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            (
                F.col("n_tokens").cast("double") / F.col("n_words").cast("double")
            ).alias("tokens_per_word"),
        )
    )


def _bpe_tokenize_docs_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_ctes(apply_last=True))
        + f""",
seg AS (
    SELECT word, CAST(len(regexp_split_to_array(trim(s), ' +')) AS BIGINT)
           AS wtoks
    FROM s{BPE_MERGES}
),
dw AS (SELECT doc_id, unnest({TOKENS_SQL}) AS word FROM documents)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wtoks) AS BIGINT) AS n_tokens,
       CAST(sum(wtoks) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS tokens_per_word
FROM dw JOIN seg USING (word)
GROUP BY doc_id"""
    )


register("text_bpe_merges", _q_bpe_merges, _bpe_oracle())
register("text_bpe_encode", _q_bpe_encode, _bpe_encode_oracle())
register("text_bpe_tokenize_docs", _q_bpe_tokenize_docs, _bpe_tokenize_docs_oracle())
