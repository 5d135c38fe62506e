"""Repetition-based corpus quality signals (Gopher/C4-style filters).

The standard pre-training quality gates measure REPETITION, not just
length: a document whose single most frequent word or word-bigram
covers a large fraction of the text is boilerplate/spam (Rae et al.,
"Scaling Language Models" §A1.1 uses top-n-gram fraction thresholds;
C4 drops low-diversity pages). This corpus is single-line word text,
so the line/paragraph duplicate ratios degenerate and the informative
signals are the n-gram ones implemented here:

- ``top_word_frac``   — occurrences of the most frequent token / tokens
- ``top_bigram_frac`` — occurrences of the most frequent word-bigram /
  bigrams
- ``distinct_bigram_ratio`` — distinct bigrams / bigrams (the bigram
  type-token ratio; low = loops)
- ``mean_tok_len``    — mean token length (C4's word-length sanity gate)
- ``repetitive``      — the Gopher-style composite gate

The signals are computed per document in one ``mapInPandas`` pass (see
:func:`_signals`). All counts are exact integers; every ratio is one
double division of those integers, so floats match the DuckDB oracle
bit-for-bit. Ties for "top" break lexicographically (count desc, gram
asc) — deterministic in both engines. Zero/one-token documents survive
with NULL fractions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.functions import TOKENS_SQL as _TOKENS_SQL
from strategy_analyzer_exporter_spark.functions import tokens as _tokens
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.tables import load_table

TOP_BIGRAM_MAX = 0.18  # Gopher-flavored thresholds
TOP_WORD_MAX = 0.30
MIN_TOKENS = 10


def _signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every signal here is a PER-DOCUMENT local computation (counts,
    top gram with a (cnt DESC, gram ASC) tie-break, distinct bigrams),
    so no gram row ever needs to cross a shuffle: one Arrow-batched
    mapInPandas pass computes each doc's stats in a per-doc dict
    (bounded state: a doc's own vocabulary), and the only exchange
    left is the final broadcast-size doc join. The explode+aggregate
    and lead()/row_number shapes it replaced shuffle every gram
    counted; their measurements are in OPTIMIZATION_r15.md.

    Tie-break parity: Python min on (-cnt, gram) — UTF-8 byte order
    equals code-point order, so min matches the oracle's row_number
    ordering byte-for-byte. Tokenization is
    `[t for t in text.split(" ") if t]` ≡ functions.tokens ≡
    TOKENS_SQL (empties dropped, NULL text → no row)."""
    from strategy_analyzer_exporter_spark.sources.tables import spread_scan

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    raw = spread_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )

    def gen(batches):
        import pandas as _pd

        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "doc_id",
                    "n_tokens",
                    "n_chars_tok",
                    "top_word",
                    "top_word_n",
                    "n_bigrams",
                    "n_distinct_bigrams",
                    "top_bigram",
                    "top_bigram_n",
                )
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").split(" ") if t]
                n = len(toks)
                if n == 0:
                    continue  # absent row ≡ explode of empty array
                wc: dict[str, int] = {}
                chars = 0
                for t in toks:
                    wc[t] = wc.get(t, 0) + 1
                    chars += len(t)
                tw, twn = min(wc.items(), key=lambda kv: (-kv[1], kv[0]))
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                out["n_chars_tok"].append(chars)
                out["top_word"].append(tw)
                out["top_word_n"].append(twn)
                if n >= 2:
                    bc: dict[str, int] = {}
                    for i in range(n - 1):
                        b = toks[i] + " " + toks[i + 1]
                        bc[b] = bc.get(b, 0) + 1
                    tb, tbn = min(
                        bc.items(), key=lambda kv: (-kv[1], kv[0])
                    )
                    out["n_bigrams"].append(n - 1)
                    out["n_distinct_bigrams"].append(len(bc))
                    out["top_bigram"].append(tb)
                    out["top_bigram_n"].append(tbn)
                else:
                    # single-token doc: no bigram relation row —
                    # NULLs here ≡ the bigram_stats left-join miss
                    out["n_bigrams"].append(None)
                    out["n_distinct_bigrams"].append(None)
                    out["top_bigram"].append(None)
                    out["top_bigram_n"].append(None)
            yield _pd.DataFrame(out)

    stats = raw.mapInPandas(
        gen,
        "doc_id bigint, n_tokens bigint, n_chars_tok bigint, "
        "top_word string, top_word_n bigint, n_bigrams bigint, "
        "n_distinct_bigrams bigint, top_bigram string, "
        "top_bigram_n bigint",
    )
    out = (
        d.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "top_word",
            "top_word_n",
            (
                F.col("top_word_n").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("top_word_frac"),
            "top_bigram",
            "top_bigram_n",
            (
                F.col("top_bigram_n").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("top_bigram_frac"),
            (
                F.col("n_distinct_bigrams").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("distinct_bigram_ratio"),
            (
                F.col("n_chars_tok").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mean_tok_len"),
        )
    )
    return out.withColumn(
        "repetitive",
        F.coalesce(F.col("top_bigram_frac") > TOP_BIGRAM_MAX, F.lit(False))
        | F.coalesce(F.col("top_word_frac") > TOP_WORD_MAX, F.lit(False)),
    )


_SIGNALS_CTE = f"""t AS (
    SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
uni AS (
    SELECT doc_id, unnest(toks) AS tok FROM t
),
bi AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t
),
wc AS (
    SELECT doc_id, tok, count(*) AS cnt, CAST(sum(length(tok)) AS BIGINT) AS chars
    FROM uni GROUP BY doc_id, tok
),
word_stats AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(chars) AS BIGINT) AS n_chars_tok,
           max(CASE WHEN rn = 1 THEN tok END) AS top_word,
           CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_word_n
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cnt DESC, tok) AS rn FROM wc)
    GROUP BY doc_id
),
bc AS (
    SELECT doc_id, bigram, count(*) AS cnt FROM bi GROUP BY doc_id, bigram
),
bigram_stats AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           max(CASE WHEN rn = 1 THEN bigram END) AS top_bigram,
           CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_bigram_n
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cnt DESC, bigram) AS rn FROM bc)
    GROUP BY doc_id
),
signals AS (
    SELECT d.doc_id, d.lang,
           COALESCE(w.n_tokens, 0) AS n_tokens,
           COALESCE(b.n_bigrams, 0) AS n_bigrams,
           w.top_word, w.top_word_n,
           CAST(w.top_word_n AS DOUBLE) / CAST(COALESCE(w.n_tokens, 0) AS DOUBLE)
               AS top_word_frac,
           b.top_bigram, b.top_bigram_n,
           CAST(b.top_bigram_n AS DOUBLE) / CAST(COALESCE(b.n_bigrams, 0) AS DOUBLE)
               AS top_bigram_frac,
           CAST(b.n_distinct_bigrams AS DOUBLE)
               / CAST(COALESCE(b.n_bigrams, 0) AS DOUBLE) AS distinct_bigram_ratio,
           CAST(w.n_chars_tok AS DOUBLE) / CAST(COALESCE(w.n_tokens, 0) AS DOUBLE)
               AS mean_tok_len,
           (COALESCE(CAST(b.top_bigram_n AS DOUBLE)
                       / CAST(COALESCE(b.n_bigrams, 0) AS DOUBLE) > {TOP_BIGRAM_MAX},
                     FALSE)
            OR COALESCE(CAST(w.top_word_n AS DOUBLE)
                          / CAST(COALESCE(w.n_tokens, 0) AS DOUBLE) > {TOP_WORD_MAX},
                        FALSE)) AS repetitive
    FROM documents d
    LEFT JOIN word_stats w ON d.doc_id = w.doc_id
    LEFT JOIN bigram_stats b ON d.doc_id = b.doc_id
)"""


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signals(spark, sf_dir)


_REPETITION_ORACLE = f"""WITH {_SIGNALS_CTE}
SELECT * FROM signals"""


def _q_quality_gate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level filter report: docs kept vs dropped per lang by the
    composite gate (repetition + minimum length) — the summary a
    training-data build reviews before committing a filter config."""
    s = _signals(spark, sf_dir)
    keep = (~F.col("repetitive")) & (F.col("n_tokens") >= MIN_TOKENS)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        F.sum((F.col("repetitive")).cast("long")).alias("n_repetitive"),
        F.sum((F.col("n_tokens") < MIN_TOKENS).cast("long")).alias("n_too_short"),
    )


_GATE_ORACLE = f"""WITH {_SIGNALS_CTE}
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN NOT repetitive AND n_tokens >= {MIN_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN NOT repetitive AND n_tokens >= {MIN_TOKENS}
                     THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(sum(CASE WHEN repetitive THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(sum(CASE WHEN n_tokens < {MIN_TOKENS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_too_short
FROM signals GROUP BY lang"""


register("text_repetition_signals", _q_repetition, _REPETITION_ORACLE)
register("quality_gate_rollup", _q_quality_gate_rollup, _GATE_ORACLE)


# ---------------------------------------------------------------------------
# N-gram language-model counts: per-language trigram frequencies with
# add-one (Laplace) smoothed probabilities — the counting pass behind
# n-gram LM perplexity filters (CCNet-style quality bucketing trains
# one per language). Probability = (c + 1)/(N + V): exact integer
# numerator/denominator, ONE double division, bit-exact cross-engine.
# Top-20 per language by (count desc, trigram asc) — a total order.

LM_TOPK = 20


def _q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        d.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select("lang", F.concat_ws(" ", "tok", "t1", "t2").alias("trigram"))
    )
    counts = tri.groupBy("lang", "trigram").agg(F.count(F.lit(1)).alias("c"))
    lw = Window.partitionBy("lang")
    rw = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("trigram"))
    return (
        counts.withColumn("n_total", F.sum("c").over(lw))
        .withColumn("vocab", F.count(F.lit(1)).over(lw))
        .withColumn("rn", F.row_number().over(rw).cast("long"))
        .filter(F.col("rn") <= LM_TOPK)
        .select(
            "lang",
            "trigram",
            "c",
            "n_total",
            "vocab",
            (
                (F.col("c") + 1).cast("double")
                / (F.col("n_total") + F.col("vocab")).cast("double")
            ).alias("p_laplace"),
            "rn",
        )
    )


_NGRAM_LM_ORACLE = f"""WITH t AS (
    SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents
),
tri AS (
    SELECT lang,
           unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS trigram
    FROM t
),
counts AS (
    SELECT lang, trigram, count(*) AS c FROM tri GROUP BY lang, trigram
),
agg AS (
    SELECT lang, trigram, CAST(c AS BIGINT) AS c,
           CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n_total,
           CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS vocab,
           row_number() OVER (PARTITION BY lang ORDER BY c DESC, trigram) AS rn
    FROM counts
)
SELECT lang, trigram, c, n_total, vocab,
       CAST(c + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE) AS p_laplace,
       CAST(rn AS BIGINT) AS rn
FROM agg WHERE rn <= {LM_TOPK}"""


register("ngram_lm_trigrams", _q_ngram_lm, _NGRAM_LM_ORACLE)


# ---------------------------------------------------------------------------
# CCNet-style LM quality bucketing (Wenzek et al. 2020, "CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data"):
# score every document by a per-language trigram LM trained on a
# REFERENCE slice of the corpus (CCNet trains on Wikipedia; here the
# deterministic stand-in is source = LM_REF_SOURCE), then split each
# language into head / middle / tail thirds by score — the bucketing a
# pre-training build uses to keep head+middle and drop tail.
#
# Documented deviation from the paper: CCNet ranks by PERPLEXITY
# (geometric mean of trigram probabilities → a log-sum). ln() is not
# correctly rounded in either engine (the tfidf/bm25 house rule), so
# the score here is the ARITHMETIC mean trigram likelihood — and that
# is exactly representable: every trigram of a doc shares the SAME
# Laplace denominator D = n_total + vocab (its language's LM), so
#     mean p = (Σ(c_i + 1)) / (D · n_tri) = (hits + n_tri) / (D · n_tri)
# is one double division of two exact BIGINTs. Rank order differs from
# perplexity's in general (mean vs geometric mean) but both order by
# "how typical of the reference is this text", and the bucket
# boundaries stay bit-deterministic cross-engine — the property every
# other float in this repo holds.
#
# 100 TB shape: trigram explode → one (lang, trigram) hash-agg over the
# reference slice (a fraction of the corpus), one co-partitioned
# left join of the corpus trigrams against it (both sides shuffle on
# the same key; AQE broadcasts the reference side when it is small),
# one per-doc hash-agg, one ≤#langs-row stats join. The ntile window
# shuffles once on lang — skewed at web scale (en dominates); the
# production variant computes per-lang tertile THRESHOLDS first
# (a two-pass sort-free quantile on the score histogram) and buckets
# map-only, trading exact thirds for no big-key window sort. Docs
# whose language has no reference LM, and docs with < 3 tokens, have
# no defined score and are excluded (inner join / no trigram rows) —
# CCNet likewise scores only languages it has an LM for.

LM_REF_SOURCE = "src0"


def _q_lm_likelihood_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(_tokens(F.col("text"))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        d.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            F.concat_ws(" ", "tok", "t1", "t2").alias("trigram"),
        )
    )
    ref = (
        tri.filter(F.col("source") == LM_REF_SOURCE)
        .groupBy("lang", "trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lm_stats = ref.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    scored = (
        tri.join(ref, ["lang", "trigram"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tri"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("hits"),
        )
        .join(lm_stats, "lang")
        .select(
            "doc_id",
            "lang",
            "n_tri",
            "hits",
            (
                (F.col("hits") + F.col("n_tri")).cast("double")
                / ((F.col("n_total") + F.col("vocab")) * F.col("n_tri")).cast(
                    "double"
                )
            ).alias("mean_p"),
        )
    )
    bw = Window.partitionBy("lang").orderBy(
        F.col("mean_p").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("bucket", F.ntile(3).over(bw).cast("long")).select(
        "doc_id", "lang", "n_tri", "hits", "mean_p", "bucket"
    )


_LM_BUCKETS_ORACLE = f"""WITH t AS (
    SELECT doc_id, lang, source, {_TOKENS_SQL} AS toks FROM documents
),
tri AS (
    SELECT doc_id, lang, source,
           unnest(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS trigram
    FROM t
),
ref AS (
    SELECT lang, trigram, CAST(count(*) AS BIGINT) AS c
    FROM tri WHERE source = '{LM_REF_SOURCE}' GROUP BY lang, trigram
),
lm_stats AS (
    SELECT lang, CAST(sum(c) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS vocab
    FROM ref GROUP BY lang
),
scored AS (
    SELECT d.doc_id, d.lang,
           CAST(count(*) AS BIGINT) AS n_tri,
           CAST(sum(COALESCE(r.c, 0)) AS BIGINT) AS hits
    FROM tri d LEFT JOIN ref r USING (lang, trigram)
    GROUP BY d.doc_id, d.lang
)
SELECT s.doc_id, s.lang, s.n_tri, s.hits,
       CAST(s.hits + s.n_tri AS DOUBLE)
         / CAST((m.n_total + m.vocab) * s.n_tri AS DOUBLE) AS mean_p,
       CAST(ntile(3) OVER (PARTITION BY s.lang
            ORDER BY CAST(s.hits + s.n_tri AS DOUBLE)
                   / CAST((m.n_total + m.vocab) * s.n_tri AS DOUBLE) DESC,
                     s.doc_id ASC) AS BIGINT) AS bucket
FROM scored s JOIN lm_stats m USING (lang)"""


register("text_lm_likelihood_buckets", _q_lm_likelihood_buckets, _LM_BUCKETS_ORACLE)


# ---------------------------------------------------------------------------
# Gopher rule-set filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1): the
# canonical per-document heuristic gate every web-scale pre-training
# build runs BEFORE dedup — word-count bounds, mean-word-length sanity,
# symbol-to-word ratio (hashtags/ellipses), alphabetic-word fraction,
# and the ≥2-of-8 stopword requirement. Emitted as one row per document
# with PER-RULE verdicts (not just the composite), because the rollup a
# data-quality review actually reads is "which rule rejected how much".
#
# Deviations from the paper, forced by this corpus being single-line
# word text: the line-level rules (bullet-start ratio, ellipsis-end
# ratio, duplicate-line fraction) degenerate at one line per doc and
# are owned by text_repetition_signals / dedup_substring_spans; the
# symbol rule counts TOKENS containing '#' or '...' rather than raw
# character occurrences (same intent, token-exact arithmetic); and
# GOPHER_MIN_WORDS is 10 where the paper filters docs outside
# 50-100,000 words — the fixture/probe corpora are short-doc synthetic
# text whose median is far below 50 words, and a 50-word floor would
# make the word-count rule reject nearly everything, drowning the
# other rules' verdicts (ADVICE r13: deviation now documented here
# alongside the others).
#
# Exactness: every fraction is ONE double division of two exact BIGINT
# counts (the house rule), so all five verdicts and the composite match
# the DuckDB oracle bit-for-bit. NULL means (zero-token docs) fail
# their rules via COALESCE(..., FALSE) — an empty document is filtered,
# as in the paper.
#
# 100 TB shape: posexplode_outer → ONE hash aggregation on doc_id with
# map-side partials (the stopword distinct-count is over an 8-value
# domain, so the partial state is bounded); no window, no join — the
# per-doc relation then joins documents only to carry lang, broadcast
# or co-partitioned by AQE. A pure filter on `keep` pushes down to
# consumers; nothing here grows super-linearly.

GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_FRAC = 0.10
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode_outer(_tokens(F.col("text"))).alias("tok")
    )
    # distinct-stopword count over the fixed 8-word domain as a sum of
    # per-word presence flags — countDistinct(CASE ...) would rewrite
    # into a two-phase aggregate (the expression joins the grouping
    # key) and double the exchange count; 8 max() flags keep the whole
    # thing ONE hash aggregation
    stop_flags = [
        F.max(F.when(F.lower(F.col("tok")) == s, 1).otherwise(0)).alias(f"stop_{i}")
        for i, s in enumerate(GOPHER_STOPWORDS)
    ]
    per_doc = d.groupBy("doc_id", "lang").agg(
        F.count("tok").alias("n_words"),
        F.sum(F.length("tok")).alias("n_chars"),
        F.sum(F.col("tok").rlike("[A-Za-z]").cast("long")).alias("n_alpha"),
        F.sum(
            (F.col("tok").contains("#") | F.col("tok").contains("...")).cast("long")
        ).alias("n_symbol"),
        *stop_flags,
    )
    n_stop = F.lit(0)
    for i in range(len(GOPHER_STOPWORDS)):
        n_stop = n_stop + F.col(f"stop_{i}")
    per_doc = per_doc.withColumn("n_stop_distinct", n_stop.cast("long")).drop(
        *[f"stop_{i}" for i in range(len(GOPHER_STOPWORDS))]
    )
    mean_len = F.col("n_chars").cast("double") / F.col("n_words").cast("double")
    alpha_frac = F.col("n_alpha").cast("double") / F.col("n_words").cast("double")
    symbol_frac = F.col("n_symbol").cast("double") / F.col("n_words").cast("double")
    rules = {
        "rule_word_count": (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS),
        "rule_mean_len": F.coalesce(
            (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN),
            F.lit(False),
        ),
        "rule_symbol": F.coalesce(symbol_frac <= GOPHER_MAX_SYMBOL_FRAC, F.lit(False)),
        "rule_alpha": F.coalesce(alpha_frac >= GOPHER_MIN_ALPHA_FRAC, F.lit(False)),
        "rule_stopwords": F.col("n_stop_distinct") >= GOPHER_MIN_STOPWORDS,
    }
    out = per_doc.select(
        "doc_id",
        "lang",
        "n_words",
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        symbol_frac.alias("symbol_frac"),
        "n_stop_distinct",
        *[c.alias(n) for n, c in rules.items()],
    )
    keep = None
    for n in rules:
        keep = F.col(n) if keep is None else keep & F.col(n)
    return out.withColumn("keep", keep)


_GOPHER_ORACLE = f"""WITH u AS (
    SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS tok FROM documents
    UNION ALL
    SELECT doc_id, lang, NULL AS tok FROM documents
    WHERE len({_TOKENS_SQL}) = 0
),
per_doc AS (
    SELECT doc_id, lang,
           CAST(count(tok) AS BIGINT) AS n_words,
           CAST(sum(length(tok)) AS BIGINT) AS n_chars,
           CAST(sum(CASE WHEN regexp_matches(tok, '[A-Za-z]')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
           CAST(sum(CASE WHEN contains(tok, '#') OR contains(tok, '...')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
           CAST({" + ".join(
               f"max(CASE WHEN lower(tok) = '{s}' THEN 1 ELSE 0 END)"
               for s in GOPHER_STOPWORDS
           )} AS BIGINT) AS n_stop_distinct
    FROM u GROUP BY doc_id, lang
),
flags AS (
    SELECT doc_id, lang, n_words,
           CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
           CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS alpha_frac,
           CAST(n_symbol AS DOUBLE) / CAST(n_words AS DOUBLE) AS symbol_frac,
           n_stop_distinct,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
               AS rule_word_count,
           COALESCE(CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= {GOPHER_MIN_MEAN_LEN}
                    AND CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE)
                        <= {GOPHER_MAX_MEAN_LEN}, FALSE) AS rule_mean_len,
           COALESCE(CAST(n_symbol AS DOUBLE) / CAST(n_words AS DOUBLE)
                        <= {GOPHER_MAX_SYMBOL_FRAC}, FALSE) AS rule_symbol,
           COALESCE(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
                        >= {GOPHER_MIN_ALPHA_FRAC}, FALSE) AS rule_alpha,
           (n_stop_distinct >= {GOPHER_MIN_STOPWORDS}) AS rule_stopwords
    FROM per_doc
)
SELECT *,
       (rule_word_count AND rule_mean_len AND rule_symbol AND rule_alpha
        AND rule_stopwords) AS keep
FROM flags"""


register("text_gopher_rules", _q_gopher_rules, _GOPHER_ORACLE)
