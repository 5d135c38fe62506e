"""Near-duplicate detection operators over ``documents`` (LLM-pipeline
surface, BASELINE.json north_star).

All hashing is md5-based so the Spark and DuckDB implementations produce
identical values; MinHash signatures compare *hex strings* (any total
order works for min-hashing, and lexicographic order on hex is identical
in both engines — no integer conversion needed).

Scale design (100 TB): every algorithm here is banded LSH — candidate
pairs come from an equi-join on small band keys, never from an all-pairs
product. The expensive exact verification (Jaccard / Hamming) runs only
on candidates. Hot buckets (boilerplate shingles) are the classic skew
source: AQE skew-join handles moderate skew, and the band keys can be
salted by doc-length bucket if needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark import summaries
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.tables import load_table

# MinHash parameters: 12 hashes in 4 bands × 3 rows; word-3-gram shingles.
NUM_HASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = 3
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.5

# SimHash parameters: 64-bit fingerprint, 4 bands × 16 bits, Hamming ≤ 6.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
HAMMING_THRESHOLD = 6


from strategy_analyzer_exporter_spark.functions import TOKENS_SQL as _TOKENS_SQL
from strategy_analyzer_exporter_spark.functions import tokens as _tokens


def _shingles(tokens: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word-k-gram shingle strings. Guarded for short docs:
    ``F.sequence(1, n-(k-1))`` DESCENDS when n < k (producing bogus
    indices → element_at errors), while the oracle's ``range()`` is
    empty — so short docs return an empty array, matching DuckDB."""
    n = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j) for j in range(k)]
        ),
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles_sql(tokens: str, k: int = SHINGLE_K) -> str:
    parts = " || ' ' || ".join(f"({tokens})[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform(range(1, len({tokens}) - {k - 2}), "
        f"i -> {parts}))"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _shingle_gen(k: int):
    """mapInPandas generator for word-k-gram shingling — the one
    shingle implementation, shared by the whole-corpus cache
    (_gram_rows) and the batch-only ingest path (_batch_grams), so the
    two can never drift."""

    def gen(batches):
        for pdf in batches:
            ids: list[int] = []
            grams: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").split(" ") if t]
                seen = set()
                for i in range(len(toks) - k + 1):
                    g = " ".join(toks[i : i + k])
                    if g not in seen:
                        seen.add(g)
                        ids.append(doc_id)
                        grams.append(g)
            yield pd.DataFrame({"doc_id": ids, "gram": grams})

    return gen


def _sig_agg_exprs() -> list:
    """The MinHash signature aggregate list (12 seeded md5 mins + the
    gram count) — one definition for the whole-corpus signature cache
    and the batch-only ingest aggregation."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("gram")))).alias(f"mh{j}")
        for j in range(NUM_HASHES)
    ] + [F.count(F.lit(1)).alias("n")]


def _gram_rows(spark: SparkSession, sf_dir: str, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, gram) rows — distinct word-k-gram shingles, exploded.
    The row form is the scale representation: hashing/minhashing become
    aggregations with map-side partial combine instead of per-row array
    lambdas, and nothing ever re-materializes a whole document.

    Shingling runs in Arrow-batched Python (mapInPandas), NOT the
    equivalent higher-order-function expression (transform/sequence/
    element_at): HOFs never enter whole-stage codegen, so their
    interpreted eval path is hostage to C2 JIT ramp-up — measured 60-170s
    cold vs 2.5s hot at sf0.1 for identical plans. Python string ops are
    deterministic-speed and the downstream md5 min-agg stays JVM-side.
    The result is persisted: four subtrees (candidate generation, both
    intersection probes, size counts) consume it, and caching one copy
    beats recomputing the scan+shingle fan-out — exactly a materialized
    CTE, which is what the DuckDB oracle does with its `sh` CTE."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        # the test corpus is one small parquet file → one input
        # partition; spread the shingling across cores. Round-robin, not
        # keyed: the CACHE-VISIBLE partitioning is established after
        # shingling below. (At real scale the scan already yields many
        # partitions; results are partitioning-independent.)
        d = d.repartition(spark.sparkContext.defaultParallelism)
        # hash-partition the gram rows by doc_id AFTER shingling, so the
        # PERSISTED relation advertises hashpartitioning(doc_id) to
        # Catalyst (mapInPandas output partitioning is opaque — without
        # this, every doc_id-keyed consumer re-shuffles the full gram
        # relation). With it, the signature aggregation and the Jaccard
        # verify's doc_a side reuse the cached layout exchange-free, and
        # joins on (doc_b, gram) co-partition by shuffling only the
        # SMALL candidate-pair side to match (the verify's tail was
        # exactly these two full-gram shuffles).
        # One keyed gram shuffle at cache-build time buys zero per-query
        # gram shuffles.
        return (
            d.mapInPandas(_shingle_gen(k), "doc_id bigint, gram string")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .persist()
        )

    return summaries.get_or_build("grams", spark, sf_dir, (k,), build)


def _sig_rows(spark: SparkSession, sf_dir: str, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, mh0..mh11, n) — MinHash signatures + the per-doc gram
    count, persisted. ONE groupBy(doc_id) over the gram rows (map-side
    partial combine) produces both: the Jaccard verify's size lookups
    ride the same aggregation instead of re-counting, and the band
    self-join's two sides scan this cache instead of re-aggregating the
    multi-TB gram relation per side (VERDICT r04 #4 exchange diet). At
    100 TB the signature relation is ~1 row/doc — orders of magnitude
    smaller than the grams it summarizes; MEMORY_AND_DISK spills fine.
    Without the persist Spark recomputes the aggregation once per
    consuming subtree (two band-join sides + two size lookups): the
    band join's broadcast build side cannot reuse the probe side's
    shuffle stage."""
    return summaries.get_or_build(
        "sigs",
        spark,
        sf_dir,
        (k,),
        lambda: _gram_rows(spark, sf_dir, k)
        .groupBy("doc_id")
        .agg(*_sig_agg_exprs())
        .persist(),
    )


def _verify_jaccard(
    cand: DataFrame,
    grams: DataFrame,
    threshold: float,
    sizes: DataFrame | None = None,
    grams_b: DataFrame | None = None,
    sizes_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via co-grouped gram counts:
    |A∩B| = count of shared grams, |A∪B| = |A|+|B|−|A∩B|. Joins stay on
    (doc_id | gram) keys — no document arrays are shuffled.

    ``sizes`` (doc_id, n): pass a relation whose |grams| count falls out
    of an aggregation the caller already pays for (minhash folds it into
    the signature groupBy) so the plan reuses that exchange instead of
    adding a separate per-doc count shuffle.

    The gram cache advertises hashpartitioning(doc_id) (see _gram_rows),
    so NEITHER intersection join re-shuffles grams: the doc_a side reuses
    the cached layout outright, and the (doc_b, gram) join co-partitions
    by shuffling only the small candidate-pair side (VERDICT r05 #8 —
    previously the full gram relation shuffled twice here). Two stronger
    restrictions were measured at the 10× probe and REJECTED: a
    left-semi of grams on the candidate doc set derived from ``cand``
    re-runs the whole band join (5.5 s vs 2.8 s), and deriving that set
    from colliding buckets via a window count over (band, key) costs
    more at 1× than the shuffles it saves at 10× (t1 1.46 s vs 0.56 s,
    t10 equal)."""
    if sizes is None:
        sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # ``grams_b``/``sizes_b`` split the pair sides over two different
    # relations (doc_a rows from one, doc_b rows from the other) — the
    # at-rest incremental index serves its corpus side from a bucketed
    # table while the batch side is freshly shingled. Defaults keep the
    # classic single-relation behavior bit-identical.
    if grams_b is None:
        grams_b = grams
    if sizes_b is None:
        sizes_b = sizes
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = grams_b.select(F.col("doc_id").alias("doc_b"), "gram")
    # deliberately NO broadcast hints here: broadcast(cand) forces a
    # separate driver-collected recompute of the whole LSH upstream —
    # measured 82s vs 2.3s warm at sf0.1 (and cand scales with data)
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes_b.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from the signature relation —
    one row per (doc, band), key = the band's concatenated min-hashes."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                ).alias("key"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle rows → 12 seeded md5
    min-aggregates (ONE shuffle on doc_id, map-side combine) → 4 band
    keys → equi-join on band key → exact Jaccard ≥ 0.5 verify via gram
    co-counts. No all-pairs product, no document arrays in shuffles.
    The rejected signature-agreement prefilter is measured in
    docs/BENCH_NOTES.md §r07."""
    grams = _gram_rows(spark, sf_dir)
    sigs = _sig_rows(spark, sf_dir)
    bands = _band_rows(sigs)
    # self-join on the SAME subtree (alias, not two renamed projections):
    # both sides canonicalize to one Exchange(hashpartitioning(band, key))
    # and Spark's ReuseExchange turns the second into a ReusedExchange —
    # one band shuffle instead of two (VERDICT r04 #4 exchange diet)
    cand = (
        bands.alias("ba")
        .join(
            bands.alias("bb"),
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.key") == F.col("bb.key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sizes = sigs.select("doc_id", "n")
    return _verify_jaccard(cand, grams, JACCARD_THRESHOLD, sizes=sizes)


def _minhash_cte(cand_pred: str = "a.doc_id < b.doc_id") -> str:
    """The minhash pipeline as a reusable WITH-body (ends at `scored`);
    the pair query, the clustering oracles, and the incremental-ingest
    variant build on it. ``cand_pred`` is the extra candidate-pair
    predicate beyond the band-key equality: the default self-dedup
    half-matrix, or a side split (incremental ingest)."""
    mh_cols = ",\n           ".join(
        f"list_min(list_transform(sh, s -> md5('{j}:' || s))) AS mh{j}"
        for j in range(NUM_HASHES)
    )
    band_selects = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, sh, {b} AS band, mh{h0} || mh{h1} || mh{h2} AS key FROM sigs".format(
            b=b,
            h0=b * ROWS_PER_BAND,
            h1=b * ROWS_PER_BAND + 1,
            h2=b * ROWS_PER_BAND + 2,
        )
        for b in range(NUM_BANDS)
    )
    return f"""toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
sh AS (
    SELECT doc_id, {_shingles_sql('t')} AS sh FROM toks WHERE len(t) >= {SHINGLE_K}
),
sigs AS (
    SELECT doc_id, sh,
           {mh_cols}
    FROM sh WHERE len(sh) >= 1
),
bands AS (
    {band_selects}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND {cand_pred}
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
)"""


def _minhash_oracle() -> str:
    return (
        f"WITH {_minhash_cte()}\n"
        f"SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}"
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, inverted-index candidates)


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup with inverted-index candidate
    generation: docs sharing at least one 5-gram are candidates (join on
    the gram itself), then exact Jaccard ≥ 0.6 verify. Compared to
    MinHash this has no false negatives; the candidate join is bigger, so
    it suits high-threshold dedup where shared long grams are rare."""
    grams = _gram_rows(spark, sf_dir, k=5)
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(cand, grams, 0.6)


_NGRAM_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
sh AS (
    SELECT doc_id, {_shingles_sql('t', 5)} AS sh FROM toks WHERE len(t) >= 5
),
inv AS (
    SELECT doc_id, unnest(sh) AS gram FROM sh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
),
scored AS (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.6"""


# ---------------------------------------------------------------------------
# SimHash


def _simhash_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, v0..v63) — the 64 SimHash bit votes, column-form.

    Per token *occurrence*, md5's first 16 hex chars are its 64 feature
    bits; each bit position votes ±1; the sign of the vote is the
    fingerprint bit. The token is hashed ONCE; the 64 votes are 64 SUM
    COLUMNS of one groupBy(doc_id) (sharing 16 hex-digit extractions),
    all map-side combined — integer sums, order-independent. Two
    rejected forms, both measured: an array-lambda that recomputed md5
    per (token × position) ran 25× slower, and the r01-r06 shape that
    EXPLODED each token to 64 (doc_id, p, vote) rows paid ~64× the agg
    hash-probe volume plus a collect_list/array_sort reassembly —
    fingerprint build 1.85 s → 0.96 s at the 10× probe (bit-identical
    output, exchanges 2 → 1)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # explode-then-filter, not explode(filter(...)): the array-filter HOF
    # never codegens, while row-level explode + filter is whole-stage
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    hx = toks.select("doc_id", F.substring(F.md5("tok"), 1, 16).alias("h"))
    digits = [
        F.instr(F.lit("0123456789abcdef"), F.col("h").substr(i + 1, 1)) - 1
        for i in range(SIMHASH_BITS // 4)
    ]
    aggs = []
    for p in range(SIMHASH_BITS):
        mask = 8 >> (p % 4)  # hex digit bit, MSB-first within the digit
        v = F.when(
            digits[p // 4].bitwiseAND(F.lit(mask)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))
        aggs.append(F.sum(v).alias(f"v{p}"))
    return hx.groupBy("doc_id").agg(*aggs)


def _simhash_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, k0..k{SIMHASH_BANDS-1}) — the fingerprint as one int per
    16-bit band, straight from the votes (r14, guide §2.3 narrower
    types): k_b carries bit p=16b+j at weight 1<<(15−j), exactly the
    base-2 reading of the string form's band substring, so band-key
    equality and per-band XOR popcounts are unchanged while the band
    self-join shuffles 4 ints per row instead of the 64-char string.

    Persisted like _sig_rows (VERDICT r04 #4 exchange diet, the same
    reasoning): the band self-join consumes this relation on BOTH
    sides, and without the persist each side re-runs the whole
    scan→explode→md5→64-column vote aggregation (measured: the votes
    subtree is ~0.3 s of the query's ~0.8 s at sf0.1, paid twice). The
    cached relation is ~1 row/doc of 5 ints — the corpus summary, not
    the corpus."""

    def build() -> DataFrame:
        band_w = SIMHASH_BITS // SIMHASH_BANDS
        keys = []
        for b in range(SIMHASH_BANDS):
            k = F.lit(0)
            for j in range(band_w):
                p = b * band_w + j
                k = k + F.when(
                    F.col(f"v{p}") > 0, F.lit(1 << (band_w - 1 - j))
                ).otherwise(F.lit(0))
            keys.append(k.cast("int").alias(f"k{b}"))
        return _simhash_votes(spark, sf_dir).select("doc_id", *keys).persist()

    return summaries.get_or_build("simhash_keys", spark, sf_dir, (), build)


_SIMHASH_CTE = f"""toks AS (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
),
hx AS (
    SELECT doc_id, substring(md5(tok), 1, 16) AS h FROM toks
),
pos AS (
    SELECT doc_id, h, r.p FROM hx, range(0, {SIMHASH_BITS}) r(p)
),
votes AS (
    SELECT doc_id, p,
           sum(CASE WHEN ((strpos('0123456789abcdef',
                     substring(h, CAST(floor(p/4) AS INTEGER) + 1, 1)) - 1)
                 & (CASE WHEN p%4=0 THEN 8 WHEN p%4=1 THEN 4 WHEN p%4=2 THEN 2 ELSE 1 END)) <> 0
               THEN 1 ELSE -1 END) AS v
    FROM pos GROUP BY doc_id, p
),
sims AS (
    SELECT doc_id,
           string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sim
    FROM votes GROUP BY doc_id
)"""


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, banded into 4×16-bit
    keys, exact Hamming ≤ 6 verify on band-collision candidates. By
    pigeonhole, recall is guaranteed for pairs with Hamming ≤ 3; pairs at
    4-6 are kept when they happen to collide on a band (standard banded
    SimHash trade-off — more bands for more recall).

    The fingerprint enters the band self-join as 4 SMALL INTS straight
    from the vote columns; each banded row shuffles (doc_id, band,
    key int, 4 key ints) ≈ 30 B instead of the oracle's (doc_id, 64-char
    sim string, 16-char key) ≈ 100 B, and the Hamming verify is 4
    codegen'd int XOR+popcounts per candidate pair. The string-keyed
    shape it replaced is measured in OPTIMIZATION_r14.md."""
    docs = _simhash_keys(spark, sf_dir)
    kcols = [f"k{b}" for b in range(SIMHASH_BANDS)]
    bands = docs.select(
        "doc_id",
        *kcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"k{b}").alias("key")
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        *kcols,
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.k{m}").alias(f"ka{m}") for m in range(SIMHASH_BANDS)],
            *[F.col(f"b.k{m}").alias(f"kb{m}") for m in range(SIMHASH_BANDS)],
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    parts = [
        F.bit_count(F.col(f"ka{m}").bitwiseXOR(F.col(f"kb{m}")))
        for m in range(SIMHASH_BANDS)
    ]
    hamming = parts[0]
    for part in parts[1:]:
        hamming = hamming + part
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_oracle() -> str:
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    band_selects = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, sim, {b} AS band, substring(sim, {1 + b * band_w}, {band_w}) AS key FROM sims"
        for b in range(SIMHASH_BANDS)
    )
    return f"""WITH {_SIMHASH_CTE},
bands AS (
    {band_selects}
),
cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           min(a.sim) AS sim_a, min(b.sim) AS sim_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
scored AS (
    SELECT doc_a, doc_b,
           CAST(list_reduce([0] || list_transform(range(1, {SIMHASH_BITS + 1}),
                p -> CASE WHEN substring(sim_a, p, 1) <> substring(sim_b, p, 1) THEN 1 ELSE 0 END),
                (acc, x) -> acc + x) AS BIGINT) AS hamming
    FROM cand
)
SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= {HAMMING_THRESHOLD}"""


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph


def connected_components(
    edges: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (doc_id, cluster_id) where cluster_id = min doc_id in the component.

    ``edges`` is an undirected pair set (doc_a, doc_b); only vertices
    that appear in an edge are labeled (callers re-attach singletons with
    a left join — at corpus scale most documents are singletons, so
    keeping them out of the loop shrinks the iterated relation by orders
    of magnitude).

    Each round is one shuffle (neighbor-min groupBy) + one join; labels
    only ever decrease, so the label sum is a strictly-decreasing
    convergence witness — no expensive change-count join. Rounds needed =
    graph diameter; dedup components are near-cliques (every member
    collides with the seed), so this converges in 2-4 rounds in practice.
    For adversarial long-chain graphs at 100 TB, swap in
    :func:`connected_components_star` (large-star/small-star, Kiveris
    et al.), which bounds rounds at O(log² n) with the same (vertex,
    label) output. localCheckpoint per round cuts the otherwise
    exponentially-growing plan lineage (eager=False would re-trigger the
    whole loop on the final action)."""
    sym = edges.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr")
    ).unionAll(
        edges.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("nbr"))
    )
    sym = sym.persist()
    labels = (
        sym.select("doc_id")
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iters):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("nbr"), F.col("cluster_id").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("doc_id")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels


_LAST_STAR_ROUNDS = 0  # observability for tests: rounds to fixed point


def connected_components_star(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) — the adversarial-diameter backend: O(log² n) rounds on
    ANY graph shape, vs min-label propagation's diameter-bounded loop
    (a 500-node chain needs 499 propagation rounds but ~5 star rounds).

    Edge-set representation, always (larger, smaller):
    - large-star: every node u links its strictly-larger neighbors to
      m = min(Γ(u) ∪ {u}) — one groupBy(min) + one join per round;
    - small-star: every node u links its smaller neighbors and itself
      to m — same shape.
    Fixed point = every non-min vertex points straight at its
    component min; detected by an (edge-count, endpoint-sum) witness,
    which both stars only ever decrease. Same output contract as
    :func:`connected_components`: (doc_id, cluster_id = component-min
    doc_id), edge-participating vertices only."""
    global _LAST_STAR_ROUNDS
    e = (
        edges.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    prev = None
    rounds = 0
    for _ in range(max_iters):
        # large-star over the symmetric adjacency
        sym = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are (larger u, smaller v); link N(u) ∪ {u} to m
        mm = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(mm, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionAll(mm.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        cur = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u") + F.col("v")).alias("s"),
        ).first()
        cur = (cur["n"], cur["s"])
        if cur == prev:
            break
        prev = cur
    _LAST_STAR_ROUNDS = rounds
    return (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .unionAll(e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")))
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def _q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for every document: MinHash-LSH near-dup pairs
    (dedup_minhash_lsh) become an undirected graph; each doc gets the min
    doc_id of its connected component as cluster_id (singletons: itself).
    is_keeper marks the one row per cluster a dedup pipeline would keep.
    This is the step after pair generation in a real dedup pass — pairs
    alone can't answer "which rows do I drop" when dups chain a~b~c."""
    edges = _q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labeled = connected_components(edges)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labeled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id")).alias("is_keeper"),
    )


def _cluster_oracle() -> str:
    # WITH RECURSIVE reach: every label reachable from each doc over the
    # symmetric edge set; min reachable doc_id = the component min.
    return f"""WITH RECURSIVE {_minhash_cte()},
pairs AS (
    SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.doc_id
),
clusters AS (
    SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT doc_id, cluster_id, cluster_id = doc_id AS is_keeper FROM clusters"""


def _q_dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as dedup_cluster_cc, computed by the
    large-star/small-star backend — round count independent of
    component diameter (tests/test_cc_star.py drives a 500-node chain
    through it in O(log² n) rounds)."""
    edges = _q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    labeled = connected_components_star(edges)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labeled, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id")).alias("is_keeper"),
    )


register("dedup_minhash_lsh", _q_dedup_minhash, _minhash_oracle())


# ---------------------------------------------------------------------------
# Incremental-ingest dedup (r08): the PRODUCTION dedup shape that the
# self-join query doesn't cover — a small incoming BATCH checked
# against the big AT-REST corpus, without re-pairing the corpus with
# itself. At 100 TB nobody re-runs all-pairs dedup per ingest: corpus
# MinHash signatures/band keys are computed once and stored at rest
# (the bucketed.py discipline — here they come from the same cached
# signature relation the self-join uses, which plays that role within
# a session), and each ingest batch pays only
#   batch shingle+sign  +  band equi-join (batch keys vs corpus keys)
#   +  exact-Jaccard verify on the candidates.
# Candidate volume scales with BATCH size (× band collision rate),
# never corpus²; batch-internal duplicates are the standard query's
# job, deliberately out of scope here (a real pipeline runs both).
# Split: doc_id % 10 == 0 is the incoming batch (~10%), the rest is
# the corpus — same deterministic-split convention as the heldout set
# in decontamination.

BATCH_MOD = 10


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _gram_rows(spark, sf_dir)
    sigs = _sig_rows(spark, sf_dir)
    bands = _band_rows(sigs)
    corpus = bands.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = bands.filter(F.col("doc_id") % BATCH_MOD == 0)
    # band equi-join, corpus side vs batch side — no a<b half-matrix
    # predicate (the pair (corpus=20, batch=10) must survive)
    cand = (
        corpus.alias("ca")
        .join(
            batch.alias("cb"),
            (F.col("ca.band") == F.col("cb.band"))
            & (F.col("ca.key") == F.col("cb.key")),
        )
        .select(
            F.col("ca.doc_id").alias("doc_a"), F.col("cb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pairs = _verify_jaccard(
        cand, grams, JACCARD_THRESHOLD, sizes=sigs.select("doc_id", "n")
    )
    return pairs.select(
        F.col("doc_a").alias("corpus_doc"),
        F.col("doc_b").alias("batch_doc"),
        "jaccard",
    )


def _incremental_oracle() -> str:
    return (
        f"WITH {_minhash_cte(cand_pred=f'a.doc_id % {BATCH_MOD} <> 0 AND b.doc_id % {BATCH_MOD} = 0')}\n"
        f"SELECT doc_a AS corpus_doc, doc_b AS batch_doc, jaccard\n"
        f"FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}"
    )


register("dedup_incremental_minhash", _q_dedup_incremental, _incremental_oracle())


# ---------------------------------------------------------------------------
# At-rest dedup index (VERDICT r08 #3): dedup_incremental_minhash
# proves the batch-vs-corpus banding SHAPE, but its corpus-side
# signatures are recomputed from `documents` per session. The
# production ingest loop stores the dedup index AS A TABLE: the
# corpus's gram rows and LSH band keys live at rest (written once at
# ingest, appended as batches land), and each incoming batch pays only
#   batch shingle+sign + band join against the STORED band table
#   + exact verify against the STORED gram table.
# Layouts (the bucketed.py staging discipline — fingerprint,
# _STAGED_OK, catalog re-attach):
#   dedup_band_idx: (doc_id, band, key) bucketed by KEY — the band
#       equi-join's corpus side rides the bucketed scan's
#       hashpartitioning(key) (partitioning exprs ⊆ join keys {band,
#       key}), so only the SMALL batch band relation shuffles;
#   dedup_gram_idx: (doc_id, gram) bucketed by DOC_ID — the verify's
#       doc_a-side join and the per-doc size aggregation both ride
#       hashpartitioning(doc_id) exchange-free.
# At 100 TB the gram table is the big artifact (~grams ≈ tokens), but
# it is exactly what exact-Jaccard verification needs and it is paid
# ONCE at ingest — the alternative (re-shingling the corpus per batch)
# pays it on every ingest. Output and oracle are IDENTICAL to
# dedup_incremental_minhash — same pairs, same jaccard — so the two
# registrations pin the layout refactor to the in-memory twin.

_IDX_STAGE_VERSION = "v2"  # v2: epoch/append-log protocol (VERDICT r09 #2)

def _idx_derivation() -> str:
    """Derivation fingerprint for the staged index: MinHash geometry +
    the corpus-side split + a hash of the ACTUAL shingle/signature
    source code (r09 review: a hand-maintained tag like
    'shingle=word-kgram-distinct' goes stale silently when _shingle_gen
    changes — embedding the code the way the token tables embed
    TOKENS_SQL makes any shingle-rule edit invalidate the staging
    automatically; over-invalidation on comment edits is the safe
    direction). Any change here (or to the source parquet) forces a
    rebuild without a manual version bump."""
    import hashlib
    import inspect

    code = inspect.getsource(_shingle_gen) + inspect.getsource(_sig_agg_exprs)
    return (
        f"minhash_idx;k={SHINGLE_K};h={NUM_HASHES};"
        f"bands={NUM_BANDS}x{ROWS_PER_BAND};corpus=doc_id%{BATCH_MOD}!=0;"
        f"code={hashlib.md5(code.encode()).hexdigest()[:12]}"
    )


def _batch_grams(
    spark: SparkSession,
    sf_dir: str,
    k: int = SHINGLE_K,
    pred_sql: str | None = None,
) -> DataFrame:
    """Gram rows for the INCOMING batch only (default: doc_id %
    BATCH_MOD == 0; the lifecycle query narrows it to the not-yet-
    appended split): the ingest path shingles just the new documents —
    the at-rest index supplies everything corpus-side. Persisted: the
    batch side feeds three subtrees (band keys, the verify's doc_b join,
    sizes)."""
    if pred_sql is None:
        pred_sql = f"doc_id % {BATCH_MOD} = 0"

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents").filter(F.expr(pred_sql))
        d = d.repartition(spark.sparkContext.defaultParallelism)
        return (
            d.mapInPandas(_shingle_gen(k), "doc_id bigint, gram string")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id")
            .persist()
        )

    return summaries.get_or_build(
        "batch_grams", spark, sf_dir, (k, pred_sql), build
    )


#: (short label, DDL, bucket columns) for the three index tables —
#: shared by ensure / append / compact so the layout lives in one place
_IDX_TABLE_SPECS = (
    ("gram", "doc_id BIGINT, gram STRING", ("doc_id",)),
    ("band", "doc_id BIGINT, band INT, key STRING", ("key",)),
    ("size", "doc_id BIGINT, n BIGINT", ("doc_id",)),
)


def _idx_dirs(tables: tuple[str, str, str]) -> list[str]:
    import os

    from strategy_analyzer_exporter_spark.sources.staging import staging_root

    return [os.path.join(staging_root(), "bucketed", t) for t in tables]


def dedup_index_tables(
    spark: SparkSession,
    sf_dir: str,
    name_extra: str = "",
    appends: tuple[str, ...] = (),
    compact: bool = False,
    vacuums: tuple[str, ...] = (),
) -> tuple[str, str, str]:
    """Ensure the at-rest dedup index for ``sf_dir``'s corpus side
    exists AT THE DECLARED STATE and return (gram table, band table,
    sizes table) names. The sizes table (doc_id, n — one row per corpus
    doc) is stored at ingest so batch queries don't pay a second full
    scan of the gram table just to recount sizes the index build
    already aggregated (r09 review — the gram table is the index's
    biggest artifact). ``name_extra`` forks an independent copy.

    ``appends`` declares the expected APPEND EPOCHS (SQL predicates
    over doc_id, in ingest order) on top of the corpus-only base —
    VERDICT r09 #2's append log: each committed append left an
    ``_EPOCH_<n>_OK`` record (predicate + added files + row counts) in
    every table directory, so a FRESH session validates base
    fingerprint + epoch chain against ``appends`` and RE-ATTACHES the
    appended layout instead of rebuilding; only epochs the chain does
    not yet carry are (re)played. A torn append (PENDING marker without
    OK — the appender crashed) or any chain/expectation mismatch forces
    a full rebuild + replay, preserving the old flag-removal safety
    without its rebuild-on-every-append cost.

    ``compact`` (VERDICT r09 #3): after this call performed a rebuild
    or replayed any append, rewrite each table back to ONE file per
    bucket (appends leave one extra file per bucket per epoch),
    preserving bucket spec and epoch history — the steady-state
    re-attach path never compacts (already compacted, zero writes).

    ``vacuums`` (VERDICT r10 #4 + ADVICE r10): the declared PHYSICAL
    deletions, in order — each predicate's doc ids are purged from all
    three tables via a vacuum compaction, and the layout's
    ``_VACUUMED`` manifest must match exactly for re-attach: an
    undeclared (mistaken) vacuum of a pristine index, or a pristine
    copy where a vacuum was declared, forces rebuild instead of
    silently serving the wrong row set. Vacuums are applied AFTER all
    appends; a layout whose recorded vacuums precede still-missing
    appends is rebuilt (replaying the append would resurrect purge-
    order semantics this API doesn't promise)."""
    import os
    import shutil

    from strategy_analyzer_exporter_spark.operators.bucketed import (
        corpus_fingerprint,
        ensure_bucketed,
    )
    from strategy_analyzer_exporter_spark.sources import epochs
    from strategy_analyzer_exporter_spark.sources.staging import staging_suffix

    suf = staging_suffix(os.path.abspath(sf_dir), name_extra)
    fp = corpus_fingerprint(
        sf_dir, derivation=_idx_derivation(), version=_IDX_STAGE_VERSION
    )
    tables = tuple(
        f"dedup_{label}_idx_{suf}" for label, _, _ in _IDX_TABLE_SPECS
    )
    dirs = _idx_dirs(tables)
    expected = list(appends)
    base_ok = True
    for d in dirs:
        try:
            with open(os.path.join(d, "_STAGED_OK")) as f:
                base_ok &= f.read().strip() == fp
        except OSError:
            base_ok = False
    chain_ok, preds = epochs.chain_state(dirs)
    vac_states = [epochs.vacuum_state(d) for d in dirs]
    rec_vacs = vac_states[0]
    expected_vacs = list(vacuums)
    vac_ok = (
        all(v == rec_vacs for v in vac_states)
        and rec_vacs == expected_vacs[: len(rec_vacs)]
        # vacuums apply after ALL appends — recorded vacuums over an
        # incomplete append chain can't be replayed in order
        and not (rec_vacs and len(preds) < len(expected))
    )
    attached = (
        base_ok
        and chain_ok
        and vac_ok
        and len(preds) <= len(expected)
        and preds == expected[: len(preds)]
    )
    if not attached:
        # full rebuild: wipe catalog entries + dirs (data, flags AND
        # epoch markers — a stale chain must not survive the rebuild),
        # including a torn compaction's __old/__compact siblings, which
        # otherwise leak one full-table copy per torn swap (r10 review)
        for t, d in zip(tables, dirs):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__compact")
            for p in (d, f"{d}__old", f"{d}__compact"):
                shutil.rmtree(p, ignore_errors=True)
        preds = []
    corpus_pred = F.col("doc_id") % BATCH_MOD != 0
    builders = (
        lambda: _gram_rows(spark, sf_dir).filter(corpus_pred),
        lambda: _band_rows(_sig_rows(spark, sf_dir)).filter(corpus_pred),
        lambda: _sig_rows(spark, sf_dir).filter(corpus_pred).select("doc_id", "n"),
    )
    done_vacs = rec_vacs if attached else []
    for (label, ddl, bcols), t, build in zip(_IDX_TABLE_SPECS, tables, builders):
        ensure_bucketed(
            spark, t, ddl, fp, build, bucket_cols=bcols,
            vacuums=tuple(done_vacs),
        )
    mutated = not attached
    for pred_sql in expected[len(preds):]:
        dedup_index_append(spark, sf_dir, tables, pred_sql)
        mutated = True
    for vac_pred in expected_vacs[len(done_vacs):]:
        # derive the purge set from the index's OWN inventory BEFORE the
        # rewrite, then vacuum-compact all three tables; the compaction
        # doubles as the post-append compaction, so `compact` owes
        # nothing further
        ids = spark.table(tables[2]).filter(F.expr(vac_pred)).select("doc_id")
        compact_dedup_index(
            spark, tables, vacuum_ids=ids, vacuum_pred=vac_pred
        )
        mutated = False
    if compact and mutated:
        compact_dedup_index(spark, tables)
    return tables


def dedup_index_append(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, str, str],
    pred_sql: str,
    k: int = SHINGLE_K,
) -> None:
    """The ingest APPEND step: shingle+sign the docs matching
    ``pred_sql`` (a SQL predicate string — the epoch's cross-session
    identity) and append their gram, band, and size rows to the at-rest
    index tables — after this, the next batch's band join sees them as
    corpus. Spark enforces the tables' bucket spec on append (rows
    shuffle into the right buckets; an extra file per bucket appears,
    which keeps the scan's hashpartitioning and drops only the
    per-bucket sort assumption — ``compact_dedup_index`` restores one
    file per bucket).

    Crash safety (VERDICT r09 #2, replacing the r9 flag-removal
    compromise): ``_EPOCH_<n>_PENDING`` markers land in every table
    directory BEFORE any data file is written, and the ``_EPOCH_<n>_OK``
    records (predicate + added files + appended row counts from the new
    parquet footers) are the commit point. A crashed appender leaves
    PENDING without OK, which fails ``epochs.chain_state`` and forces
    the next ensure pass to rebuild — same poison-proofing as removing
    ``_STAGED_OK``, but a COMPLETED append now survives session
    boundaries: a fresh session re-attaches and replays nothing."""
    import os

    from strategy_analyzer_exporter_spark.operators.bucketed import N_BUCKETS
    from strategy_analyzer_exporter_spark.sources import epochs

    dirs = _idx_dirs(tables)
    ok, preds = epochs.chain_state(dirs)
    if not ok:
        # appending onto an invalid chain would renumber from the gap
        # and CLOBBER an existing epoch's OK record — the clobbered
        # chain then validates over duplicated data rows (r10 review).
        # The ensure path never gets here (it rebuilds first); a direct
        # caller must be stopped loudly.
        raise RuntimeError(
            f"dedup_index_append on an invalid epoch chain for {tables}; "
            f"run dedup_index_tables(...) to rebuild first"
        )
    n = len(preds) + 1
    base_fp = ""
    try:
        with open(os.path.join(dirs[0], "_STAGED_OK")) as f:
            base_fp = f.read().strip()
    except OSError:
        pass
    epochs.begin_epoch(dirs, n, pred_sql)
    before = {d: epochs.data_files(d) for d in dirs}
    gram_tbl, band_tbl, size_tbl = tables
    g = (
        load_table(spark, sf_dir, "documents")
        .filter(F.expr(pred_sql))
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_shingle_gen(k), "doc_id bigint, gram string")
        .persist()
    )
    try:
        sig = g.groupBy("doc_id").agg(*_sig_agg_exprs())
        # the writer must RESTATE the tables' bucket spec — Spark
        # rejects an unbucketed append into a bucketed table
        (
            g.repartition(N_BUCKETS, "doc_id")
            .write.mode("append")
            .format("parquet")
            .bucketBy(N_BUCKETS, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(gram_tbl)
        )
        (
            _band_rows(sig)
            .repartition(N_BUCKETS, "key")
            .write.mode("append")
            .format("parquet")
            .bucketBy(N_BUCKETS, "key")
            .sortBy("key")
            .saveAsTable(band_tbl)
        )
        (
            sig.select("doc_id", "n")
            .repartition(N_BUCKETS, "doc_id")
            .write.mode("append")
            .format("parquet")
            .bucketBy(N_BUCKETS, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(size_tbl)
        )
    finally:
        g.unpersist()
    added = {
        d: {
            rel: sz
            for rel, sz in epochs.data_files(d).items()
            if rel not in before[d]
        }
        for d in dirs
    }
    epochs.commit_epoch(dirs, n, pred_sql, added, base_fp)


def compact_dedup_index(
    spark: SparkSession,
    tables: tuple[str, str, str],
    vacuum_ids: DataFrame | None = None,
    vacuum_pred: str | None = None,
) -> None:
    """Index maintenance (VERDICT r09 #3): rewrite each index table back
    to ONE file per bucket, preserving the bucket spec and the epoch
    manifest (epochs re-marked ``compacted`` — their predicates keep
    validating expected state, their stale file lists do not).

    ``vacuum_ids``: a tiny (doc_id) relation of tombstoned docs to
    PHYSICALLY purge during the rewrite — all three tables key on
    doc_id, so one anti-join per table drops the retired docs' grams,
    bands, and size rows while the files are being rewritten anyway.
    After a vacuum the probe-time tombstone anti-join over those ids is
    a no-op (tested equal); the bytes themselves are gone. NEVER vacuum
    the default (name_extra="") tables — the registered queries' oracle
    describes the full corpus split; vacuum forks only (and since
    ADVICE r10, not just by convention: the vacuum is recorded in the
    layout's ``_VACUUMED`` manifest via ``vacuum_pred``, so a
    mistakenly-vacuumed index fails the attach check instead of
    silently corrupting oracle comparisons in later sessions)."""
    from strategy_analyzer_exporter_spark.operators.bucketed import (
        compact_bucketed_table,
    )

    drop = (vacuum_ids, "doc_id") if vacuum_ids is not None else None
    for (label, ddl, bcols), t in zip(_IDX_TABLE_SPECS, tables):
        compact_bucketed_table(
            spark, t, ddl, bucket_cols=bcols, drop_ids=drop,
            vacuum_pred=vacuum_pred,
        )


def _at_rest_incremental(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, str, str],
    batch_pred_sql: str | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """The probe half shared by the at-rest incremental family: batch
    docs (``batch_pred_sql``) banded against the STORED index tables,
    exact-Jaccard verified against the STORED gram/size relations.
    ``tombstones`` (VERDICT r09 #4): a tiny (doc_id) relation of
    RETIRED corpus docs, broadcast-anti-joined against the band table's
    candidate stream — probe-time deletion without touching the index
    files; no new exchange (broadcast preserves the bucketed scan's
    partitioning)."""
    gram_tbl, band_tbl, size_tbl = tables
    corpus_grams = spark.table(gram_tbl)
    corpus_bands = spark.table(band_tbl)
    if tombstones is not None:
        corpus_bands = corpus_bands.join(
            F.broadcast(tombstones), "doc_id", "left_anti"
        )
    # sizes come from the at-rest (doc_id, n) table, not a recount of
    # the gram table — the big artifact is scanned exactly once (the
    # verify's doc_a join); its bucketed layout co-partitions that join
    corpus_sizes = spark.table(size_tbl)
    bg = _batch_grams(spark, sf_dir, pred_sql=batch_pred_sql)
    bsig = bg.groupBy("doc_id").agg(*_sig_agg_exprs())
    bbands = _band_rows(bsig)
    cand = (
        corpus_bands.alias("ca")
        .join(
            bbands.alias("cb"),
            (F.col("ca.band") == F.col("cb.band"))
            & (F.col("ca.key") == F.col("cb.key")),
        )
        .select(
            F.col("ca.doc_id").alias("doc_a"), F.col("cb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pairs = _verify_jaccard(
        cand,
        corpus_grams,
        JACCARD_THRESHOLD,
        sizes=corpus_sizes,
        grams_b=bg,
        sizes_b=bsig.select("doc_id", "n"),
    )
    return pairs.select(
        F.col("doc_a").alias("corpus_doc"),
        F.col("doc_b").alias("batch_doc"),
        "jaccard",
    )


def _q_dedup_incremental_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _at_rest_incremental(spark, sf_dir, dedup_index_tables(spark, sf_dir))


# --- tombstones (VERDICT r09 #4) -------------------------------------------
# Retired corpus docs (takedowns, dedup losers) must stop matching
# incoming batches WITHOUT an index rebuild: a tiny (doc_id) tombstone
# relation — staged once from the at-rest size table, the index's own
# id inventory — anti-joins the band table's candidate stream at probe
# time. The oracle restricts the corpus side by the same predicate
# while the signatures/grams still exist (deleted from serving, not
# from history). Mod 5 residue 2 measured non-vacuous at sf0.001 AND
# sf0.01 (3 baseline pairs with corpus_doc ≡ 2 mod 5 at each scale
# vanish; other pairs survive — the exclusion is value-checked, not
# all-or-nothing).

DOC_TOMB_MOD = 5
DOC_TOMB_RESIDUE = 2


def doc_tombstones(
    spark: SparkSession, sf_dir: str, tables: tuple[str, str, str]
) -> DataFrame:
    """The retired-doc relation, staged once as a tiny parquet keyed on
    the index fingerprint + predicate, derived from the at-rest size
    table (one row per indexed doc — never a corpus rescan). ``tables``
    is the caller's already-ensured index (re-validating here would
    double the fingerprint/chain filesystem work per query build — r10
    review). The 100 TB takedown list: thousands of rows vs billions,
    always broadcastable."""
    import os
    import shutil

    from strategy_analyzer_exporter_spark.sources.staging import (
        staging_root,
        staging_suffix,
    )

    from strategy_analyzer_exporter_spark.sources import epochs

    dirs = _idx_dirs(tables)
    size_dir = dirs[2]
    with open(os.path.join(size_dir, "_STAGED_OK")) as f:
        idx_fp = f.read().strip()
    pred = f"doc_id % {DOC_TOMB_MOD} = {DOC_TOMB_RESIDUE}"
    # the staged id list must track the index's COMMITTED EPOCH CHAIN,
    # not just the base fingerprint: under the v2 protocol the base
    # fingerprint survives appends, so a pre-append id list would keep
    # validating while newly appended docs matching the residue were
    # never tombstoned (ADVICE r10)
    _, chain_preds = epochs.chain_state(dirs)
    fp = f"{idx_fp};chain={chain_preds!r};{pred}"
    td = os.path.join(
        staging_root(),
        f"doc_tomb_{staging_suffix(os.path.abspath(sf_dir))}",
    )
    flag = os.path.join(td, "_STAGED_OK")
    ok = False
    try:
        with open(flag) as f:
            ok = f.read().strip() == fp
    except OSError:
        pass
    if not ok:
        shutil.rmtree(td, ignore_errors=True)
        (
            spark.table(tables[2])
            .filter(F.expr(pred))
            .select("doc_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(td, "ids"))
        )
        with open(flag, "w") as f:
            f.write(fp)
    return spark.read.parquet(os.path.join(td, "ids"))


def _q_dedup_incremental_tombstoned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tables = dedup_index_tables(spark, sf_dir)
    return _at_rest_incremental(
        spark, sf_dir, tables, tombstones=doc_tombstones(spark, sf_dir, tables)
    )


# --- vacuum, end to end (VERDICT r10 #4) ------------------------------------
# The PHYSICAL half of deletion as a registered, oracle-checked query:
# a forked index is built and vacuum-compacted over the SAME ids the
# tombstone query filters (doc_id ≡ DOC_TOMB_RESIDUE mod DOC_TOMB_MOD),
# then probed with NO tombstone anti-join — the retired docs' grams,
# bands, and size rows are gone from disk, not filtered at probe time
# (tests/test_plans.py asserts the probe plan carries zero anti-joins).
# The oracle is the tombstone query's verbatim: physical purge and
# probe-time exclusion must be observationally identical, which
# test_dedup_index.py proves on a unit fork and this query now proves
# through the driver gate every round. The vacuum is DECLARED
# (vacuums=(pred,)), so a fresh session re-attaches the vacuumed layout
# (manifest matches) with zero writes, while the same layout presented
# as a pristine index would fail the manifest check and rebuild
# (ADVICE r10).

DOC_VACUUM_PRED = f"doc_id % {DOC_TOMB_MOD} = {DOC_TOMB_RESIDUE}"


def _q_dedup_incremental_vacuumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tables = dedup_index_tables(
        spark, sf_dir, name_extra="vacuumed", vacuums=(DOC_VACUUM_PRED,)
    )
    return _at_rest_incremental(spark, sf_dir, tables)


# --- index lifecycle (VERDICT r09 #2+#3, end to end) ------------------------
# The production ingest loop as ONE registered, oracle-checked query:
# fork the index, APPEND half the incoming batch as an epoch (committed
# append log → a fresh session RE-ATTACHES the appended layout, zero
# staging writes), COMPACT back to one file per bucket, then query the
# REMAINING batch against the extended corpus. The oracle moves the
# appended split to the corpus side of the candidate predicate —
# appended docs must now match as corpus docs, and pairs INSIDE the
# appended split must not appear (they are corpus–corpus now).

_LC_APPEND_PRED = f"doc_id % {2 * BATCH_MOD} = 0"  # first half of the batch
_LC_BATCH_PRED = f"doc_id % {2 * BATCH_MOD} = {BATCH_MOD}"  # the rest


def _q_dedup_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = dedup_index_tables(
        spark,
        sf_dir,
        name_extra="lifecycle",
        appends=(_LC_APPEND_PRED,),
        compact=True,
    )
    return _at_rest_incremental(
        spark, sf_dir, tables, batch_pred_sql=_LC_BATCH_PRED
    )


def _lifecycle_oracle() -> str:
    corpus = f"(a.doc_id % {BATCH_MOD} <> 0 OR a.doc_id % {2 * BATCH_MOD} = 0)"
    batch = f"b.doc_id % {2 * BATCH_MOD} = {BATCH_MOD}"
    return (
        f"WITH {_minhash_cte(cand_pred=f'{corpus} AND {batch}')}\n"
        f"SELECT doc_a AS corpus_doc, doc_b AS batch_doc, jaccard\n"
        f"FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}"
    )


def _tombstoned_oracle() -> str:
    corpus = (
        f"a.doc_id % {BATCH_MOD} <> 0 "
        f"AND a.doc_id % {DOC_TOMB_MOD} <> {DOC_TOMB_RESIDUE}"
    )
    return (
        f"WITH {_minhash_cte(cand_pred=f'{corpus} AND b.doc_id % {BATCH_MOD} = 0')}\n"
        f"SELECT doc_a AS corpus_doc, doc_b AS batch_doc, jaccard\n"
        f"FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}"
    )


register(
    "dedup_incremental_at_rest", _q_dedup_incremental_at_rest, _incremental_oracle()
)
register(
    "dedup_incremental_tombstoned",
    _q_dedup_incremental_tombstoned,
    _tombstoned_oracle(),
)
# physical purge ≡ probe-time exclusion: the vacuumed fork answers the
# tombstone query's oracle verbatim, with no anti-join in its plan
register(
    "dedup_incremental_vacuumed",
    _q_dedup_incremental_vacuumed,
    _tombstoned_oracle(),
)
register("dedup_index_lifecycle", _q_dedup_index_lifecycle, _lifecycle_oracle())
register("dedup_ngram_jaccard", _q_dedup_ngram, _NGRAM_ORACLE)
register("dedup_simhash", _q_dedup_simhash, _simhash_oracle())
register("dedup_cluster_cc", _q_dedup_cluster, _cluster_oracle())
register("dedup_cluster_cc_star", _q_dedup_cluster_star, _cluster_oracle())


# ---------------------------------------------------------------------------
# Fuzzy near-dup via edit distance: blocked candidate pairs + exact
# Levenshtein verify. Levenshtein is integer-exact in both engines, so
# unlike similarity scores there is no float-parity question. Blocking
# = (lang, length band): candidates come from an equi-join on the block
# key — the record-linkage shape; at 100 TB the block key is the
# shuffle key and block sizes bound the quadratic verify (monitor skew
# on hot blocks; salt or sub-block by another key if a band explodes).

LEV_PREFIX = 40  # verify on a fixed prefix: O(p²) per pair, not O(n²)
LEV_MAX = 5
LEV_BAND = 100  # chars per length band


def _q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein near-dup pairs with OVERLAPPING length bands:
    every doc emits a key on two grids of cell size B offset by B/2
    (grid 0: floor(len/B); grid 1: floor((len + B/2)/B)), so any pair
    whose lengths differ by ≤ B/2 shares at least one (grid, band) key
    — no false negatives at band edges (a 99-char vs 101-char
    near-identical pair lands in grid-1 band 1 together). Pairs that
    collide on both grids are deduped before the O(p²) verify, so the
    exact work per candidate is unchanged; the candidate join stays an
    equi-join on (lang, grid, band) — the same one-shuffle
    record-linkage shape, with 2× the key rows."""
    half = LEV_BAND // 2
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, LEV_PREFIX).alias("pfx"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("grid"),
                    F.floor(F.length("text") / LEV_BAND).alias("band"),
                ),
                F.struct(
                    F.lit(1).alias("grid"),
                    F.floor((F.length("text") + half) / LEV_BAND).alias("band"),
                ),
            )
        ).alias("gb"),
    ).select("doc_id", "lang", "pfx", F.col("gb.grid").alias("grid"), F.col("gb.band").alias("band"))
    a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", "grid", "band", F.col("pfx").alias("pfx_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "lang", "grid", "band", F.col("pfx").alias("pfx_b")
    )
    cand = (
        a.join(b, ["lang", "grid", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pfx_a", "pfx_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("pfx_a", "pfx_b").cast("long"))
        .filter(F.col("edit_dist") <= LEV_MAX)
        .select("doc_a", "doc_b", "edit_dist")
    )


register(
    "dedup_fuzzy_levenshtein",
    _q_dedup_fuzzy,
    f"""WITH d AS (
    SELECT doc_id, lang, substring(text, 1, {LEV_PREFIX}) AS pfx,
           length(text) AS len
    FROM documents
),
k AS (
    SELECT doc_id, lang, pfx, 0 AS grid,
           CAST(floor(len / {LEV_BAND}) AS BIGINT) AS band FROM d
    UNION ALL
    SELECT doc_id, lang, pfx, 1 AS grid,
           CAST(floor((len + {LEV_BAND // 2}) / {LEV_BAND}) AS BIGINT) AS band FROM d
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pfx AS pfx_a, b.pfx AS pfx_b
    FROM k a JOIN k b ON a.lang = b.lang AND a.grid = b.grid AND a.band = b.band
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(levenshtein(pfx_a, pfx_b) AS BIGINT) AS edit_dist
FROM cand WHERE levenshtein(pfx_a, pfx_b) <= {LEV_MAX}""",
)


# ---------------------------------------------------------------------------
# Capstone composite: the full corpus-clean pass with NEAR-dup
# clustering — quality gate → MinHash-LSH pairs among survivors →
# connected-components keeper election. This is the pipeline a real
# training-data build runs (corpus_clean_pipeline's exact-hash dedup
# only catches byte-identical copies; this catches paraphrase-level
# dups and resolves transitive chains a~b~c to one keeper).

# quality gates mirror pipeline.corpus_clean_pipeline; duplicated (not
# imported) because operator modules must stay standalone-importable
# (registry loads all modules at import — see
# test_operator_modules_import_standalone)
_CLEAN_MIN_TOKENS = 10
_CLEAN_MAX_TOKENS = 5000
_CLEAN_MIN_TTR = 0.2


def _q_corpus_clean_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double")
    quality = d.select(
        "doc_id",
        "lang",
        (
            (n_tok >= _CLEAN_MIN_TOKENS)
            & (n_tok <= _CLEAN_MAX_TOKENS)
            & (ttr >= _CLEAN_MIN_TTR)
        ).alias("quality_ok"),
    )
    survivors = quality.filter("quality_ok").select("doc_id")
    pairs = (
        _q_dedup_minhash(spark, sf_dir)
        .join(survivors.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(survivors.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    labeled = connected_components(pairs)
    return (
        quality.join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.when(~F.col("quality_ok"), F.lit(-1))
            .otherwise(F.coalesce("cluster_id", "doc_id"))
            .alias("cluster_id"),
            F.when(~F.col("quality_ok"), "quality_fail")
            .when(F.coalesce("cluster_id", "doc_id") == F.col("doc_id"), "kept")
            .otherwise("dup_dropped")
            .alias("status"),
        )
    )


def _clean_neardup_oracle() -> str:
    return f"""WITH RECURSIVE {_minhash_cte()},
quality AS (
    SELECT doc_id, lang,
           (len({_TOKENS_SQL}) >= {_CLEAN_MIN_TOKENS}
            AND len({_TOKENS_SQL}) <= {_CLEAN_MAX_TOKENS}
            AND CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
                  / CAST(len({_TOKENS_SQL}) AS DOUBLE) >= {_CLEAN_MIN_TTR})
             AS quality_ok
    FROM documents
),
pairs AS (
    SELECT doc_a, doc_b FROM scored
    WHERE jaccard >= {JACCARD_THRESHOLD}
      AND doc_a IN (SELECT doc_id FROM quality WHERE quality_ok)
      AND doc_b IN (SELECT doc_id FROM quality WHERE quality_ok)
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM quality WHERE quality_ok
    UNION
    SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.doc_id
),
clusters AS (
    SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT q.doc_id, q.lang,
       CASE WHEN NOT q.quality_ok THEN -1 ELSE c.cluster_id END AS cluster_id,
       CASE WHEN NOT q.quality_ok THEN 'quality_fail'
            WHEN c.cluster_id = q.doc_id THEN 'kept'
            ELSE 'dup_dropped' END AS status
FROM quality q LEFT JOIN clusters c ON c.doc_id = q.doc_id"""


register("corpus_clean_neardup", _q_corpus_clean_neardup, _clean_neardup_oracle())


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): find maximal TOKEN SPANS that
# occur verbatim ≥2 times anywhere in the corpus (across documents or
# repeated within one). Doc-level dedup (MinHash/SimHash above) keeps
# or drops whole documents; this reports the duplicated REGIONS, which
# is what a training pipeline clips before tokenization. The reference
# paper builds a corpus-wide suffix array — inherently single-node; the
# distributed equivalent is the gram-hash formulation below: a run of
# ≥ SPAN_GRAM duplicated tokens exists iff every SPAN_GRAM-gram inside
# it is duplicated, so duplicated grams mark coverage and merging
# adjacent covered positions yields the maximal COVERED regions — the
# union of duplicated k-gram intervals, which is exactly what
# ExactSubstr clipping consumes. (Two DISTINCT duplicated runs that
# happen to abut fuse into one covered region, so a reported span is
# not always itself a verbatim-duplicated substring; coverage — and
# therefore the clip — is unaffected. Spans shorter than SPAN_GRAM are
# below the reporting threshold by definition.)
#
# Shape at 100 TB: one scan fans out to (doc_id, pos, gram-hash) rows —
# ~tokens-per-doc rows each a few dozen bytes; ONE shuffle on the gram
# hash (the window count; map-side partial aggregation does not apply
# to windows, but the alternative groupBy+semi-join costs TWO shuffles
# of the same relation); ONE shuffle on doc_id for the interval merge,
# whose input is only the duplicated positions (typically ≪ corpus).
# Boilerplate grams (licence headers) are the skew hazard on the gram
# shuffle — same mitigation as the LSH bands above (AQE skew split).
# Hashing is md5 for engine parity with the DuckDB oracle (house rule,
# module docstring); production would swap in xxhash64 — 64-bit
# collisions only ever ADD a false covered position, never remove one.

SPAN_GRAM = 8  # minimum duplicated run length, in tokens


def _q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-COVERAGE spans per document: (doc_id,
    span_start, span_end, span_tokens), positions in 0-based token
    coordinates (whitespace tokens, empties dropped — the shared
    :func:`tokens` convention, so Spark and the oracle index the same
    list). Each span is a maximal run of positions covered by some
    duplicated SPAN_GRAM-gram (two covered positions merge iff the
    gap is ≤ 1 token) — the clip-consumer contract; see the header
    note on abutting runs."""
    from pyspark.sql import Window

    k = SPAN_GRAM
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", _tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= k)
    )
    # one row per gram start: transform+posexplode keeps the fan-out in
    # a single codegen'd projection (no self-join to build the window)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> md5(array_join(slice(t, i + 1, {k}), ' ')))"
            )
        ).alias("pos", "gh"),
    )
    # duplicated grams: window count over the hash — one exchange; the
    # filter keeps only covered positions for the per-doc merge
    cov = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos", (F.col("pos") + k - 1).alias("e"))
    )
    # gaps-and-islands: a new span starts where pos jumps past the
    # running max end + 1 (adjacent/overlapping gram intervals merge)
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    isl = cov.withColumn(
        "ni",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(wd))
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("e").alias("m"))
        .select(
            "doc_id",
            F.col("s").cast("long").alias("span_start"),
            F.col("m").cast("long").alias("span_end"),
            (F.col("m") - F.col("s") + 1).cast("long").alias("span_tokens"),
        )
    )


def _substring_spans_oracle() -> str:
    k = SPAN_GRAM
    return f"""WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
grams AS (
    SELECT doc_id, u.i AS pos,
           md5(array_to_string(t[u.i + 1 : u.i + {k}], ' ')) AS gh
    FROM toks, UNNEST(generate_series(0, len(t) - {k})) AS u(i)
    WHERE len(t) >= {k}
),
cov AS (
    SELECT doc_id, pos, pos + {k - 1} AS e
    FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS c FROM grams)
    WHERE c >= 2
),
isl AS (
    SELECT doc_id, pos, e,
           CASE WHEN pos > coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
           THEN 1 ELSE 0 END AS ni
    FROM cov
),
isl2 AS (
    SELECT doc_id, pos, e,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl2 GROUP BY doc_id, island"""


register(
    "dedup_substring_spans", _q_dedup_substring_spans, _substring_spans_oracle()
)


def _q_text_clip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer of the span report: the corpus with every
    duplicated run REMOVED — Lee et al.'s ExactSubstr cut applied
    symmetrically (the reference implementation cuts every byte range
    that appears ≥2 times, all occurrences; conservative for training
    data). Output is the per-doc audit (token counts before/clipped +
    md5 of the clipped text), not the text itself — the gate hashes
    values, and the md5 pins the reconstruction byte-for-byte.

    Plan: the gram/coverage stages are the span kernel's (one gh
    shuffle); covered positions fan out via sequence-explode and
    dedupe on (doc_id, pos); surviving tokens reassemble with an
    order-pinned sort_array(collect_list(struct(pos, tok))) — one
    doc_id-keyed aggregation, no window. Docs shorter than the gram
    threshold can contain no duplicated run ≥ the threshold, so they
    pass through unclipped by construction."""
    k = SPAN_GRAM
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("t")
    )
    grams = toks.filter(F.size("t") >= k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> md5(array_join(slice(t, i + 1, {k}), ' ')))"
            )
        ).alias("pos", "gh"),
    )
    from pyspark.sql import Window

    covered = (
        grams.withColumn("c", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("c") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("cut", F.lit(1))
    )
    tok_rows = toks.select(
        "doc_id", F.size("t").alias("n_tokens"), F.posexplode("t").alias("pos", "tok")
    )
    kept = tok_rows.join(covered, ["doc_id", "pos"], "left")
    return (
        kept.groupBy("doc_id", "n_tokens")
        .agg(
            F.sum(F.when(F.col("cut").isNotNull(), 1).otherwise(0)).alias("nc"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("cut").isNull(), F.struct("pos", "tok")
                            )
                        )
                    ),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("clipped"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("nc").cast("long").alias("n_clipped"),
            F.md5("clipped").alias("clipped_md5"),
        )
    )


def _clip_spans_oracle() -> str:
    k = SPAN_GRAM
    return f"""WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
grams AS (
    SELECT doc_id, u.i AS pos,
           md5(array_to_string(t[u.i + 1 : u.i + {k}], ' ')) AS gh
    FROM toks, UNNEST(generate_series(0, len(t) - {k})) AS u(i)
    WHERE len(t) >= {k}
),
covered AS (
    SELECT DISTINCT doc_id, v.p AS pos
    FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY gh) AS c FROM grams),
         UNNEST(generate_series(pos, pos + {k - 1})) AS v(p)
    WHERE c >= 2
),
tok_rows AS (
    SELECT doc_id, len(t) AS n_tokens, u.i - 1 AS pos, t[u.i] AS tok
    FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
)
SELECT r.doc_id,
       CAST(any_value(r.n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(c.pos) AS BIGINT) AS n_clipped,
       md5(coalesce(array_to_string(
           list(CASE WHEN c.pos IS NULL THEN r.tok END ORDER BY r.pos)
               FILTER (c.pos IS NULL), ' '), '')) AS clipped_md5
FROM tok_rows r LEFT JOIN covered c ON r.doc_id = c.doc_id AND r.pos = c.pos
GROUP BY r.doc_id"""


register("text_clip_duplicated_spans", _q_text_clip_spans, _clip_spans_oracle())


# ---------------------------------------------------------------------------
# Streaming ingest into the at-rest index: Structured Streaming's
# micro-batches appended as committed epochs via foreachBatch — the
# production "keep the dedup index fresh from the crawl stream" path.
# The streaming engine supplies batch boundaries and AT-LEAST-ONCE
# batch re-delivery after failures; the epoch protocol supplies the
# durable commit; the glue below supplies EXACTLY-ONCE by making the
# append IDEMPOTENT per batch identity: a re-delivered batch whose
# predicate is already in the committed chain is skipped, and a batch
# whose previous attempt tore (PENDING without OK) cleans its own
# wreckage first (epochs.recover_torn_epoch) instead of poisoning the
# layout into a rebuild.
#
# Batch identity is a SQL predicate over the lake (doc_id arithmetic),
# NOT a file list: the staged stream files are split exactly along
# those predicates, so each micro-batch's content is re-derivable from
# its identity and the epoch log stays replayable cross-session — the
# same contract the batch append keeps (epochs.py records preds).
# At 100 TB the stream source is the crawl landing zone and the
# predicate is whatever partitions deliveries (arrival date, crawl
# shard); this is the standard idempotent-foreachBatch design, keyed
# on content identity rather than Spark's ephemeral batchId.

STREAM_SUBBATCHES = 3
# the streamed split: the same half-batch dedup_index_lifecycle
# appends (so the streamed index answers the lifecycle oracle
# verbatim), partitioned into 3 micro-batch predicates
_STREAM_SPLIT = 2 * BATCH_MOD


def _stream_pred(b: int) -> str:
    return (
        f"doc_id % {_STREAM_SPLIT} = 0 "
        f"AND (doc_id div {_STREAM_SPLIT}) % {STREAM_SUBBATCHES} = {b}"
    )


def dedup_index_append_idempotent(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, str, str],
    pred_sql: str,
    k: int = SHINGLE_K,
) -> str:
    """``dedup_index_append`` with retry semantics: 'skipped' when the
    chain already carries ``pred_sql`` (duplicate delivery),
    'recovered' when this writer's torn attempt was cleaned first,
    else 'committed'. Any tear that is NOT this predicate's own still
    raises — only the owner may clean a tear."""
    from strategy_analyzer_exporter_spark.sources import epochs

    dirs = _idx_dirs(tables)
    ok, preds = epochs.chain_state(dirs)
    recovered = False
    if not ok:
        recovered = epochs.recover_torn_epoch(dirs, pred_sql)
        ok, preds = epochs.chain_state(dirs)
        if not ok:
            raise RuntimeError(
                f"epoch chain for {tables} invalid beyond {pred_sql!r}'s "
                f"own tear; rebuild via dedup_index_tables(...)"
            )
    if pred_sql in preds:
        return "skipped"
    dedup_index_append(spark, sf_dir, tables, pred_sql, k)
    return "recovered" if recovered else "committed"


def _stream_docs_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage the streamed split as one parquet file per sub-batch
    predicate (mtimes forced increasing, so maxFilesPerTrigger=1
    delivers them as distinct micro-batches in order). Idempotent via
    _STAGED_OK carrying a corpus + derivation fingerprint (ADVICE
    r11): a regenerated corpus parquet at the same path, or a changed
    STREAM_SUBBATCHES/_STREAM_SPLIT, restages instead of silently
    reusing stale batch files — the doc_tombstones discipline."""
    import os
    import shutil
    import time as _time

    from strategy_analyzer_exporter_spark.operators.bucketed import (
        corpus_fingerprint,
    )
    from strategy_analyzer_exporter_spark.sources.staging import (
        staging_root,
        staging_suffix,
    )

    stage = os.path.join(
        staging_root(),
        "dedup_stream_v1_" + staging_suffix(os.path.abspath(sf_dir)),
    )
    fp = corpus_fingerprint(
        sf_dir,
        derivation=(
            f"stream_split={_STREAM_SPLIT};"
            f"subbatches={STREAM_SUBBATCHES}"
        ),
    )
    flag = os.path.join(stage, "_STAGED_OK")
    try:
        with open(flag) as f:
            if f.read().strip() == fp:
                return stage
    except OSError:
        pass
    shutil.rmtree(stage, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    for b in range(STREAM_SUBBATCHES):
        (
            docs.filter(F.expr(_stream_pred(b)))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(stage, f"batch_{b:04d}"))
        )
    t0 = _time.time() - 86400
    for b in range(STREAM_SUBBATCHES):
        d = os.path.join(stage, f"batch_{b:04d}")
        for f in sorted(os.listdir(d)):
            os.utime(os.path.join(d, f), (t0 + b, t0 + b))
    with open(flag, "w") as f:
        f.write(fp)
    return stage


def run_stream_index_ingest(
    spark: SparkSession, sf_dir: str, tables: tuple[str, str, str]
) -> None:
    """Drive the staged sub-batches through a real Structured
    Streaming query (file source, maxFilesPerTrigger=1 → one
    micro-batch per sub-batch) whose foreachBatch derives each
    batch's identity predicate FROM ITS ROWS and appends it
    idempotently. A batch spanning several staged files (first-trigger
    coalescing) appends each covered predicate separately — identity
    is content-derived, so batch/file alignment is not load-bearing."""
    import os

    from pyspark.sql import types as T

    stage = _stream_docs_stage(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "batch_*"))
    )

    def _append_batch(batch_df, batch_id: int) -> None:
        bs = sorted(
            r[0]
            for r in batch_df.select(
                F.expr(
                    f"(doc_id div {_STREAM_SPLIT}) % {STREAM_SUBBATCHES}"
                ).alias("b")
            )
            .distinct()
            .collect()
        )
        for b in bs:
            dedup_index_append_idempotent(spark, sf_dir, tables, _stream_pred(b))

    q = stream.writeStream.foreachBatch(_append_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _q_streaming_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming lifecycle: base index (corpus only) →
    STREAM the lifecycle's appended split in 3 micro-batches, each
    committed as an epoch through the idempotent foreachBatch path →
    probe the remaining batch against the extended corpus. The final
    index content equals dedup_index_lifecycle's append (same split,
    delivered as 3 epochs instead of 1), so this query answers the
    LIFECYCLE ORACLE verbatim — the stream is an ingest-path refactor,
    not a semantics change.

    Per-session reset: the base ensure declares NO appends, so a prior
    session's streamed chain fails expectation-matching and rebuilds
    to base — the stream genuinely runs (and its epochs genuinely
    commit) in every session, memoized within the session like the
    k-means assignment."""

    def build() -> tuple[str, str, str]:
        tables = dedup_index_tables(spark, sf_dir, name_extra="stream")
        run_stream_index_ingest(spark, sf_dir, tables)
        return tables

    tables = summaries.get_or_build("stream_index", spark, sf_dir, (), build)
    return _at_rest_incremental(
        spark, sf_dir, tables, batch_pred_sql=_LC_BATCH_PRED
    )


register(
    "streaming_dedup_index_ingest",
    _q_streaming_index_ingest,
    _lifecycle_oracle(),
)


# ---------------------------------------------------------------------------
# N-gram CONTAINMENT (Broder 1997's second resemblance measure):
# |A∩B| / min(|A|, |B|) over distinct 5-gram shingle sets — the
# doc-in-doc detector. Jaccard divides by the UNION, so a short doc
# quoted verbatim inside a much longer one scores near zero and every
# Jaccard-family op above misses it; containment divides by the
# smaller set and scores it ~1.0. The training-data use is boilerplate
# /quotation discovery and sub-document dedup triage.
#
# Same candidate shape as dedup_ngram_jaccard (inverted-index gram
# equi-join over the CACHED gram relation, then exact verify by
# counting shared grams per pair) and the same skew note: boilerplate
# grams are the hot keys; production drops grams above a df cap from
# CANDIDATE GENERATION (the classic stop-gram trick — ``df_cap``
# below, VERDICT r11 #3) and AQE splits what remains. Containment =
# int/int, one division — bit-exact.

CONTAIN_K = 5
CONTAIN_T = 0.9
# default stop-gram document-frequency cap when the hook is ENABLED
# (the registered query runs with the hook OFF — capped and uncapped
# outputs are proven equal on a planted boilerplate corpus in
# tests/test_substring_semdedup.py::
# test_containment_df_cap_loses_no_true_pair_on_boilerplate, and the
# trade is measured 1×/10× in BENCH_NOTES §r12)
CONTAIN_DF_CAP = 64


def dedup_containment(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Containment pairs ≥ CONTAIN_T. ``df_cap`` (None = off) drops
    grams appearing in more than ``df_cap`` documents from CANDIDATE
    GENERATION only — the verify count still includes every shared
    gram, so any pair that is generated scores identically to the
    uncapped run. A pair is LOST only if ALL its shared grams are
    stop-grams; such a pair's containment is bounded by
    (shared stop-grams)/min-size, which boilerplate keeps far below
    threshold in practice — the planted-corpus test
    (tests/test_substring_semdedup.py) pins that no above-threshold
    pair is lost at the default cap."""
    grams = _gram_rows(spark, sf_dir, k=CONTAIN_K)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    if df_cap is None:
        # one pass: the gram join IS both candidate generation and
        # the shared-gram count
        shared = (
            a.join(b, "gram")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        # two-phase: candidates from COLD grams only (the hot keys —
        # and their quadratic posting-list blowup — never enter the
        # self-join), then an exact verify that re-counts ALL shared
        # grams for the surviving pairs
        cold = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("gdf"))
            .filter(F.col("gdf") <= df_cap)
            .select("gram")
        )
        ca = a.join(cold, "gram")
        cb = b.join(cold, "gram")
        cand = (
            ca.join(cb, "gram")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        shared = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
    )


_CONTAIN_ORACLE = f"""WITH toks AS (
    SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
),
sh AS (
    SELECT doc_id, {_shingles_sql('t', CONTAIN_K)} AS sh
    FROM toks WHERE len(t) >= {CONTAIN_K}
),
inv AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
SELECT doc_a, doc_b,
       CAST(shared AS BIGINT) AS shared,
       CAST(na.n AS BIGINT) AS n_a,
       CAST(nb.n AS BIGINT) AS n_b,
       CAST(shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) AS containment
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) >= {CONTAIN_T}"""


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_containment(spark, sf_dir, df_cap=None)


register("dedup_ngram_containment", _q_dedup_containment, _CONTAIN_ORACLE)
