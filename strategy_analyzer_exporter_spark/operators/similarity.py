"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Vector math goes through ``functions/vector.py``, one path per call
shape: brute-force scoring streams the corpus through numpy
(``mapInPandas``, query matrix in the closure), pair re-rank and the
banded LSH bucket use the Catalyst fold, and the per-row LSH
signatures use the numpy column UDF. Every path performs the identical
sequence of correctly-rounded IEEE double ops as the DuckDB oracle's
``list_reduce``, so cosines agree bit-for-bit (asserted in
tests/test_vector_kernels.py).

Two search paths:
- brute-force cosine top-k: exact baseline; broadcast the query set and
  stream the corpus — at 100 TB this is one scan, no shuffle of the
  corpus, O(k) state per partition via TakeOrdered-per-query.
- LSH-bucketed ANN: 8 deterministic random-hyperplane signs → 8-bit
  bucket key; candidates share a bucket (expected 1/256 of the corpus),
  then exact cosine re-rank. The hyperplane matrix is generated from
  md5 at *query-build time* (public, deterministic) and embedded as a
  literal, so both engines see identical planes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.functions import vector
from strategy_analyzer_exporter_spark.registry import register
from strategy_analyzer_exporter_spark.sources.tables import load_table, spread_scan

DIM = 64
N_PLANES = 8
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
# r11 recalibration: 0.98 (the production near-dup setting) was
# VACUOUS on this corpus — the synthetic embeddings are near-orthogonal
# (max same-bucket cosine ≈ 0.44 at sf0.001/0.01, measured), so the
# registered query had matched its oracle on ZERO rows since r01. The
# gate exists to value-check the verify path, which needs rows to
# check: 0.35 yields 4 / 6 pairs at the two gate scales (and is not
# knife-edge — the nearest pair sits at ≈ 0.438). Production swaps the
# semantic threshold back in; the operator shape is identical.
NEARDUP_COS = 0.35


def _hyperplanes() -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign(p,d) = +1 iff the first hex
    nibble of md5('p:d') is odd. Reproducible anywhere, no RNG state."""
    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) & 1 else -1.0
            for d in range(DIM)
        ]
        for p in range(N_PLANES)
    ]


def _dot_fold_sql(a: str, b: str) -> str:
    return (
        f"list_reduce([CAST(0.0 AS DOUBLE)] || list_transform(range(1, {DIM} + 1), "
        f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_dot_fold_sql(a, b)} / "
        f"(sqrt({_dot_fold_sql(a, a)}) * sqrt({_dot_fold_sql(b, b)})))"
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k


def _bruteforce_scored_stream(emb: DataFrame) -> DataFrame:
    """Pair scoring: the query matrix (10×64) rides in the UDF closure;
    the corpus streams through ONE ``mapInPandas`` pass. No pair row
    ever carries a vector — at 100 TB the Arrow payload is the corpus
    itself, once, and the numpy fold does 10 cosines per corpus row in
    a single vectorized sweep. Per-value float sequence identical to
    the oracle's (column-wise left fold, see functions/vector.py), so
    the result stays bit-exact."""
    import numpy as np

    q_rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    Q = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in q_rows])
    qids = np.asarray([r.vec_id for r in q_rows], dtype=np.int64)
    qn = np.sqrt(vector.fold_sum(Q * Q))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = vector.stack(pdf["embedding"])
            cn = np.sqrt(vector.fold_sum(V * V))
            dots = vector.fold_sum(V[:, None, :] * Q[None, :, :])  # (n, q)
            cos = dots / (qn[None, :] * cn[:, None])
            n_rows = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n_rows),
                    "cand_id": np.repeat(pdf["vec_id"].to_numpy(), len(qids)),
                    "cos_sim": cos.ravel(),
                }
            )

    return (
        spread_scan(emb, "vec_id")
        .select("vec_id", "embedding")
        .mapInPandas(gen, "query_id long, cand_id long, cos_sim double")
        .filter(F.col("query_id") != F.col("cand_id"))
    )


def _q_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10).
    The query side rides in the UDF closure; the corpus is scanned
    once. Ranking uses a (cos desc, vec_id) total order so the row set
    is deterministic."""
    from pyspark.sql import Window

    scored = _bruteforce_scored_stream(load_table(spark, sf_dir, "embeddings"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


_BRUTE_ORACLE = f"""WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, c.vec_id AS cand_id,
           {_cosine_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM q, embeddings c
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored
)
SELECT query_id, cand_id, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}"""


# ---------------------------------------------------------------------------
# LSH-bucketed ANN


def _bucket_sql(v: str) -> str:
    planes = _hyperplanes()
    bits = []
    for p in range(N_PLANES):
        lit = "[" + ", ".join(f"CAST({x:.1f} AS DOUBLE)" for x in planes[p]) + "]"
        bits.append(
            f"CASE WHEN {_dot_fold_sql(v, lit)} > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: candidates restricted to the query's LSH bucket
    (random-hyperplane signature). One shuffle on the 8-bit bucket key;
    scales as corpus/256 per bucket with exact re-rank inside."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    withb = emb.select(
        "vec_id",
        "embedding",
        vector.fold_bucket(F.col("embedding"), _hyperplanes()).alias("bucket"),
    )
    q = withb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
    )
    c = withb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "bucket"
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            vector.fold_cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


def _lsh_oracle() -> str:
    return f"""WITH withb AS (
    SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, embedding AS qv, bucket FROM withb WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, c.vec_id AS cand_id,
           {_cosine_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM q JOIN withb c USING (bucket)
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored
)
SELECT query_id, cand_id, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs (cosine ≥ 0.98) with LSH-bucket candidate
    generation — the embedding-space analogue of MinHash dedup. All-pairs
    never materializes; only same-bucket pairs are scored."""
    emb = load_table(spark, sf_dir, "embeddings")
    withb = emb.select(
        "vec_id",
        "embedding",
        vector.fold_bucket(F.col("embedding"), _hyperplanes()).alias("bucket"),
    )
    a = withb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), "bucket"
    )
    b = withb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            vector.fold_cosine(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEARDUP_COS)
    )


def _dedup_emb_oracle() -> str:
    return f"""WITH withb AS (
    SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_cosine_sql('a.embedding', 'b.embedding')} AS cos_sim
FROM withb a JOIN withb b USING (bucket)
WHERE a.vec_id < b.vec_id
  AND {_cosine_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COS}"""


# ---------------------------------------------------------------------------
# Multi-table LSH: T tables of fewer planes each. A single 8-bit table
# has ~2.5% same-bucket probability for a cos≈0.4 neighbor (uniform
# random corpus) — fine for near-dups, useless for top-k recall. With
# T=4 tables × 6 planes, P(collide in ≥1 table) ≈ 23% per neighbor at
# 4× candidate cost: the standard recall/cost dial.

N_TABLES = 4
PLANES_PER_TABLE = 6


def _mt_hyperplanes() -> list[list[list[float]]]:
    return [
        [
            [
                1.0
                if int(hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()[0], 16) & 1
                else -1.0
                for d in range(DIM)
            ]
            for p in range(PLANES_PER_TABLE)
        ]
        for t in range(N_TABLES)
    ]


def _q_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    tables = _mt_hyperplanes()
    bucket_cols = [
        vector.bucket(F.col("embedding"), tables[t]).alias(f"b{t}")
        for t in range(N_TABLES)
    ]
    withb = emb.select("vec_id", "embedding", *bucket_cols)
    tb = withb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), F.col(f"b{t}").alias("key"))
                    for t in range(N_TABLES)
                ]
            )
        ).alias("bk"),
    ).select(
        "vec_id", "embedding", F.col("bk.tbl").alias("tbl"), F.col("bk.key").alias("key")
    )
    q = tb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "tbl", "key"
    )
    c = tb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "tbl", "key"
    )
    scored = (
        q.join(c, ["tbl", "key"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", "qv", "cv")
        .dropDuplicates(["query_id", "cand_id"])  # union candidates across tables
        .select(
            "query_id",
            "cand_id",
            vector.fold_cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", "cos_sim", "rn")
    )


def _mt_oracle() -> str:
    tables = _mt_hyperplanes()
    bucket_exprs = []
    for t in range(N_TABLES):
        bits = []
        for p in range(PLANES_PER_TABLE):
            lit = "[" + ", ".join(f"CAST({x:.1f} AS DOUBLE)" for x in tables[t][p]) + "]"
            bits.append(f"CASE WHEN {_dot_fold_sql('embedding', lit)} > 0 THEN '1' ELSE '0' END")
        bucket_exprs.append(" || ".join(bits) + f" AS b{t}")
    tb_selects = "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, b{t} AS key FROM withb"
        for t in range(N_TABLES)
    )
    return f"""WITH withb AS (
    SELECT vec_id, embedding, {', '.join(bucket_exprs)} FROM embeddings
),
tb AS (
    {tb_selects}
),
cand AS (
    SELECT q.vec_id AS query_id, min(q.embedding) AS qv,
           c.vec_id AS cand_id, min(c.embedding) AS cv
    FROM tb q JOIN tb c ON q.tbl = c.tbl AND q.key = c.key
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    GROUP BY q.vec_id, c.vec_id
),
scored AS (
    SELECT query_id, cand_id, {_cosine_sql('qv', 'cv')} AS cos_sim FROM cand
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored
)
SELECT query_id, cand_id, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}"""


# ---------------------------------------------------------------------------
# IVF-style ANN: the `label` column plays the coarse-quantizer cell
# (at scale the assignment comes from k-means centroids; the search
# pattern — route the query to its cell, rank within — is identical).


def _q_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "label"
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"), "label"
    )
    scored = (
        q.join(c, "label")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "label",
            vector.fold_cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("query_id", "cand_id", "label", "cos_sim", "rn")
    )


_IVF_ORACLE = f"""WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
    SELECT q.query_id, c.vec_id AS cand_id, q.label,
           {_cosine_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM q JOIN embeddings c USING (label)
    WHERE q.query_id <> c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored
)
SELECT query_id, cand_id, label, cos_sim, rn FROM ranked WHERE rn <= 3"""


register("similarity_bruteforce_topk", _q_bruteforce_topk, _BRUTE_ORACLE)
register("similarity_lsh_ann", _q_lsh_ann, _lsh_oracle())
register("similarity_lsh_multitable", _q_lsh_multitable, _mt_oracle())
register("similarity_ivf_label", _q_ivf_label, _IVF_ORACLE)
register("dedup_embedding_cosine", _q_dedup_embedding, _dedup_emb_oracle())
