"""Bit-equality between the numpy vector kernels and the Catalyst fold.

Each call shape has one path (functions/vector.py), and every path
must produce the pinned fold's values to the last ulp: the streamed
brute-force cosine, the squared-L2 and LSH-bucket column UDFs.
Column-wise numpy left-fold == element left-fold is an exact identity
(same op sequence per row), so any mismatch here is a kernel bug, not
float noise.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.functions import vector

SF = "/root/testdata/sf0.001"


def _emb_pairs(spark):
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    # 20 x N pairs — enough to exercise batching without an O(n^2) blowup
    return a.filter(F.col("ia") < 20).crossJoin(b)


def test_cosine_bit_equal(spark):
    """The streamed brute-force scorer (numpy ``stack``/``fold_sum`` in
    one mapInPandas pass) and ``fold_cosine`` on the same query×corpus
    pairs agree to the last bit."""
    from strategy_analyzer_exporter_spark.operators.similarity import (
        N_QUERIES,
        _bruteforce_scored_stream,
    )
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    fold = q.crossJoin(c).filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        vector.fold_cosine(F.col("qv"), F.col("cv")).alias("fold"),
    )
    df = (
        _bruteforce_scored_stream(emb)
        .join(fold, ["query_id", "cand_id"], "full")
        .toPandas()
    )
    assert len(df) == N_QUERIES * (emb.count() - 1)
    for f, a in zip(df["fold"], df["cos_sim"]):
        assert (math.isnan(f) and math.isnan(a)) or f == a, (f, a, f - a)


def test_sqdist_bit_equal(spark):
    pairs = _emb_pairs(spark).select(
        "ia",
        "ib",
        F.col("va").cast("array<double>").alias("va"),
        F.col("vb").cast("array<double>").alias("vb"),
    )
    df = pairs.select(
        vector.fold_sqdist(F.col("va"), F.col("vb")).alias("fold"),
        vector._arrow_sqdist()(F.col("va"), F.col("vb")).alias("arrow"),
    ).toPandas()
    assert len(df) > 0
    assert (df["fold"] == df["arrow"]).all()


def test_bucket_bit_equal(spark):
    from strategy_analyzer_exporter_spark.operators.similarity import _hyperplanes
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    planes = _hyperplanes()
    emb = load_table(spark, SF, "embeddings")
    key = tuple(tuple(p) for p in planes)
    df = emb.select(
        vector.fold_bucket(F.col("embedding"), key).alias("fold"),
        vector._arrow_bucket(key)(F.col("embedding")).alias("arrow"),
    ).toPandas()
    assert len(df) > 0
    assert (df["fold"] == df["arrow"]).all()
