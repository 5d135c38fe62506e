"""Planted-input semantics for the two r11 dedup additions.

dedup_substring_spans: the sf corpus's near-dup pairs share one long
prefix, so every corpus doc yields exactly ONE span — the interval
merge (multi-island, within-doc repetition, sub-threshold runs) is only
exercised here, on planted documents.

dedup_semdedup: planted orthogonal groups make the expected kept set
engine-independent — identical vectors always land in the same k-means
cluster and have cosine 1, cross-group cosine is exactly 0 < τ.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from strategy_analyzer_exporter_spark.operators.dedup import (
    SPAN_GRAM,
    _q_dedup_substring_spans,
)
from strategy_analyzer_exporter_spark.operators.pipeline import (
    KM_DIM,
    _q_semdedup,
)


def _words(tag: str, n: int) -> str:
    """n distinct single-use tokens, namespaced by tag."""
    return " ".join(f"{tag}{i}" for i in range(n))


RUN_A = " ".join(f"runA{i}" for i in range(SPAN_GRAM))  # exactly 8 tokens
RUN_B = " ".join(f"runB{i}" for i in range(SPAN_GRAM + 4))  # 12 tokens
RUN_SHORT = " ".join(f"runS{i}" for i in range(SPAN_GRAM - 1))  # 7 tokens


@pytest.fixture(scope="module")
def span_dir(tmp_path_factory):
    rows = [
        # doc 1 carries RUN_A then RUN_B separated by unique filler:
        # two islands, never merged (gap of 10 unique tokens)
        {"doc_id": 1, "text": f"{RUN_A} {_words('f1x', 10)} {RUN_B}"},
        # doc 2 duplicates RUN_A, doc 3 duplicates RUN_B
        {"doc_id": 2, "text": f"{_words('f2x', 5)} {RUN_A} {_words('f2y', 5)}"},
        {"doc_id": 3, "text": f"{RUN_B} {_words('f3x', 5)}"},
        # doc 4 repeats RUN_A twice WITHIN itself (count ≥ 2 needs no
        # second document)
        {"doc_id": 4, "text": f"{RUN_A} {_words('f4x', 9)} {RUN_A}"},
        # docs 5/6 share only a 7-token run — below SPAN_GRAM, invisible
        {"doc_id": 5, "text": f"{RUN_SHORT} {_words('f5x', 6)}"},
        {"doc_id": 6, "text": f"{_words('f6x', 6)} {RUN_SHORT}"},
        # doc 7 is RUN_A twice back-to-back: every token duplicated —
        # the clip consumer must empty it completely
        {"doc_id": 7, "text": f"{RUN_A} {RUN_A}"},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("spans")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    return str(d)


def _spans(spark, span_dir):
    return {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in _q_dedup_substring_spans(spark, span_dir).collect()
    }


def test_two_separated_islands_and_maximal_merge(spark, span_dir):
    got = _spans(spark, span_dir)
    k = SPAN_GRAM
    # doc 1: RUN_A at tokens [0, 7], RUN_B at [18, 29] — two spans; the
    # 12-token RUN_B must come back as ONE maximal span (5 duplicated
    # 8-gram starts merged), not five 8-token fragments
    assert (1, 0, k - 1, k) in got
    assert (1, 18, 29, 12) in got
    # doc 2: RUN_A at [5, 12]; doc 3: RUN_B at [0, 11]
    assert (2, 5, 5 + k - 1, k) in got
    assert (3, 0, 11, 12) in got


def test_within_doc_repetition_yields_two_spans(spark, span_dir):
    got = {t for t in _spans(spark, span_dir) if t[0] == 4}
    k = SPAN_GRAM
    assert got == {(4, 0, k - 1, k), (4, k + 9, 2 * k + 8, k)}


def test_runs_below_gram_threshold_are_invisible(spark, span_dir):
    assert not {t for t in _spans(spark, span_dir) if t[0] in (5, 6)}


def test_span_plan_two_exchanges(spark, span_dir):
    """One shuffle on the gram hash (dup window), one on doc_id (the
    interval merge; the final groupBy(doc_id, island) is satisfied by
    the doc_id partitioning — no third exchange)."""
    from strategy_analyzer_exporter_spark import plans as P

    q = _q_dedup_substring_spans(spark, span_dir)
    assert P.count_exchanges(q) == 2, P.physical_plan(q)


def test_clip_removes_all_occurrences_and_passes_through(spark, span_dir):
    """The ExactSubstr cut: doc 7 (a duplicated run twice, nothing
    else) empties to md5(''); docs 5/6 (only a sub-threshold shared
    run) pass through byte-identical; doc 4's two RUN_A occurrences
    are BOTH removed, the filler survives."""
    import hashlib

    from strategy_analyzer_exporter_spark.operators.dedup import (
        _q_text_clip_spans,
    )

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_clipped"], r["clipped_md5"])
        for r in _q_text_clip_spans(spark, span_dir).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    k = SPAN_GRAM
    assert got[7] == (2 * k, 2 * k, md5(""))
    assert got[5] == (k - 1 + 6, 0, md5(f"{RUN_SHORT} {_words('f5x', 6)}"))
    assert got[6] == (6 + k - 1, 0, md5(f"{_words('f6x', 6)} {RUN_SHORT}"))
    assert got[4] == (2 * k + 9, 2 * k, md5(_words("f4x", 9)))


# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sem_dir(tmp_path_factory):
    def vec(dim: int, scale: float = 10.0) -> list[float]:
        v = [0.0] * KM_DIM
        v[dim] = scale
        return v

    rows = [
        # ids 0-3 seed the deterministic init (4 lowest ids) on four
        # orthogonal one-hots; 4 and 5 are EXACT copies of 0 and 1 —
        # identical vectors share a cluster under any centroid set
        {"vec_id": 0, "embedding": vec(0), "label": 0},
        {"vec_id": 1, "embedding": vec(1), "label": 1},
        {"vec_id": 2, "embedding": vec(2), "label": 2},
        {"vec_id": 3, "embedding": vec(3), "label": 3},
        {"vec_id": 4, "embedding": vec(0), "label": 0},
        {"vec_id": 5, "embedding": vec(1), "label": 1},
        # orthogonal to every other vector: cosine 0 < τ — kept no
        # matter which cluster it lands in
        {"vec_id": 6, "embedding": vec(10), "label": 0},
    ]
    d = tmp_path_factory.mktemp("semdedup")
    pd.DataFrame(rows).to_parquet(d / "embeddings.parquet")
    return str(d)


def test_semdedup_drops_exact_twins_keeps_orthogonal(spark, sem_dir):
    got = {r["vec_id"]: r["kept"] for r in _q_semdedup(spark, sem_dir).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 0, 5: 0, 6: 1}


# ---------------------------------------------------------------------------


def test_bm25_length_normalization_and_saturation(spark, tmp_path_factory):
    """The two properties BM25 adds over TF-IDF, on planted docs:
    same tf in a SHORTER doc scores higher (b-normalization), and
    score grows sublinearly in tf (k1-saturation: 10x the tf must buy
    far less than 10x the score)."""
    import pandas as pd

    from strategy_analyzer_exporter_spark.operators.pipeline3 import _q_bm25

    # "hot" is the highest-df token (4 docs) -> a query term; fillers
    # are unique per doc so they never reach the query set
    rows = [
        {"doc_id": 1, "text": "hot " * 2 + " ".join(f"a{i}" for i in range(4))},
        {"doc_id": 2, "text": "hot " * 2 + " ".join(f"b{i}" for i in range(40))},
        {"doc_id": 3, "text": "hot " * 20 + " ".join(f"c{i}" for i in range(22))},
        {"doc_id": 4, "text": "hot"},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("bm25")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    got = {
        r["doc_id"]: r["bm25"]
        for r in _q_bm25(spark, str(d)).filter("token = 'hot'").collect()
    }
    # docs 1 and 2 carry identical tf (2) at lengths 6 vs 42: the
    # shorter doc must make the top-3 cut and the longer one must NOT
    # (doc 2 ranks last of the four under b-normalization)
    assert 1 in got and 2 not in got
    # doc 3 has 10x doc 1's tf in a 7x longer doc: saturation + length
    # penalty must hold the ratio FAR below the tf ratio
    assert got[3] / got[1] < 2.0


# ---------------------------------------------------------------------------


def test_containment_catches_doc_in_doc_that_jaccard_misses(
    spark, tmp_path_factory
):
    """The differentiator: a short doc quoted verbatim inside a much
    longer one has containment 1.0 but Jaccard ~0.09 — the
    containment query must report the pair, the Jaccard query must
    not (it divides by the union)."""
    import pandas as pd

    from strategy_analyzer_exporter_spark.operators.dedup import (
        _q_dedup_containment,
        _q_dedup_ngram,
    )

    quoted = " ".join(f"q{i}" for i in range(10))
    rows = [
        {"doc_id": 1, "text": quoted},
        {"doc_id": 2, "text": quoted + " " + " ".join(f"f{i}" for i in range(60))},
        {"doc_id": 3, "text": " ".join(f"z{i}" for i in range(30))},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("contain")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in _q_dedup_containment(spark, str(d)).collect()
    }
    assert got == {(1, 2): 1.0}
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in _q_dedup_ngram(spark, str(d)).collect()
    }
    assert (1, 2) not in jac


def test_containment_df_cap_loses_no_true_pair_on_boilerplate(
    spark, tmp_path_factory
):
    """The stop-gram hook (VERDICT r11 #3): with a boilerplate header
    shared by every doc (gram df ≫ CONTAIN_DF_CAP), the capped run
    must produce EXACTLY the uncapped output — candidates from cold
    grams only, verify still counting every shared gram — while the
    cap genuinely engages (hot grams exist above it)."""
    import pandas as pd

    from strategy_analyzer_exporter_spark.operators.dedup import (
        CONTAIN_DF_CAP,
        CONTAIN_K,
        _gram_rows,
        dedup_containment,
    )

    boiler = " ".join(f"lic{i}" for i in range(20))
    rows = []
    for d_id in range(CONTAIN_DF_CAP + 6):  # df(boiler grams) > cap
        rows.append(
            {
                "doc_id": d_id,
                "text": boiler
                + " "
                + " ".join(f"u{d_id}x{i}" for i in range(30)),
            }
        )
    # the planted true pair: 9001's full text quoted inside 9002 —
    # shared grams are cold (df = 2), so candidates survive the cap
    quoted = " ".join(f"q{i}" for i in range(10))
    rows.append({"doc_id": 9001, "text": quoted})
    rows.append(
        {
            "doc_id": 9002,
            "text": boiler + " " + quoted + " "
            + " ".join(f"f{i}" for i in range(40)),
        }
    )
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("stopgram")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    # the cap must actually bite on this corpus
    hot = (
        _gram_rows(spark, str(d), k=CONTAIN_K)
        .groupBy("gram")
        .count()
        .filter(F.col("count") > CONTAIN_DF_CAP)
        .count()
    )
    assert hot > 0

    def rows_of(df_cap):
        return sorted(
            tuple(r)
            for r in dedup_containment(spark, str(d), df_cap=df_cap).collect()
        )

    uncapped = rows_of(None)
    capped = rows_of(CONTAIN_DF_CAP)
    assert capped == uncapped
    assert any(r[0] == 9001 and r[1] == 9002 for r in uncapped)  # non-vacuous


# ---------------------------------------------------------------------------


def test_epoch_shuffle_is_a_permutation_and_epochs_differ(spark):
    """Every document appears exactly once with a contiguous 1..n_s
    position within its shard, and a different epoch produces a
    genuinely different permutation (the reshuffle the static split
    can't give)."""
    from strategy_analyzer_exporter_spark.operators import pipeline as PL
    from strategy_analyzer_exporter_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["train_epoch_shuffle"](spark, sf).collect()
    n = len({r["doc_id"] for r in rows})
    assert n == len(rows)  # each doc exactly once
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    # epoch 2: same docs, different placement for most of them
    old = PL.SHUFFLE_EPOCH
    try:
        PL.SHUFFLE_EPOCH = 2
        rows2 = PL._q_train_epoch_shuffle(spark, sf).collect()
    finally:
        PL.SHUFFLE_EPOCH = old
    p1 = {r["doc_id"]: (r["shard"], r["position"]) for r in rows}
    p2 = {r["doc_id"]: (r["shard"], r["position"]) for r in rows2}
    moved = sum(1 for d in p1 if p1[d] != p2[d])
    assert moved > 0.9 * len(p1)


def test_epoch_materialize_byte_identical_and_physically_ordered(
    spark, tmp_path_factory
):
    """The loader contract (VERDICT r11 #6): two independent
    materializations of the same epoch produce byte-identical shard
    files (one data file per shard), and each file's PHYSICAL row
    order — read driver-side with pyarrow, no Spark scan in the way —
    is exactly position 1..n. Together with the registered round-trip
    query's oracle (placement + payload), this is the end-to-end proof
    that the no-global-sort write path emits the files a sequential
    loader needs."""
    import os

    import pyarrow.parquet as papq

    from strategy_analyzer_exporter_spark.operators.pipeline import (
        write_epoch_shards,
    )
    from strategy_analyzer_exporter_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    outs = []
    for run in ("a", "b"):
        out = str(tmp_path_factory.mktemp(f"epoch_{run}") / "epoch")
        write_epoch_shards(spark, sf, out)
        outs.append(out)

    def shard_files(out):
        files = {}
        for name in sorted(os.listdir(out)):
            if not name.startswith("shard="):
                continue
            data = [
                f
                for f in sorted(os.listdir(os.path.join(out, name)))
                if not f.startswith(("_", "."))
            ]
            assert len(data) == 1, (name, data)  # ONE file per shard
            files[name] = os.path.join(out, name, data[0])
        return files

    fa, fb = shard_files(outs[0]), shard_files(outs[1])
    assert set(fa) == set(fb) and fa  # same shard set, non-empty
    for shard in fa:
        with open(fa[shard], "rb") as f1, open(fb[shard], "rb") as f2:
            assert f1.read() == f2.read(), f"{shard} bytes differ"

    # physical order: the file's row order IS the position order
    n_docs = 0
    for shard, path in fa.items():
        pos = papq.read_table(path, columns=["position"])["position"].to_pylist()
        assert pos == list(range(1, len(pos) + 1)), shard
        n_docs += len(pos)
    placements = QUERIES["train_epoch_shuffle"](spark, sf).collect()
    assert n_docs == len(placements)  # every doc landed exactly once


def test_bpe_merges_nonoverlap_tiebreak_and_weighting(spark, tmp_path_factory):
    """Planted BPE semantics: (1) leftmost NON-OVERLAPPING merge —
    'aaaa' becomes [aa, aa] after round 1, so round 2's best pair is
    (aa, aa), which a naive overlapping replace would get wrong;
    (2) word-frequency weighting — the (a, a) count is
    occurrences-per-word × word count; (3) deterministic tie-break —
    (x, y) beats (x, z) at equal counts by rhs ordering."""
    import pandas as pd

    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        _q_bpe_merges,
    )

    rows = [
        {"doc_id": 1, "text": "aaaa aaaa aaaa xy xz"},
        {"doc_id": 2, "text": "aaaa aaaa xy xz"},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("bpe")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in _q_bpe_merges(spark, str(d)).orderBy("rank").collect()
    ]
    assert got == [
        (1, "a", "a", "aa", 15),
        (2, "aa", "aa", "aaaa", 5),
        (3, "x", "y", "xy", 2),
    ]


# ---------------------------------------------------------------------------
# Two-level (hierarchical) SemDeDup assignment — r13 (VERDICT r12 #1)


@pytest.fixture(scope="module")
def tl_dir(tmp_path_factory):
    """45 planted groups × 10 identical copies = 450 vectors on
    orthogonal one-hot directions: k = ⌈450/100⌉ = 5 → kc = 3, kf = 2,
    so the two-level split is non-trivial (and some coarse cells hold
    fewer seeds than kf — the small-cell init path runs). Identical
    vectors co-locate under ANY deterministic centroid set at both
    levels; cross-group cosine is exactly 0 < τ — so the kept set is
    clustering-independent: lowest vec_id per group."""

    def vec(dim: int) -> list[float]:
        v = [0.0] * KM_DIM
        v[dim] = 10.0
        return v

    rows = [
        {"vec_id": g * 10 + i, "embedding": vec(g), "label": g}
        for g in range(45)
        for i in range(10)
    ]
    d = tmp_path_factory.mktemp("semdedup_2lvl")
    pd.DataFrame(rows).to_parquet(d / "embeddings.parquet")
    return str(d)


def _flat_capped_kept(spark, sf_dir):
    """The r12 FLAT capped-cluster formulation (single-level k-means at
    the derived k + within-cluster pairwise), reconstructed from the
    same public pieces — the semantics reference the two-level assign
    must reproduce."""
    from strategy_analyzer_exporter_spark.operators.pipeline import (
        SEMDEDUP_COS,
        _q_kmeans,
        semdedup_k,
    )
    from strategy_analyzer_exporter_spark.functions import vector
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k = semdedup_k(emb.count())
    x = _q_kmeans(spark, sf_dir, k=k).join(emb, "vec_id")
    a = x.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cid").alias("cid_a"),
        F.col("embedding").alias("va"),
    )
    b = x.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cid").alias("cid_b"),
        F.col("embedding").alias("vb"),
    )
    dropped = {
        r["vec_b"]
        for r in a.join(b, a.cid_a == b.cid_b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(vector.fold_cosine(F.col("va"), F.col("vb")) >= SEMDEDUP_COS)
        .select("vec_b")
        .distinct()
        .collect()
    }
    return {r["vec_id"]: int(r["vec_id"] not in dropped) for r in x.collect()}


def test_two_level_matches_flat_capped_cluster_semantics(spark, tl_dir):
    """The r13 two-level assign must make the SAME kept/dropped
    decisions as the r12 flat capped-k formulation on a corpus where
    both must co-locate every planted duplicate group — and both must
    equal the clustering-independent planted expectation (keep the
    lowest id of each identical group)."""
    got = {
        r["vec_id"]: r["kept"] for r in _q_semdedup(spark, tl_dir).collect()
    }
    expected = {g * 10 + i: int(i == 0) for g in range(45) for i in range(10)}
    assert got == expected
    assert _flat_capped_kept(spark, tl_dir) == expected


def test_two_level_groups_each_planted_group_in_one_cluster(spark, tl_dir):
    """Every planted group of identical vectors lands in exactly one
    two-level cluster, and the derived shape is the expected one
    (kc = 3, kf = 2 at n = 450, k = 5)."""
    from strategy_analyzer_exporter_spark.operators.pipeline import (
        _q_kmeans_two_level,
        semdedup_k,
        two_level_kc_kf,
    )

    assert semdedup_k(450) == 5
    assert two_level_kc_kf(5) == (3, 2)
    rows = _q_kmeans_two_level(spark, tl_dir).collect()
    assert len(rows) == 450
    by_group: dict[int, set] = {}
    for r in rows:
        by_group.setdefault(r["vec_id"] // 10, set()).add(r["cid"])
    assert all(len(cids) == 1 for cids in by_group.values()), by_group


def test_kc_kf_sql_derivation_matches_python():
    """The oracle derives kc/kf with ceil(sqrt())/double division; the
    Spark side with math.isqrt/integer ceil-div. They must agree for
    every feasible k (IEEE sqrt is correctly rounded, so the float
    path can never straddle an integer) — swept over a wide range plus
    the boundary shapes (perfect squares, squares±1)."""
    import duckdb

    from strategy_analyzer_exporter_spark.operators.pipeline import (
        two_level_kc_kf,
    )

    ks = list(range(1, 2000))
    ks += [m * m + d for m in (100, 1000, 10**4, 10**6) for d in (-1, 0, 1)]
    con = duckdb.connect()
    for k in ks:
        kc_sql, kf_sql = con.execute(
            f"SELECT CAST(ceil(sqrt({k})) AS BIGINT),"
            f" CAST(ceil(({k}) / ceil(sqrt({k}))) AS BIGINT)"
        ).fetchone()
        assert (kc_sql, kf_sql) == two_level_kc_kf(k), k


def test_kmeans_memos_key_on_absolute_path(spark, tl_dir):
    """A relative and an absolute spelling of the same corpus share one
    memo entry: the second spelling gets the first one's checkpointed
    DataFrame back instead of building and checkpointing it again."""
    import os

    from strategy_analyzer_exporter_spark.operators.pipeline import (
        _q_kmeans,
        two_level_assign,
    )

    rel = os.path.relpath(tl_dir)
    assert rel != tl_dir
    flat = _q_kmeans(spark, rel, k=3)
    assert _q_kmeans(spark, tl_dir, k=3) is flat
    tl = two_level_assign(spark, rel, 6)
    assert two_level_assign(spark, tl_dir, 6) is tl
    assert tl.count() == 450


def test_two_level_build_keeps_only_its_summary_entries(spark, tl_dir, tmp_path):
    """On a corpus no earlier call has seen, a two-level assign leaves
    exactly two more persisted RDDs: the checkpoints held by the coarse
    ``kmeans`` entry and the ``two_level`` entry. The per-round fine
    centroids and the cached (vec_id, ccid, v) relation are released
    when the build ends."""
    import os
    import shutil

    from strategy_analyzer_exporter_spark.operators.pipeline import (
        two_level_assign,
    )

    shutil.copy(
        os.path.join(tl_dir, "embeddings.parquet"), tmp_path / "embeddings.parquet"
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert two_level_assign(spark, str(tmp_path), 5).count() == 450
    grown = set(jsc.getPersistentRDDs().keys()) - before
    assert len(grown) == 2, grown


# ---------------------------------------------------------------------------
# BPE at production depth — r13 (VERDICT r12 #3)


def _ref_bpe(word_counts: dict[str, int], n_merges: int, state_out=None):
    """Pure-python reference BPE trainer with the registered query's
    exact semantics: pair counts weighted by word frequency over ALL
    adjacent positions, argmax tie-break (count DESC, lhs ASC, rhs
    ASC), merge applied leftmost non-overlapping. Pass a list as
    ``state_out`` to also receive the final (symbols, count) states —
    the reference ENCODING of each distinct word after all n merges
    (what text_bpe_encode aggregates)."""
    state = [(list(w), c) for w, c in sorted(word_counts.items())]
    out = []
    for rank in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in state:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
        (lhs, rhs), cnt = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        out.append((rank, lhs, rhs, lhs + rhs, cnt))
        nxt = []
        for syms, c in state:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    res.append(lhs + rhs)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, c))
        state = nxt
    if state_out is not None:
        state_out.extend(state)
    return out


def test_bpe_depth_ten_matches_reference_trainer(spark, tmp_path_factory):
    """Ten merge rounds against the pure-python reference on a corpus
    rich enough that every round learns a distinct rule — pins that the
    per-round localCheckpoint lineage discipline holds well past the
    registered depth 3 (VERDICT r12 #3: 'the 3-deep unrolled lineage
    hasn't proven the discipline holds at 30 rounds'; depth 10 here,
    depth 16/32 measured out-of-band in BENCH_NOTES §r13), and that
    overlap/tie-break/weighting semantics survive composition (merged
    symbols re-pair with neighbours in later rounds)."""
    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        _q_bpe_merges,
    )

    words = {
        "aaaaaaaa": 5,   # nested merges: a a → aa, aa aa → aaaa, ...
        "banana": 4,     # overlapping an-an
        "bananas": 2,
        "cabbage": 3,
        "baggage": 3,
        "abracadabra": 2,
        "mississippi": 2,
        "zzzz": 1,
    }
    text_parts = []
    for w, c in words.items():
        text_parts.extend([w] * c)
    rows = [
        # split across two docs so the vocab aggregation genuinely sums
        {"doc_id": 1, "text": " ".join(text_parts[::2])},
        {"doc_id": 2, "text": " ".join(text_parts[1::2])},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("bpe_depth")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in _q_bpe_merges(spark, str(d), n_merges=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == _ref_bpe(words, 10)
    # every round learned a distinct rule (the corpus doesn't run dry)
    assert len({(lhs, rhs) for _, lhs, rhs, _, _ in got}) == 10


def test_bpe_encode_matches_reference_tokenization(spark, tmp_path_factory):
    """text_bpe_encode ≡ the reference trainer's final segmentation
    state aggregated to (token, count) — on the same composition-rich
    corpus as the depth-10 trainer test, at a depth (5) where merged
    symbols have re-merged with neighbours, so the apply_last rewrite
    and the rank-order encode-equals-train-state identity are both
    exercised past the trivial first rounds."""
    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        _q_bpe_encode,
    )

    words = {
        "aaaaaaaa": 5,
        "banana": 4,
        "bananas": 2,
        "cabbage": 3,
        "baggage": 3,
        "abracadabra": 2,
        "mississippi": 2,
        "zzzz": 1,
    }
    text_parts = []
    for w, c in words.items():
        text_parts.extend([w] * c)
    rows = [
        {"doc_id": 1, "text": " ".join(text_parts[::2])},
        {"doc_id": 2, "text": " ".join(text_parts[1::2])},
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("bpe_encode")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    state: list = []
    _ref_bpe(words, 5, state_out=state)
    want: dict[str, int] = {}
    for syms, c in state:
        for s in syms:
            want[s] = want.get(s, 0) + c
    got = {
        r["token"]: r["token_count"]
        for r in _q_bpe_encode(spark, str(d), n_merges=5).collect()
    }
    assert got == want
    # the encode genuinely compressed: some multi-char token exists and
    # total token mass is below the raw character mass
    assert any(len(t) > 1 for t in got)
    raw_chars = sum(len(w) * c for w, c in words.items())
    assert sum(got.values()) < raw_chars


def test_bpe_tokenize_docs_matches_reference_segmentation(
    spark, tmp_path_factory
):
    """text_bpe_tokenize_docs ≡ per-doc sums of the reference trainer's
    final per-word segmentation lengths — the word → segmentation join
    back onto the corpus, pinned on the composition-rich corpus at
    depth 5 (merged symbols have re-merged, so per-word token counts
    differ nontrivially across words)."""
    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        _q_bpe_tokenize_docs,
    )

    words = {
        "aaaaaaaa": 5,
        "banana": 4,
        "bananas": 2,
        "cabbage": 3,
        "baggage": 3,
        "abracadabra": 2,
        "mississippi": 2,
        "zzzz": 1,
    }
    text_parts = []
    for w, c in words.items():
        text_parts.extend([w] * c)
    doc_words = {1: text_parts[::2], 2: text_parts[1::2]}
    rows = [
        {"doc_id": i, "text": " ".join(ws)} for i, ws in doc_words.items()
    ]
    for r in rows:
        r["lang"], r["source"], r["n_chars"] = "en", "t", len(r["text"])
    d = tmp_path_factory.mktemp("bpe_tok_docs")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    state: list = []
    _ref_bpe(words, 5, state_out=state)
    wtoks = {w: len(syms) for w, (syms, _) in zip(sorted(words), state)}
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["tokens_per_word"])
        for r in _q_bpe_tokenize_docs(spark, str(d), n_merges=5).collect()
    }
    want = {}
    for i, ws in doc_words.items():
        n_tok = sum(wtoks[w] for w in ws)
        want[i] = (len(ws), n_tok, n_tok / len(ws))
    assert got == want
    # compression actually happened: fewer tokens than characters
    for i, ws in doc_words.items():
        assert got[i][1] < sum(len(w) for w in ws)


def test_lm_likelihood_buckets_planted(spark, tmp_path_factory):
    """Hand-derivable CCNet-style bucketing: reference slice = src0,
    Laplace denominator D = n_total + vocab shared per language, score
    = (hits + n_tri) / (D * n_tri) exact; docs with < 3 tokens and
    languages with no reference LM are excluded; ntile thirds order by
    (score DESC, doc_id)."""
    from strategy_analyzer_exporter_spark.operators.quality import (
        _q_lm_likelihood_buckets,
    )

    rows = [
        # reference doc, lang xx: trigrams "a b c" x2, "b c a", "c a b"
        # -> n_total=4, vocab=3, D=7
        {"doc_id": 1, "text": "a b c a b c", "lang": "xx", "source": "src0"},
        # scored only: hits = 2 ("a b c") + 0 + 0 + 0 = 2, n_tri=4
        {"doc_id": 2, "text": "a b c x y z", "lang": "xx", "source": "src9"},
        # < 3 tokens: no trigram rows -> excluded
        {"doc_id": 3, "text": "q q", "lang": "xx", "source": "src9"},
        # language with no src0 reference -> excluded
        {"doc_id": 4, "text": "m n o p", "lang": "yy", "source": "src9"},
    ]
    for r in rows:
        r["n_chars"] = len(r["text"])
    d = tmp_path_factory.mktemp("lm_buckets")
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    got = {
        r["doc_id"]: (r["lang"], r["n_tri"], r["hits"], r["mean_p"], r["bucket"])
        for r in _q_lm_likelihood_buckets(spark, str(d)).collect()
    }
    # doc 1 scores itself: hits = 2+1+1+2 = 6 -> (6+4)/(7*4)
    assert got == {
        1: ("xx", 4, 6, 10 / 28, 1),
        2: ("xx", 4, 2, 6 / 28, 2),
    }
