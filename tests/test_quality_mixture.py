"""Planted-corpus tests for the r13 wave-3 ops: the Gopher rule-set
filter (text_gopher_rules) and temperature-scaled source mixture
(sample_temperature_mixture). Each is pinned against a tiny pure-python
reference implementing the exact documented arithmetic, so a semantic
drift in either engine-side expression shows up here before the oracle
gate."""

import hashlib
import re

import pandas as pd
import pyspark.sql.functions as F
from oracle_harness import compare

from strategy_analyzer_exporter_spark import plans as P
from strategy_analyzer_exporter_spark.operators.quality import (
    GOPHER_MAX_MEAN_LEN,
    GOPHER_MAX_SYMBOL_FRAC,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_FRAC,
    GOPHER_MIN_MEAN_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    _q_gopher_rules,
)
from strategy_analyzer_exporter_spark.operators.mixture import (
    TEMP_BUDGET_DEN,
    TEMP_SALT,
    _q_temperature_mixture,
)

SF = "/root/testdata/sf0.001"


def _write_docs(tmp_path_factory, name, rows):
    for r in rows:
        r.setdefault("lang", "en")
        r.setdefault("source", "src0")
        r["n_chars"] = len(r["text"])
    d = tmp_path_factory.mktemp(name)
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")
    return str(d)


def _ref_gopher(text):
    toks = [t for t in text.split(" ") if t]
    n = len(toks)
    if n == 0:
        return {
            "n_words": 0,
            "rule_word_count": False,
            "rule_mean_len": False,
            "rule_symbol": False,
            "rule_alpha": False,
            "rule_stopwords": False,
            "keep": False,
        }
    mean_len = sum(len(t) for t in toks) / n
    alpha = sum(1 for t in toks if any(c.isascii() and c.isalpha() for c in t)) / n
    symbol = sum(1 for t in toks if "#" in t or "..." in t) / n
    stops = len({t.lower() for t in toks if t.lower() in GOPHER_STOPWORDS})
    r = {
        "n_words": n,
        "rule_word_count": GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS,
        "rule_mean_len": GOPHER_MIN_MEAN_LEN <= mean_len <= GOPHER_MAX_MEAN_LEN,
        "rule_symbol": symbol <= GOPHER_MAX_SYMBOL_FRAC,
        "rule_alpha": alpha >= GOPHER_MIN_ALPHA_FRAC,
        "rule_stopwords": stops >= GOPHER_MIN_STOPWORDS,
    }
    r["keep"] = all(r.values())
    return r


def test_gopher_rules_each_rule_rejects_its_planted_doc(spark, tmp_path_factory):
    """Seven documents, each planted to fail exactly one rule (or pass
    all, or be empty) — the per-rule verdicts and the composite match a
    pure-python reference of the documented arithmetic."""
    texts = {
        1: "the cat sat to think of warm milk and naps today",  # passes all
        2: "the tiny doc of here now",  # too short (has 2 stopwords, so
        #    rule_word_count is the SOLE rejector — ADVICE r13)
        3: "cats dogs birds fish lions tigers bears wolves foxes deer elk moose",
        4: "#one #two three four five six seven eight nine ten the of",  # symbols
        5: " ".join(["abcdefghijkl"] * 8 + ["the", "of"]),  # mean len > 10
        6: "12345 67890 11111 22222 the cat of dog and bird to fly",  # alpha
        7: "",  # empty
    }
    sf = _write_docs(
        tmp_path_factory, "gopher", [{"doc_id": k, "text": v} for k, v in texts.items()]
    )
    got = {r["doc_id"]: r.asDict() for r in _q_gopher_rules(spark, sf).collect()}
    assert set(got) == set(texts)
    rule_cols = [
        "rule_word_count",
        "rule_mean_len",
        "rule_symbol",
        "rule_alpha",
        "rule_stopwords",
    ]
    for doc_id, text in texts.items():
        want = _ref_gopher(text)
        for c in ["n_words", "keep", *rule_cols]:
            assert got[doc_id][c] == want[c], (doc_id, c, got[doc_id], want)
    # the planted corpus exercises every rule as the sole rejector
    sole_rejectors = {
        doc_id: [c for c in rule_cols if not got[doc_id][c]]
        for doc_id in (2, 3, 4, 5, 6)
    }
    assert sole_rejectors[2] == ["rule_word_count"]
    assert sole_rejectors[3] == ["rule_stopwords"]
    assert sole_rejectors[4] == ["rule_symbol"]
    assert sole_rejectors[5] == ["rule_mean_len"]
    assert sole_rejectors[6] == ["rule_alpha"]
    assert got[1]["keep"] and not any(got[i]["keep"] for i in (2, 3, 4, 5, 6, 7))


def test_gopher_rules_single_aggregation_no_window(spark):
    """One hash-agg on doc_id, no window sort: exchange budget 1 on the
    real corpus (the explode and every flag are map-side)."""
    q = _q_gopher_rules(spark, SF)
    assert P.count_exchanges(q) <= 1, P.physical_plan(q)
    assert "Window" not in P.physical_plan(q)


def _ref_temperature_mixture(src_sizes):
    order = sorted(src_sizes)
    w = {s: src_sizes[s] ** 0.5 for s in src_sizes}
    sum_w = 0.0
    for s in order:
        sum_w += w[s]
    total = sum(src_sizes.values())
    import math

    budget = int(math.floor(total / TEMP_BUDGET_DEN))
    plan = {}
    for s in src_sizes:
        frac = w[s] / sum_w
        target = int(math.floor(float(budget) * frac))
        rate = min(1.0, target / src_sizes[s])
        plan[s] = {
            "n_docs": src_sizes[s],
            "weight": w[s],
            "frac": frac,
            "target_k": target,
            "rate": rate,
            "bucket_thr": int(math.floor(rate * 65536.0)),
        }
    return plan


def _bucket(doc_id):
    h = hashlib.md5(f"{TEMP_SALT}:{doc_id}".encode()).hexdigest()[:4]
    return int(h, 16)


def test_temperature_mixture_matches_reference_plan_and_selection(
    spark, tmp_path_factory
):
    """64/16/4 docs across three sources → weights 8/4/2: the plan
    (sqrt weights, pinned-order normalization, floor targets, capped
    rates) and the enacted md5-bucket selection both match the python
    reference; the scarce source is upsampled to rate 1.0."""
    sizes = {"src0": 64, "src1": 16, "src2": 4}
    rows, doc_id = [], 0
    for s, n in sizes.items():
        for _ in range(n):
            rows.append({"doc_id": doc_id, "text": "w", "source": s})
            doc_id += 1
    sf = _write_docs(tmp_path_factory, "tmix", rows)
    want = _ref_temperature_mixture(sizes)
    # reference selection by the same md5 predicate
    sel = {s: 0 for s in sizes}
    for r in rows:
        if _bucket(r["doc_id"]) < want[r["source"]]["bucket_thr"]:
            sel[r["source"]] += 1
    got = {r["source"]: r.asDict() for r in _q_temperature_mixture(spark, sf).collect()}
    assert set(got) == set(sizes)
    for s in sizes:
        for c in ("n_docs", "weight", "frac", "target_k", "rate", "bucket_thr"):
            assert got[s][c] == want[s][c], (s, c, got[s], want[s])
        assert got[s]["n_selected"] == sel[s], (s, got[s], sel)
    assert got["src2"]["rate"] == 1.0 and got["src2"]["n_selected"] == 4
    assert 0 < got["src0"]["rate"] < 1.0


def test_paragraph_dedup_first_occurrence_and_reconstruction(
    spark, tmp_path_factory
):
    """Corpus-wide paragraph dedup on planted 16-token blocks: doc 1
    owns A+B; doc 2 (A+C) loses A to doc 1; doc 3 (exact copy of
    doc 1) loses everything; doc 4 is empty; doc 5 carries a duplicate
    B plus a unique trailing PARTIAL block that must survive (partial
    blocks are paragraphs too). Reconstruction preserves original
    paragraph order."""
    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        PARA_TOKENS,
        _q_paragraph_dedup,
    )

    def block(prefix):
        return " ".join(f"{prefix}{i}" for i in range(PARA_TOKENS))

    A, B, C = block("a"), block("b"), block("c")
    partial = " ".join(f"d{i}" for i in range(5))
    texts = {
        1: f"{A} {B}",
        2: f"{A} {C}",
        3: f"{A} {B}",
        4: "",
        5: f"{B} {partial}",
    }
    sf = _write_docs(
        tmp_path_factory,
        "paradedup",
        [{"doc_id": k, "text": v} for k, v in texts.items()],
    )
    got = {r["doc_id"]: r.asDict() for r in _q_paragraph_dedup(spark, sf).collect()}
    assert set(got) == set(texts)
    want = {
        1: (2, 2, f"{A} {B}"),
        2: (2, 1, C),
        3: (2, 0, ""),
        4: (0, 0, ""),
        5: (2, 1, partial),
    }
    for doc_id, (n_paras, n_kept, kept_text) in want.items():
        g = got[doc_id]
        assert (g["n_paras"], g["n_kept"], g["kept_text"]) == (
            n_paras,
            n_kept,
            kept_text,
        ), (doc_id, g)


def test_paragraph_dedup_plan_shape(spark):
    """Registered default = the r14 hash-keyed metadata decision: NO
    window anywhere (a hot boilerplate paragraph never materializes its
    row list in one task), the decision shuffle is keyed on
    xxhash64(para) — the para STRING must not flow into the ph
    aggregation's exchange — and document text crosses exactly one
    exchange (the final doc_id join), within a bounded budget."""
    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        _q_paragraph_dedup,
    )

    q = _q_paragraph_dedup(spark, SF)
    plan = P.physical_plan(q)
    assert "Window" not in plan, plan
    assert "xxhash64" in plan, plan
    assert P.count_exchanges(q) <= 7, plan
    # the decision aggregate reduces to (ph, cnt, min-struct): its
    # partial_min carries (doc_id, para_idx) — never the para string
    assert re.search(r"partial_min\(struct\(doc_id[^)]*para_idx", plan), plan


def test_paragraph_dedup_hash_equals_window_oracle(spark, tmp_path_factory):
    """The registered hash-keyed decision must produce EXACTLY the
    oracle's row_number() over partitionBy(para) output on the planted
    corpus (where ties between (doc_id, para_idx) orderings are
    exercised: the same block appears at different positions in
    different docs, plus an in-doc duplicate block) AND on the real
    sf0.001 corpus. The planted corpus holds only `documents`, so its
    oracle runs on a DuckDB view of that one table."""
    import duckdb

    from strategy_analyzer_exporter_spark.operators.pipeline3 import (
        PARA_TOKENS,
        _q_paragraph_dedup,
    )
    from strategy_analyzer_exporter_spark.registry import ORACLES

    def block(prefix):
        return " ".join(f"{prefix}{i}" for i in range(PARA_TOKENS))

    A, B = block("a"), block("b")
    rows = [
        {"doc_id": 1, "text": f"{B} {A}"},  # A at idx 1 in the earliest doc
        {"doc_id": 2, "text": f"{A} {B}"},  # A at idx 0 in a later doc
        {"doc_id": 3, "text": f"{A}"},
        {"doc_id": 4, "text": f"{B} {B}"},  # in-doc duplicate block
    ]
    sf = _write_docs(tmp_path_factory, "paraskew", rows)
    con = duckdb.connect()
    con.read_parquet(f"{sf}/documents.parquet").create_view("documents")
    want = sorted(con.execute(ORACLES["text_paragraph_dedup"]).fetchall())
    con.close()
    got = sorted(map(tuple, _q_paragraph_dedup(spark, sf).collect()))
    assert got == want
    assert [r[:3] for r in got] == [(1, 2, 2), (2, 2, 0), (3, 1, 0), (4, 2, 0)]
    r = compare(_q_paragraph_dedup(spark, SF), ORACLES["text_paragraph_dedup"], sf_dir=SF)
    assert r["ok"], r["detail"]


def test_temperature_mixture_broadcasts_plan_not_corpus(spark):
    """The second corpus pass joins against the ≤#sources-row plan —
    that side must broadcast (the corpus never shuffles on source), and
    the whole query stays within the two-pass exchange budget."""
    q = _q_temperature_mixture(spark, SF)
    plan = P.physical_plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert P.count_exchanges(q) <= 5, plan


def test_repetition_signals_map_equals_window_oracle(spark):
    """The registered one-pass map _signals must produce EXACTLY the
    oracle's explode + row_number shape on the real corpora — the
    (cnt DESC, gram ASC) tie-break is a Python min over (-cnt, gram),
    and single-token docs must reproduce the per-kind left joins' NULLs.
    The plan must be window-free and must scan `documents` for the map
    pass ONCE (two scans total: the map pass + the doc_id/lang side)."""
    from strategy_analyzer_exporter_spark.operators.quality import _signals
    from strategy_analyzer_exporter_spark.registry import ORACLES

    for sf in (SF, "/root/testdata/sf0.01"):
        r = compare(_signals(spark, sf), ORACLES["text_repetition_signals"], sf_dir=sf)
        assert r["ok"], (sf, r["detail"])
    plan = P.physical_plan(_signals(spark, SF))
    assert "Window" not in plan
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "documents" in ln
    ]
    assert len(scans) == 2, plan
