"""IVF-PQ index lifecycle (VERDICT r09 #2/#3/#4): multi-epoch
encode-only appends that survive session boundaries, torn-epoch
rebuild, cell-partition compaction, and the probe-time tombstone path.
"""

import json
import os

from strategy_analyzer_exporter_spark import plans as P

SF = "/root/testdata/sf0.001"


def _codes_rows(spark, d):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(d, "codes"))
        .select("vec_id", "code0", "code1", "code2", "code3", "cell")
        .collect()
    )


def _files(root):
    out = []
    for r, dirs, fs in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in fs:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(r, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return sorted(out)


_HALVES = ("vec_id % 20 = 0", "vec_id % 20 = 10")  # the batch split, twice


def test_frozen_two_step_ingest_equals_single(spark):
    """Two encode-append epochs over the frozen artifacts must produce
    the SAME code table as the single default append — the codebooks
    are frozen, so encoding is batch-order-independent — and the epoch
    chain records both predicates with real file/row entries."""
    from strategy_analyzer_exporter_spark.operators.pq import ivfpq_frozen_dir
    from strategy_analyzer_exporter_spark.sources import epochs

    d1 = ivfpq_frozen_dir(spark, SF)  # default single-append chain
    d2 = ivfpq_frozen_dir(spark, SF, name_extra="twostep", appends=_HALVES)
    assert _codes_rows(spark, d1) == _codes_rows(spark, d2)
    ok, preds = epochs.chain_state([os.path.join(d2, "codes")])
    assert ok and preds == list(_HALVES)
    with open(os.path.join(d2, "codes", "_EPOCH_0002_OK")) as f:
        rec = json.load(f)
    assert rec["files"] and rec["rows"] > 0, rec


def test_frozen_appends_survive_session_boundary(spark):
    """Re-ensuring the same declared state re-attaches: byte-identical
    file listing, zero staging writes (validation is filesystem-only,
    so this is exactly what a NEW process does)."""
    from strategy_analyzer_exporter_spark.operators.pq import ivfpq_frozen_dir

    d = ivfpq_frozen_dir(spark, SF, name_extra="twostep", appends=_HALVES)
    before = _files(d)
    d2 = ivfpq_frozen_dir(spark, SF, name_extra="twostep", appends=_HALVES)
    assert d2 == d and _files(d) == before


def test_frozen_torn_epoch_forces_rebuild(spark):
    """A PENDING marker without OK (crashed appender) fails validation;
    the next ensure wipes and rebuilds the whole index — and the
    rebuild does NOT leave duplicate vec_ids (ADVICE r09: the wipe also
    covers the dynamic-partitionOverwriteMode leftover class)."""
    from strategy_analyzer_exporter_spark.operators.pq import ivfpq_frozen_dir
    from strategy_analyzer_exporter_spark.sources import epochs
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    d = ivfpq_frozen_dir(spark, SF, name_extra="torn", appends=_HALVES)
    codes_dir = os.path.join(d, "codes")
    rows = _codes_rows(spark, d)
    with open(os.path.join(codes_dir, "_EPOCH_0003_PENDING"), "w") as f:
        f.write('{"pred": "crashed"}')
    assert epochs.chain_state([codes_dir]) == (False, [])
    # the compaction entry point must refuse the torn chain rather than
    # fold the half-committed rows in (ADVICE r10)
    import pytest

    from strategy_analyzer_exporter_spark.operators.pq import compact_codes_dir

    with pytest.raises(RuntimeError, match="invalid epoch chain"):
        compact_codes_dir(spark, d)
    before = _files(d)
    d2 = ivfpq_frozen_dir(spark, SF, name_extra="torn", appends=_HALVES)
    assert _files(d2) != before  # rebuilt
    assert _codes_rows(spark, d2) == rows  # same index content
    n = load_table(spark, SF, "embeddings").count()
    got = spark.read.parquet(codes_dir)
    assert got.count() == n and got.select("vec_id").distinct().count() == n
    ok, preds = epochs.chain_state([codes_dir])
    assert ok and preds == list(_HALVES)


def test_compact_codes_dir_one_file_per_cell(spark):
    """Compaction rewrites the cell partitions to one file each,
    preserves the epoch manifest (marked compacted) and every code row,
    and the probe plan still prunes by cell afterwards."""
    from strategy_analyzer_exporter_spark.operators.pq import (
        _at_rest_topk,
        compact_codes_dir,
        ivfpq_frozen_dir,
    )
    from strategy_analyzer_exporter_spark.registry import QUERIES
    from strategy_analyzer_exporter_spark.sources import epochs

    import shutil

    # the fork persists across test sessions and a PREVIOUS run already
    # compacted it (re-attach would hand back 1 file/cell) — rebuild
    # fresh so the multi-file precondition holds
    d = ivfpq_frozen_dir(spark, SF, name_extra="cmp", appends=_HALVES)
    shutil.rmtree(d)
    d = ivfpq_frozen_dir(spark, SF, name_extra="cmp", appends=_HALVES)
    codes_dir = os.path.join(d, "codes")
    cells = [
        c for c in os.listdir(codes_dir)
        if c.startswith("cell=") and os.path.isdir(os.path.join(codes_dir, c))
    ]

    def max_files_per_cell():
        return max(
            len([f for f in os.listdir(os.path.join(codes_dir, c))
                 if f.endswith(".parquet")])
            for c in cells
        )

    assert max_files_per_cell() > 1  # base + appends piled up
    rows = _codes_rows(spark, d)
    compact_codes_dir(spark, d)
    assert max_files_per_cell() == 1
    assert _codes_rows(spark, d) == rows
    ok, preds = epochs.chain_state([codes_dir])
    assert ok and preds == list(_HALVES)
    q = _at_rest_topk(spark, SF, d)
    plan = P.physical_plan(q)
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "pq_frozen" in ln and "code0" in ln
    ]
    assert scans and all("PartitionFilters: [cell" in ln for ln in scans)
    # compacted two-step fork still answers identically to the
    # registered frozen query (same vectors, same frozen artifacts)
    got = sorted(tuple(r) for r in q.collect())
    want = sorted(
        tuple(r)
        for r in QUERIES["similarity_ivfpq_frozen_ingest"](spark, SF).collect()
    )
    assert got == want


def test_vacuum_codes_purges_tombstoned_vectors(spark):
    """Vacuum for the code table: compacting with vacuum_ids physically
    drops the tombstoned vectors' codes, after which the plain probe
    equals the tombstoned probe from before — and the layout keeps one
    file per cell, a valid chain, and its partition-pruned plan."""
    import shutil

    from pyspark.sql import functions as F2

    from strategy_analyzer_exporter_spark.operators.pq import (
        _at_rest_topk,
        compact_codes_dir,
        ivfpq_frozen_dir,
    )
    from strategy_analyzer_exporter_spark.sources import epochs

    d = ivfpq_frozen_dir(spark, SF, name_extra="vac", appends=_HALVES)
    shutil.rmtree(d)  # a previous run may have vacuumed it already
    d = ivfpq_frozen_dir(spark, SF, name_extra="vac", appends=_HALVES)
    codes_dir = os.path.join(d, "codes")
    tomb = (
        spark.read.parquet(codes_dir)
        .filter(F2.col("vec_id") % 9 == 2)
        .select("vec_id")
        .localCheckpoint()  # pin: the source files are rewritten
    )
    assert tomb.count() > 0
    n_before = spark.read.parquet(codes_dir).count()
    want = sorted(
        tuple(r)
        for r in _at_rest_topk(spark, SF, d, tombstones=tomb).collect()
    )
    vac_pred = "vec_id % 9 = 2"
    compact_codes_dir(spark, d, vacuum_ids=tomb, vacuum_pred=vac_pred)
    codes = spark.read.parquet(codes_dir)
    assert codes.join(tomb, "vec_id").count() == 0  # physically gone
    assert codes.count() < n_before
    got = sorted(tuple(r) for r in _at_rest_topk(spark, SF, d).collect())
    assert got == want
    ok, preds = epochs.chain_state([codes_dir])
    assert ok and preds == list(_HALVES)
    # the vacuum is recorded (ADVICE r10): a fresh ensure that does NOT
    # declare it must refuse to re-attach this layout and rebuild —
    # manifest mismatch, not docstring convention
    assert epochs.vacuum_state(codes_dir) == [vac_pred]
    d2 = ivfpq_frozen_dir(spark, SF, name_extra="vac", appends=_HALVES)
    assert d2 == d
    assert epochs.vacuum_state(codes_dir) == []  # rebuilt pristine
    assert spark.read.parquet(codes_dir).join(tomb, "vec_id").count() > 0


def test_vacuumed_query_equals_tombstoned_without_antijoin(spark):
    """VERDICT r10 #4 (vector twin): the registered vacuumed query
    answers the tombstone query's rows exactly, with NO anti-join in
    its probe plan — the deleted vectors' codes are gone from the cell
    partitions, not filtered at probe time."""
    from strategy_analyzer_exporter_spark.registry import QUERIES

    vac = QUERIES["similarity_ivfpq_vacuumed"](spark, SF)
    tomb = QUERIES["similarity_ivfpq_tombstoned"](spark, SF)
    assert sorted(tuple(r) for r in vac.collect()) == sorted(
        tuple(r) for r in tomb.collect()
    )
    vac_plan = P.physical_plan(vac)
    assert "LeftAnti" not in vac_plan, vac_plan
    assert "LeftAnti" in P.physical_plan(tomb)  # the twin still filters


def test_tombstoned_recall_floor(spark):
    """VERDICT r10 #7: the tombstoned probe changes the candidate set,
    so its quality needs its own ground truth — exact cosine top-k over
    the NON-tombstoned corpus (the same exclusion the oracle applies as
    a candidate predicate). Floor matches the clean indexes' asserted
    class (test_pipeline_ops.test_pq_recall_floor: mean recall ≥
    0.2 × 3/5 — a 3-candidate index against a top-5 truth set)."""
    import numpy as np

    from strategy_analyzer_exporter_spark.operators.pq import (
        N_QUERIES,
        VEC_TOMB_MOD,
        VEC_TOMB_RESIDUE,
    )
    from strategy_analyzer_exporter_spark.operators.similarity import TOP_K
    from strategy_analyzer_exporter_spark.registry import QUERIES
    from strategy_analyzer_exporter_spark.sources.tables import load_table

    emb = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    alive = {
        i: v for i, v in emb.items()
        if i % VEC_TOMB_MOD != VEC_TOMB_RESIDUE
    }
    truth = {}
    for q in range(N_QUERIES):
        qv = emb[q]
        qn = np.linalg.norm(qv)
        scored = sorted(
            (-(float(qv @ cv) / (qn * np.linalg.norm(cv))), c)
            for c, cv in alive.items()
            if c != q
        )
        truth[q] = {c for _, c in scored[:TOP_K]}
    hits, n = 0, 0
    for r in QUERIES["similarity_ivfpq_tombstoned"](spark, SF).collect():
        n += 1
        hits += int(r["cand_id"] in truth[r["query_id"]])
        # every candidate must be alive — redundant with the
        # never-surface test but free here
        assert r["cand_id"] % VEC_TOMB_MOD != VEC_TOMB_RESIDUE
    assert n > 0
    mean_recall = hits / (N_QUERIES * TOP_K)
    assert mean_recall >= 0.2 * 3 / 5, (hits, n, mean_recall)


def test_ivfpq_tombstones_never_surface(spark):
    """VERDICT r09 #4: tombstoned vectors never appear as candidates,
    ranks re-close over the survivors, the exclusion is non-vacuous,
    and the anti-join is broadcast — the probe plan keeps its
    partition-pruned scan and gains no exchange."""
    from strategy_analyzer_exporter_spark.operators.pq import (
        VEC_TOMB_MOD,
        VEC_TOMB_RESIDUE,
    )
    from strategy_analyzer_exporter_spark.registry import QUERIES

    base = QUERIES["similarity_ivfpq_at_rest"](spark, SF)
    tomb = QUERIES["similarity_ivfpq_tombstoned"](spark, SF)
    base_rows = base.collect()
    tomb_rows = tomb.collect()
    dead = lambda r: r["cand_id"] % VEC_TOMB_MOD == VEC_TOMB_RESIDUE  # noqa: E731
    assert any(dead(r) for r in base_rows)  # non-vacuous
    assert not any(dead(r) for r in tomb_rows)
    # per query: the tombstoned ranking equals the baseline's order
    # with dead candidates dropped IN THE PROBED CELLS — spot-check via
    # rank contiguity and count
    by_q = {}
    for r in tomb_rows:
        by_q.setdefault(r["query_id"], []).append(r["rn"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())
    plan = P.physical_plan(tomb)
    scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "pq_index" in ln and "code0" in ln
    ]
    assert scans and all("PartitionFilters: [cell" in ln for ln in scans)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert P.count_exchanges(tomb) <= P.count_exchanges(base), plan


def test_pq_adc_cell_decision_equals_pairs_twin(spark):
    """r14 optimization: the cell-decision ADC (decide on distinct
    code cells, ≤ PQ_K^PQ_M rows per query) must produce EXACTLY the
    all-pairs window shape's rows — including adc_dist, which the
    oracle hashes — on sf0.001 AND sf0.01 (the latter has query-cell
    collisions and self-match exclusions in play). r15: the registered
    query picks the shape from the corpus count (the spread_scan
    pattern), so the shape switch can never change rows — both shapes
    are pinned equal here and the registered query must equal them
    too."""
    from strategy_analyzer_exporter_spark.operators.pipeline import (
        _corpus_rows,
    )
    from strategy_analyzer_exporter_spark.operators.pq import (
        PQ_K,
        PQ_M,
        _adc_cells,
        _adc_pairs,
        _q_pq_adc,
    )

    for sf in (SF, "/root/testdata/sf0.01"):
        cells = sorted(tuple(r) for r in _adc_cells(spark, sf).collect())
        pairs = sorted(tuple(r) for r in _adc_pairs(spark, sf).collect())
        auto = sorted(tuple(r) for r in _q_pq_adc(spark, sf).collect())
        assert cells == pairs == auto
        # the registered decision at the gate SFs is pairs (n << K^M)
        assert 0 < _corpus_rows(sf, "embeddings") <= PQ_K**PQ_M
