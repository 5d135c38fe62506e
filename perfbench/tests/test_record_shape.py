"""Every metric BENCHMARK.json names is measured, with its unit.

Runs each workload once, traced, at a tiny seed-generated size (about a
minute each), from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


@pytest.fixture(scope="module")
def runs() -> dict[str, tuple[dict, dict]]:
    return {w: _run(w) for w in WORKLOADS}


def test_result_line_has_every_per_layer_metric_with_its_unit(runs):
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for w, (_, line) in runs.items():
        assert set(line) == {"correct", "attempted", "failed", "metrics"}, w
        assert line["attempted"] >= 1, w
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == want, w


def test_every_per_layer_metric_is_measured_by_some_workload(runs):
    measured = set().union(*(set(rec["per_layer"]) for rec, _ in runs.values()))
    assert measured == {m["name"] for m in SPEC["per_layer"]}


def test_record_has_every_end_to_end_metric_and_the_host(runs):
    names = {m["name"] for m in SPEC["end_to_end"]}
    for w, (rec, _) in runs.items():
        assert set(rec["end_to_end"]) == names, w
        assert all(v > 0 for v in rec["end_to_end"].values()), w
        assert {"nproc", "mem_total_mb", "pyspark", "jdk", "duckdb"} <= set(rec["host"]), w
        assert len(rec["cache_log"]) == sum(map(len, rec["passes"].values())), w
