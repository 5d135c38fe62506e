"""Benchmark entry point.

    python3 perfbench/run.py --workload export_batch --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, pins the session from outside the package (cores, heap, worker
PYTHONPATH, scratch space under ``.perfbench_work/``), measures the
workload for ``--seconds``, checks every output against the DuckDB
oracles and prints one JSON record per line; the last line carries
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "strategy_analyzer_exporter_spark"
SETUP_REPS = 3


def _load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _session(work: str):
    from strategy_analyzer_exporter_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must keep every job, stage and task of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "10000000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _setup(wl, work: str):
    """Session start plus seeded input generation, SETUP_REPS times; the
    first start also launches the JVM. The last session is kept."""
    reps, starts = [], []
    spark = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = _session(work)
        spark.range(1).count()
        t1 = time.perf_counter()
        wl.setup_inputs(rep)
        reps.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
        if rep < SETUP_REPS - 1:
            spark.stop()
    return spark, reps, starts


def run(workload: str, seed: int, seconds: float, trace: bool, root: str,
        tiny: bool = False) -> dict:
    import host

    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pinned = host.pin_environment(root, work)
    sys.path.insert(0, root)

    import spans as tr
    from workloads import WORKLOADS

    import strategy_analyzer_exporter_spark.registry  # noqa: F401  (registers queries)

    wl = WORKLOADS[workload](work, seed, tiny)
    try:
        spark, setup_reps, starts = _setup(wl, work)
        jvm_sys = spark.sparkContext._jvm.System
        jdk = f"{jvm_sys.getProperty('java.vm.name')} {jvm_sys.getProperty('java.version')}"
        tracer = tr.Tracer(spark, workload, enabled=trace)
        cache_log, passes = [], {"cold": [], "settle": [], "warm": []}
        path = wl.fresh_path()

        def one_pass(kind: str) -> None:
            with tracer.span(f"{workload}.{kind}"):
                t = time.perf_counter()
                wl.run_pass(spark, tracer, path, kind)
                passes[kind].append(time.perf_counter() - t)
            cache_log.append(
                {"pass": kind, "persisted_rdds": tr.persisted_rdds(spark),
                 "storage_mem_bytes": tr.storage_mem_bytes(spark)}
            )
            tracer.pass_no += 1
            # collect the last pass's garbage now, not inside the next pass
            spark.sparkContext._jvm.System.gc()
            gc.collect()

        with host.RssSampler() as rss:
            t_loop, steal0 = time.perf_counter(), host.steal_s()
            # one cold pass, then passes over the same path for `seconds`
            # (at least one warm pass): the workload's settling passes
            # first, kept out of warm_s, then warm passes
            one_pass("cold")
            t_warm = time.perf_counter()
            for _ in range(wl.settle_passes):
                one_pass("settle")
            while not passes["warm"] or time.perf_counter() - t_warm < seconds:
                one_pass("warm")
            loop_s = time.perf_counter() - t_loop
            # share of the machine's CPU time the host took away during
            # the loop: the timings above include it
            loop_steal = (host.steal_s() - steal0) / (loop_s * os.cpu_count())
        trace_overhead = tracer.overhead_s / loop_s

        layer: dict[str, float] = {}
        t0 = time.perf_counter()
        if trace:
            wl.probes(spark, tracer)
        probes_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.check(spark)
        check_s = time.perf_counter() - t0
        if trace:
            t0 = time.perf_counter()
            groups = {p: wl.stage_groups(p) for p in wl.phases}
            stages = tr.stage_metrics(spark, [g for gs in groups.values() for g in gs])
            layer.update(_stage_layer(wl, groups, stages))
            layer["bench.trace_read_s"] = time.perf_counter() - t0
            layer.update(wl.layer)
    finally:
        host.stop_spark_and_wait()

    warm_s = statistics.median(passes["warm"])
    e2e = {
        "setup_s": (statistics.median(setup_reps), "s"),
        "cold_s": (passes["cold"][0], "s"),
        "warm_s": (warm_s, "s"),
        "rows_per_s": (wl.rows / warm_s, "rows/s"),
    }
    if trace:
        layer.update(
            {
                "session.start_s": statistics.median(starts),
                "bench.check_s": check_s,
                "bench.ops_failed_ratio": wl.failed / max(wl.attempted, 1),
                "bench.trace_overhead": trace_overhead,
                "bench.peak_rss_mb": rss.peak / 2**20,
                "cache.persisted_rdds": cache_log[-1]["persisted_rdds"],
                # memo hits must not persist anything new
                "cache.persisted_rdds_warm_growth": cache_log[-1]["persisted_rdds"]
                - cache_log[0]["persisted_rdds"],
                "cache.storage_mem_bytes": cache_log[-1]["storage_mem_bytes"],
            }
        )
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "host": host.fingerprint(jdk),
        "pinned": pinned,
        "passes": passes,
        "rows_per_pass": wl.rows,
        "timeline_s": {"setup": sum(setup_reps), "loop": loop_s,
                       "probes": probes_s, "check": check_s},
        "loop_steal_share": loop_steal,
        "cache_log": cache_log,
        "checks": wl.check_log,
        "calls_s": wl.call_times(),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": layer,
    }
    out_dir = os.path.join(root, ".perfbench_work")
    with open(os.path.join(out_dir, f"record-{workload}-{seed}-{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if trace:
        with open(os.path.join(out_dir, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump(tracer.spans, f)
    shutil.rmtree(work, ignore_errors=True)
    return {"record": record, "e2e": e2e, "layer": layer, "wl": wl}


def _stage_layer(wl, groups: dict[str, list[str]], stages: dict[str, dict]) -> dict[str, float]:
    """Spark stage metrics of each phase, per call (``task_skew``: the
    worst stage)."""
    out = {}
    for phase, gs in groups.items():
        recs = [stages[g] for g in gs]
        for k in wl.stage_kinds(phase):
            if k == "task_skew":
                out[f"stage.{phase}.{k}"] = max(r[k] for r in recs)
            else:
                out[f"stage.{phase}.{k}"] = sum(r[k] for r in recs) / wl.calls[phase]
    return out


def result_line(res: dict, spec: dict, trace: bool) -> dict:
    wl = res["wl"]
    if trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        # a layer this workload never calls reads 0
        values = {n: (res["layer"].get(n, 0.0), u) for n, u in names}
        unknown = set(res["layer"]) - {n for n, _ in names}
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = res["e2e"]
        missing = [n for n, _ in names if n not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": float(values[n][0]), "unit": u} for n, u in names},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the record-shape test only")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ not found under {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    spec = _load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), root, args.tiny)
    line = result_line(res, spec, bool(args.trace))
    res["record"]["wall_s"] = time.perf_counter() - T_START
    print(json.dumps({"record": res["record"]}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
