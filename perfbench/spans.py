"""Spans around calls into the program, and Spark's own stage metrics
per job group, read from outside the package.

Every timed call runs under ``setJobGroup("<workload>:<phase>")``.
After the run, jobs are matched to their group through the status
store's ``jobsList``, and each of their stages is read with
``lastStageAttempt(stageId)`` (``stageList`` needs every Scala default
argument and cannot be called through py4j). Time spent in Python
workers comes from the SQL store: the "time to run Python workers"
metric of each ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas
node of the executions those jobs belong to.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory spans (name, start, end, parent, pass). With
    ``enabled`` False, ``span`` only sets the job group. ``overhead_s``
    adds up the time spent recording spans: the only work a traced
    pass does that an untraced one does not."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no = 0  # spans of one timed pass share it
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, phase: str | None = None):
        if phase is not None:
            self.sc.setJobGroup(f"{self.workload}:{phase}", name, False)
        idx = None
        if self.enabled:
            t = time.perf_counter()
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": name,
                    "pass": self.pass_no,
                    "parent": self._stack[-1] if self._stack else None,
                    "start": t - self._t0,
                    "end": None,
                }
            )
            self._stack.append(idx)
            self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            if idx is not None:
                t = time.perf_counter()
                self._stack.pop()
                self.spans[idx]["end"] = t - self._t0
                self.overhead_s += time.perf_counter() - t
            if phase is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# node-name prefixes; FlatMapGroupsInPandas also covers ...WithState
_PY_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")


def _seconds(formatted: str) -> float:
    """Total of a formatted SQL timing metric: either "1.2 s" or
    "total (min, med, max ...)\\n14.8 s (334 ms, ...)"."""
    last = formatted.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(ms|s|m|h)\b", last)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def stage_metrics(spark, groups: list[str]) -> dict[str, dict]:
    """Per job group: run_s and cpu_s (summed executor time), shuffle
    write and spill bytes, task_skew (slowest over median task run
    time, worst stage with at least two tasks) and python_s."""
    store = spark.sparkContext._jsc.sc().statusStore()
    by_group: dict[str, list] = {g: [] for g in groups}
    job_group: dict[int, str] = {}
    for job in _iter(store.jobsList(None)):
        g = _opt(job.jobGroup())
        if g in by_group:
            by_group[g].append(job)
            job_group[job.jobId()] = g
    out = {}
    for g, jobs in by_group.items():
        rec = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "task_skew": 1.0, "python_s": 0.0}
        for job in jobs:
            for sid in _iter(job.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped stage: its output was reused
                if sd.numCompleteTasks() == 0:
                    continue
                rec["run_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.numCompleteTasks() >= 2:
                    runs = [
                        t.taskMetrics().get().executorRunTime()
                        for t in _iter(store.taskList(sid, sd.attemptId(), 100000))
                        if t.taskMetrics().isDefined()
                    ]
                    med = statistics.median(runs) if runs else 0
                    if med > 0:
                        rec["task_skew"] = max(rec["task_skew"], max(runs) / med)
        out[g] = rec
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _iter(sql.executionsList()):
        groups_hit = {
            job_group[int(j)] for j in _iter(ex.jobs().keys()) if int(j) in job_group
        }
        if not groups_hit:
            continue
        eid = ex.executionId()
        values = sql.executionMetrics(eid)
        for node in _iter(sql.planGraph(eid).allNodes()):
            if not node.name().startswith(_PY_NODES):
                continue
            for m in _iter(node.metrics()):
                if m.name() != "time to run Python workers":
                    continue
                v = _opt(values.get(m.accumulatorId()))
                if v:
                    for g in groups_hit:
                        out[g]["python_s"] += _seconds(v)
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def storage_mem_bytes(spark) -> int:
    return int(
        sum(i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())
    )
