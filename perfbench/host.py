"""Host fingerprint, session pinning from outside the package, peak RSS
of the driver process tree, and shutdown that waits for every child.

Nothing here imports pyspark before ``pin_environment`` has run: the
JVM and its Python workers inherit the environment at launch.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine's
    CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_total: int) -> int:
    """A third of physical memory, capped at 8 GiB: the rest is left
    to the Python workers (Arrow batches, pandas frames) and DuckDB,
    which all live outside the JVM heap."""
    return int(min(mem_total // 3, 8 << 30) >> 20)


def pin_environment(repo_root: str, work: str) -> dict:
    """Pin the session the program builds: cores, heap, worker import
    path and scratch space. Returns the values pinned."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_heap_mb(mem_total_bytes())
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_TMP_DIR": os.path.join(work, "staging"),
        # Python workers import the package by module path; without it
        # on their PYTHONPATH the grouped-map UDFs fail to unpickle
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        # the JVM's scratch files (block manager, py4j) stay in the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(pinned)
    return pinned


def fingerprint(jdk: str) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_bytes() >> 20,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": jdk,
        "duckdb": duckdb.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in [os.getpid(), *descendants()])
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark_and_wait(timeout_s: float = 60.0) -> None:
    """Stop the SparkContext, close the gateway JVM and wait until the
    JVM and every process it started have exited."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    procs = descendants()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except (Py4JError, OSError):
            pass  # the JVM may already be gone; it is waited for below
        if proc is not None:
            # the gateway server exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and not _is_zombie(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                deadline = time.monotonic() + 5.0
            time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return stat[stat.rfind(")") + 2] == "Z"
    except OSError:
        return True
