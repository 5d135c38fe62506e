"""The benchmark workloads. Each is a closed loop with one client: the
next call into the program is issued only after the previous returns.

A workload generates its inputs from the seed (``make_inputs``). The
timed loop copies them to a path this session has never seen
(untimed), runs one **cold** pass over it — the first pass of the
process, so JIT compilation, Python worker start and every memo
summary the pass needs are paid here — then **warm** passes over the
same path until the run's time is up. The program's memo caches key on
the input path, so warm passes consume the summaries the cold pass
built. ``check`` runs after the loop and compares outputs with the
DuckDB oracles.

The traced run (``probes``) also splits a pass into layers and measures
two paths that have no timed loop of their own: the streaming export
(on export_batch) and the relational queries (on llm_corpus).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb

import gen

LLM_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_repetition_signals",
    "text_paragraph_dedup",
    "similarity_pq_adc",
    "dedup_semdedup",
)
RELATIONAL_QUERIES = (
    "agg_pricing_summary",
    "join_multiway",
    "join_asof",
    "window_topk_per_group",
    "events_funnel_3step",
)
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
EXPORT_TABLE = "features"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _parquet_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _duckdb_with_views(path: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"{_lit(os.path.join(path, t + '.parquet'))})"
        )
    return con


# How far a float may sit from the oracle's, as a share of max(1, |value|).
# The program documents a floor of cross-engine float parity: the
# double → decimal cast of each summand is not engine-identical, which
# leaves about 1e-17 relative noise on the exact windowed sums behind
# the autocorrelation features (operators/features.py,
# _window_stat_cols) and on the decimal centroid means behind
# similarity_pq_adc's adc_dist (operators/pq.py). Cancellation can widen
# that to a float32 ulp of the exported feature, or to ~1e-11 of a
# distance. Measured on 20 seeds each: 1 ulp at |v| ~ 0.1 and 4e-14 at
# |v| ~ 4e-7 (features), 4.3e-12 (adc_dist). Anything wider, and any
# difference in a non-float column or in the row count, is a failure.
FLOAT_TOL = {"FLOAT": 2.0**-23, "DOUBLE": 1e-10}


def _compare(con, got: str, want: str) -> dict:
    """``got`` against ``want`` (relation names in ``con``) as multisets
    of rows over ``want``'s columns. Rows that are not bit-identical are
    paired in the order of their columns, non-float columns first; a
    pair still agrees when its non-float columns are equal and each
    float is within ``FLOAT_TOL`` of the other. Returns the rows that
    are not bit-identical (``inexact``), those that do not agree
    (``failed``) and the widest float difference in units of its
    tolerance (``worst``)."""
    desc = con.execute(f"DESCRIBE {want}").fetchall()
    types = [r[1] for r in desc]
    cols = ", ".join(f'"{r[0]}"' for r in desc)
    order = ", ".join(
        f'"{r[0]}"' for r in sorted(desc, key=lambda r: r[1] in FLOAT_TOL)
    )
    only = [
        con.execute(
            f"SELECT * FROM (SELECT {cols} FROM {a} EXCEPT ALL "
            f"SELECT {cols} FROM {b}) ORDER BY {order}"
        ).fetchall()
        for a, b in ((got, want), (want, got))
    ]
    failed, worst = abs(len(only[0]) - len(only[1])), 0.0
    for g, w in zip(*only):
        ok = True
        for t, a, b in zip(types, g, w):
            if a == b or (a != a and b != b):  # NaN pairs agree
                continue
            if t in FLOAT_TOL and a is not None and b is not None:
                d = abs(a - b) / max(1.0, abs(a), abs(b)) / FLOAT_TOL[t]
                worst = max(worst, d)
                ok = ok and d <= 1.0
            else:
                ok = False
        failed += not ok
    return {"inexact": len(only[1]), "failed": failed, "worst": worst}


class Workload:
    name = ""
    phases: tuple[str, ...] = ()
    settle_passes = 0  # warm passes after the cold one that warm_s leaves out

    TINY_SIZES: dict = {}  # for the record-shape test

    def __init__(self, work: str, seed: int, tiny: bool = False):
        if tiny:
            self.__dict__.update(self.TINY_SIZES)
        self.work = work
        self.seed = seed
        self.inputs = ""
        self.rows = 0
        self.copies = 0
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.check_log: list[dict] = []
        self.calls: dict[str, int] = {}  # phase → calls under its job group

    def make_inputs(self, out: str) -> int:
        """Write the seeded inputs under ``out``; return the rows one
        pass processes."""
        raise NotImplementedError

    def setup_inputs(self, rep: int) -> None:
        out = os.path.join(self.work, f"inputs_{rep}")
        self.rows = self.make_inputs(out)
        self.inputs = out

    def fresh_path(self) -> str:
        self.copies += 1
        dst = os.path.join(self.work, f"pass_{self.copies:03d}", "in")
        shutil.copytree(self.inputs, dst)
        return dst

    def run_pass(self, spark, tracer, path: str, kind: str) -> None:
        raise NotImplementedError

    def check(self, spark) -> None:
        raise NotImplementedError

    def probes(self, spark, tracer) -> None:
        """Traced-run calls that split a pass into layers."""

    def call_times(self) -> dict[str, list[float]]:
        """Seconds of each call into the program, per pass, for the record."""
        return {}

    def stage_kinds(self, phase: str) -> tuple[str, ...]:
        return ("run_s", "cpu_s", "shuffle_write_bytes", "spill_bytes",
                "task_skew", "python_s")

    def stage_groups(self, phase: str) -> list[str]:
        return [f"{self.name}:{phase}"]

    def count(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def check_queries(self, inputs, tables, outputs) -> None:
        """Each ``(query, parquet dir)`` of ``outputs`` against the
        query's registered DuckDB oracle over ``inputs``; a mismatch or
        an empty oracle fails that call."""
        from strategy_analyzer_exporter_spark.registry import ORACLES

        queries = sorted({q for q, _ in outputs})
        oracle_db = os.path.join(self.work, f"oracle_{queries[0]}.duckdb")
        _materialize(oracle_db, inputs, tables, {q: ORACLES[q] for q in queries})
        con = duckdb.connect()
        con.execute(f"ATTACH {_lit(oracle_db)} AS o (READ_ONLY)")
        for q, out in outputs:
            con.execute(
                "CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet("
                f"{_lit(os.path.join(out, '*.parquet'))})"
            )
            n = con.execute(f"SELECT count(*) FROM o.{q}").fetchone()[0]
            c = _compare(con, "got", f"o.{q}")
            self.check_log.append({"query": q, "output": out, "want": n, **c})
            self.count(n > 0 and c["failed"] == 0)
        con.close()


def _materialize(db: str, inputs: str, tables, sqls: dict[str, str]) -> None:
    con = _duckdb_with_views(inputs, tables)
    con.execute(f"ATTACH {_lit(db)} AS o")
    for name, sql in sqls.items():
        con.execute(f"CREATE TABLE o.{name} AS {sql}")
    con.close()


# ---------------------------------------------------------------------------


class ExportBatch(Workload):
    """events → ``features_df`` with the reference config (session
    09:00-15:55) → day-partitioned parquet → DuckDB ingest + CHECKPOINT."""

    name = "export_batch"
    phases = ("bars", "ema", "features", "write", "drain")
    # the JIT is still compiling what the cold pass ran first: the next
    # pass read 15-90% above the ones after it (llm_corpus shows no such
    # step, its warm passes are memo hits on small jobs)
    settle_passes = 1
    days, per_day = 20, 10_000
    files_per_trigger = 8
    TINY_SIZES = {"days": 3, "per_day": 3_000, "files_per_trigger": 2}

    def __init__(self, work, seed, tiny=False):
        super().__init__(work, seed, tiny)
        self.exports: list[dict] = []
        self.run_ids: list[str] = []

    def make_inputs(self, out):
        from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE

        gen.write_events(out, self.seed, self.days, self.per_day)
        con = _duckdb_with_views(out, ["events"])
        n = con.execute(f"WITH {BARS_CTE} SELECT count(*) FROM bars").fetchone()[0]
        con.close()
        return int(n)

    def _export(self, spark, tracer, path, out):
        from strategy_analyzer_exporter_spark import sinks
        from strategy_analyzer_exporter_spark.operators.features import (
            FeatureConfig,
            features_df,
        )
        from strategy_analyzer_exporter_spark.telemetry import BatchTelemetry

        stage, db = os.path.join(out, "stage"), os.path.join(out, "export.duckdb")
        tel = BatchTelemetry()
        t0 = time.perf_counter()
        with tracer.span("sinks.write_parquet", phase="write"):
            df = features_df(spark, path, FeatureConfig())
            sinks.write_parquet(df, stage, partition_by=("day",), telemetry=tel)
        t1 = time.perf_counter()
        with tracer.span("sinks.ingest_parquet_to_duckdb"):
            n = sinks.ingest_parquet_to_duckdb(stage, db, EXPORT_TABLE)
        t2 = time.perf_counter()
        files, size = _parquet_stats(stage)
        shutil.rmtree(stage)
        self.exports.append(
            {"db": db, "rows": n, "written": tel.written, "files": files,
             "bytes": size, "db_bytes": os.path.getsize(db),
             "write_s": t1 - t0, "ingest_s": t2 - t1}
        )

    def run_pass(self, spark, tracer, path, kind):
        out = os.path.join(os.path.dirname(path), f"out_{kind}_{len(self.exports)}")
        self._export(spark, tracer, path, out)

    def call_times(self):
        return {k: [e[k] for e in self.exports] for k in ("write_s", "ingest_s")}

    def check(self, spark):
        """Every exported table must equal the
        ``features_sql(FeatureConfig())`` oracle over the same events
        (the pass read a copy of these files), floats within
        ``FLOAT_TOL``."""
        from strategy_analyzer_exporter_spark.operators.features import (
            FeatureConfig,
            features_sql,
        )

        oracle_db = os.path.join(self.work, "oracle_features.duckdb")
        _materialize(oracle_db, self.inputs, ("events",),
                     {EXPORT_TABLE: features_sql(FeatureConfig())})
        con = duckdb.connect()
        con.execute(f"ATTACH {_lit(oracle_db)} AS o (READ_ONLY)")
        want = f"o.{EXPORT_TABLE}"
        n_want = con.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
        for e in self.exports:
            con.execute(f"ATTACH {_lit(e['db'])} AS got (READ_ONLY)")
            c = _compare(con, f"got.{EXPORT_TABLE}", want)
            con.execute("DETACH got")
            self.check_log.append({"table": e["db"], "rows": e["rows"], "want": n_want, **c})
            self.count(c["failed"] == 0 and n_want > 0 and e["rows"] == n_want)
        con.close()

    def probes(self, spark, tracer):
        med = lambda k: statistics.median(e[k] for e in self.exports)  # noqa: E731
        self.calls["write"] = len(self.exports)
        self.layer.update(
            {
                "sinks.ingest_s": med("ingest_s"),
                "sinks.files_written": med("files"),
                "sinks.bytes_written": med("bytes"),
                "sinks.duckdb_bytes_per_row": med("db_bytes") / max(med("rows"), 1),
                "telemetry.written_ratio": sum(e["rows"] for e in self.exports)
                / max(sum(e["written"] for e in self.exports), 1),
            }
        )
        self._prefix_probes(spark, tracer, med("write_s"))
        self._stream_probe(spark, tracer)

    def _prefix_probes(self, spark, tracer, write_s):
        """Prefixes of one pass, each into the noop sink, twice:
        bars; bars → session filter → EMA grouped map; ``features_df``."""
        from pyspark.sql import functions as F

        from strategy_analyzer_exporter_spark.operators.features import (
            FeatureConfig,
            features_df,
            with_ema,
        )
        from strategy_analyzer_exporter_spark.sources.bars import bars_df

        cfg = FeatureConfig()
        path = self.fresh_path()
        runs: dict[str, list[float]] = {"bars": [], "ema": [], "features": []}
        for _ in range(2):
            for phase in runs:
                with tracer.span(f"probe.{phase}", phase=phase):
                    t0 = time.perf_counter()
                    if phase == "bars":
                        _noop(bars_df(spark, path))
                    elif phase == "ema":
                        sess = bars_df(spark, path).filter(
                            (F.col("time") >= cfg.time_start) & (F.col("time") <= cfg.time_end)
                        )
                        _noop(with_ema(sess.drop("event_id", "user_id"), cfg))
                    else:
                        _noop(features_df(spark, path, cfg))
                    runs[phase].append(time.perf_counter() - t0)
        med = {k: statistics.median(v) for k, v in runs.items()}
        self.calls.update({k: len(v) for k, v in runs.items()})
        self.layer.update(
            {
                "sources.bars_s": med["bars"],
                "features.ema_s": med["ema"] - med["bars"],
                "features.total_s": med["features"],
                "sinks.write_parquet_s": write_s - med["features"],
            }
        )

    def _stage_bars(self, out: str) -> None:
        """The bars of this run's events from the oracle's own
        derivation (bit-identical to ``bars_df``), one parquet file per
        day with increasing mtimes so the file source replays the days
        in order."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from strategy_analyzer_exporter_spark.sources.bars import BARS_CTE

        con = _duckdb_with_views(self.inputs, ["events"])
        bars = con.execute(
            f"WITH {BARS_CTE} SELECT day, time, open, high, low, close, volume "
            "FROM bars ORDER BY day, time"
        ).fetch_arrow_table()
        con.close()
        os.makedirs(out)
        t0 = time.time() - 86_400
        for i, day in enumerate(pc.unique(bars["day"]).to_pylist()):
            f = os.path.join(out, f"bars_{i:04d}.parquet")
            pq.write_table(bars.filter(pc.equal(bars["day"], day)), f)
            os.utime(f, (t0 + i, t0 + i))

    def _stream_probe(self, spark, tracer):
        """The same bars, staged one file per day, drained by
        ``stream_features`` into ``foreach_batch_duckdb_sink`` (default
        CommitPolicy, ``files_per_trigger`` day-files per trigger, whole
        backlog present at start). The first drain warms the stateful
        path; the second is measured, and its table must equal the
        batch export of the same events."""
        from strategy_analyzer_exporter_spark.operators.features import FeatureConfig
        from strategy_analyzer_exporter_spark.streaming import (
            BAR_SCHEMA,
            foreach_batch_duckdb_sink,
            stream_features,
        )

        stage = os.path.join(self.work, "stream_bars")
        self._stage_bars(stage)
        for rep in range(2):
            out = os.path.join(self.work, f"stream_{rep}")
            os.makedirs(out)
            db = os.path.join(out, "stream.duckdb")
            sink = foreach_batch_duckdb_sink(db, EXPORT_TABLE)
            epoch_s: list[float] = []

            def timed_sink(df, epoch_id, sink=sink, epoch_s=epoch_s):
                t0 = time.perf_counter()
                sink(df, epoch_id)
                epoch_s.append(time.perf_counter() - t0)

            # the stream thread runs its jobs under the query's runId group
            with tracer.span("streaming.drain"):
                stream = (
                    spark.readStream.schema(BAR_SCHEMA)
                    .option("maxFilesPerTrigger", self.files_per_trigger)
                    .parquet(stage)
                )
                q = (
                    stream_features(stream, FeatureConfig())
                    .writeStream.foreachBatch(timed_sink)
                    .option("checkpointLocation", os.path.join(out, "checkpoint"))
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
        self.run_ids = [str(q.runId)]
        self.calls["drain"] = 1
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        state = [p["stateOperators"] for p in progress if p["stateOperators"]]
        con = duckdb.connect()
        con.execute(f"ATTACH {_lit(db)} AS got (READ_ONLY)")
        con.execute(f"ATTACH {_lit(self.exports[-1]['db'])} AS want (READ_ONLY)")
        n = con.execute(f"SELECT count(*) FROM got.{EXPORT_TABLE}").fetchone()[0]
        c = _compare(con, f"got.{EXPORT_TABLE}", f"want.{EXPORT_TABLE}")
        con.close()
        self.check_log.append({"table": db, "rows": n, "want": self.exports[-1]["rows"], **c})
        self.count(c["failed"] == 0 and n > 0)
        self.layer.update(
            {
                "streaming.batches": len(progress),
                "streaming.batch_p50_s": statistics.median(
                    p["durationMs"]["triggerExecution"] / 1e3 for p in progress
                ),
                "streaming.state_rows": sum(o["numRowsTotal"] for o in state[-1]),
                "streaming.state_mem_bytes": sum(o["memoryUsedBytes"] for o in state[-1]),
                "streaming.state_commit_s": sum(
                    o["commitTimeMs"] for ops in state for o in ops
                ) / 1e3,
                "streaming.add_batch_s": sum(
                    p["durationMs"].get("addBatch", 0) for p in progress
                ) / 1e3,
                "sinks.epoch_write_s": sum(epoch_s),
                "sinks.commits": sink.stats["commits"],
                "sinks.checkpoints": sink.stats["checkpoints"],
                "sinks.stream_bytes_per_row": os.path.getsize(db) / max(n, 1),
            }
        )

    def stage_groups(self, phase):
        return self.run_ids if phase == "drain" else super().stage_groups(phase)

    def stage_kinds(self, phase):
        kinds = super().stage_kinds(phase)
        # the SQL store keeps no values for the stateful node's Python
        # metrics of micro-batch executions, so python_s would read 0
        return kinds[:-1] if phase == "drain" else kinds


class LlmCorpus(Workload):
    """The six LLM-data queries over a seeded corpus with planted
    near-duplicates."""

    name = "llm_corpus"
    phases = LLM_QUERIES + RELATIONAL_QUERIES
    docs, vectors = 600, 300
    star_sf = 0.02
    TINY_SIZES = {"docs": 200, "vectors": 100, "star_sf": 0.002}

    def __init__(self, work, seed, tiny=False):
        super().__init__(work, seed, tiny)
        self.times: dict[tuple[str, str], list[float]] = {}
        self.outputs: list[tuple[str, str]] = []  # (query, parquet dir) per timed call

    def make_inputs(self, out):
        n = gen.write_corpus(out, self.seed, self.docs, self.vectors)
        return n["documents"] + n["embeddings"]

    def _run_queries(self, spark, tracer, path, queries, kind, out=None, staged=("cold",)):
        """Each query on ``path``, its result written as parquet under
        ``out`` for the check or, without ``out``, into noop. Calls of a
        ``staged`` kind run under the query's own job group, whose stage
        metrics are reported. Returns the ``(query, parquet dir)`` pairs
        written."""
        from strategy_analyzer_exporter_spark.registry import QUERIES

        written = []
        for q in queries:
            with tracer.span(q, phase=q if kind in staged else f"{q}:{kind}"):
                t0 = time.perf_counter()
                df = QUERIES[q](spark, path)
                if out is None:
                    _noop(df)
                else:
                    df.write.parquet(os.path.join(out, q))
                    written.append((q, os.path.join(out, q)))
                self.times.setdefault((q, kind), []).append(time.perf_counter() - t0)
        return written

    def run_pass(self, spark, tracer, path, kind):
        # every timed call keeps its (small) result, so the check compares
        # what the timed calls returned rather than a re-run
        out = os.path.join(os.path.dirname(path), f"out_{len(self.outputs)}")
        self.outputs += self._run_queries(spark, tracer, path, LLM_QUERIES, kind, out)

    def call_times(self):
        return {f"{q}.{k}": v for (q, k), v in self.times.items()}

    def check(self, spark):
        """Every timed call's result against its oracle over the
        inputs the passes copied."""
        self.check_queries(self.inputs, ("documents", "embeddings"), self.outputs)

    def probes(self, spark, tracer):
        """The relational queries over a seeded TPC-H-like star schema:
        a first call each into noop, then a measured call each, whose
        results are checked against their oracles."""
        path = os.path.join(self.work, "star")
        gen.write_star(path, self.seed, self.star_sf)
        self._run_queries(spark, tracer, path, RELATIONAL_QUERIES, "first")
        written = self._run_queries(spark, tracer, path, RELATIONAL_QUERIES, "measured",
                                    out=os.path.join(self.work, "star_out"),
                                    staged=("measured",))
        self.check_queries(path, STAR_TABLES, written)
        self.calls = {q: 1 for q in self.phases}
        for q in LLM_QUERIES:
            self.layer[f"{q}.cold_s"] = statistics.median(self.times[(q, "cold")])
            self.layer[f"{q}.warm_s"] = statistics.median(self.times[(q, "warm")])
        for q in RELATIONAL_QUERIES:
            self.layer[f"{q}_s"] = self.times[(q, "measured")][0]

    def stage_kinds(self, phase):
        if phase in RELATIONAL_QUERIES:
            return ("run_s", "shuffle_write_bytes", "task_skew")
        return super().stage_kinds(phase)


WORKLOADS = {w.name: w for w in (ExportBatch, LlmCorpus)}

