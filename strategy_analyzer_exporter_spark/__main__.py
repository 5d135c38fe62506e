"""Command-line entry point — the operational surface a user of the
reference exporter actually touches (run a query, export the feature
table), mapped onto the registry:

    python -m strategy_analyzer_exporter_spark list
    python -m strategy_analyzer_exporter_spark run <query> \
        [--sf-dir DIR] [--limit N] [--out PARQUET_DIR]
    python -m strategy_analyzer_exporter_spark export \
        [--sf-dir DIR] --duckdb OUT.duckdb [--table features]

``run`` executes any registered query and either prints up to
``--limit`` rows (the S10 debug-print formatter) or writes parquet.
``export`` is the reference's entry point 1 (SURVEY.md §3.1): the full
feature pipeline → distributed parquet → one-statement DuckDB ingest →
CHECKPOINT.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="strategy_analyzer_exporter_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run one registered query")
    runp.add_argument("query")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    runp.add_argument("--limit", type=int, default=20)
    runp.add_argument("--out", help="write full result as parquet here")

    exp = sub.add_parser("export", help="feature pipeline → DuckDB")
    exp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    exp.add_argument("--duckdb", required=True)
    exp.add_argument("--table", default="features")

    args = p.parse_args(argv)

    from strategy_analyzer_exporter_spark.registry import QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            print(name)
        return 0

    if args.cmd == "run" and args.query not in QUERIES:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from strategy_analyzer_exporter_spark.session import get_spark

    # reuse an already-active session (tests, notebooks) and only stop
    # the one this process created itself
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(app_name=f"cli-{args.cmd}")
    try:
        if args.cmd == "run":
            df = QUERIES[args.query](spark, args.sf_dir)
            if args.out:
                from strategy_analyzer_exporter_spark.sinks import write_parquet

                write_parquet(df, args.out, use_float32=False)
                print(f"wrote {args.out}")
            else:
                from strategy_analyzer_exporter_spark.sinks import (
                    print_data_bar_sink,
                )

                n = print_data_bar_sink(df, limit=args.limit)
                print(f"({n} row(s) shown, limit {args.limit})")
            return 0

        # export
        from strategy_analyzer_exporter_spark.operators.features import (
            features_df,
        )
        from strategy_analyzer_exporter_spark.sinks import export_to_duckdb

        staging = tempfile.mkdtemp(prefix="sae_export_")
        try:
            n = export_to_duckdb(
                features_df(spark, args.sf_dir),
                db_path=args.duckdb,
                table=args.table,
                staging_dir=os.path.join(staging, "features_parquet"),
            )
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        print(f"exported {n} rows to {args.duckdb}:{args.table}")
        return 0
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
