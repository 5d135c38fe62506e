"""CLI entry point + S10 debug-print sink."""

from __future__ import annotations


def test_cli_list_prints_registry(capsys):
    from strategy_analyzer_exporter_spark.__main__ import main
    from strategy_analyzer_exporter_spark.registry import QUERIES

    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert set(out) == set(QUERIES)


def test_cli_unknown_query_errors():
    from strategy_analyzer_exporter_spark.__main__ import main

    assert main(["run", "no_such_query"]) == 2


def test_print_sink_formats_bar_fields_and_caps_rows(spark):
    """S10 parity: reference-shaped `t=…, d=…, O=…` lines
    (StrategyAnalyzerExporter.cs:221-225), hard row cap so the sink can
    never collect a full relation."""
    from strategy_analyzer_exporter_spark.sinks import print_data_bar_sink
    from strategy_analyzer_exporter_spark.sources.bars import bars_df

    b = bars_df(spark, "/root/testdata/sf0.001").orderBy("day", "time")
    lines: list[str] = []
    n = print_data_bar_sink(
        b.select("time", "day", "open", "high", "low", "close", "volume"),
        limit=5,
        printer=lines.append,
    )
    assert n == 5 and len(lines) == 5
    assert lines[0].startswith("t=") and ", d=" in lines[0]
    for key in ("O=", "H=", "L=", "C=", "Vol="):
        assert key in lines[0]


def test_ingest_parquet_to_duckdb_quoted_path(tmp_path):
    """A staging path holding a single quote ingests (replace, then
    append) instead of breaking the SQL around the parquet glob."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as papq

    from strategy_analyzer_exporter_spark.sinks import ingest_parquet_to_duckdb

    stage = tmp_path / "it's" / "stage"
    (stage / "day=7").mkdir(parents=True)
    papq.write_table(pa.table({"x": [1, 2, 3]}), stage / "day=7" / "part.parquet")
    db = str(tmp_path / "it's" / "out.duckdb")

    assert ingest_parquet_to_duckdb(str(stage), db, "t") == 3
    assert ingest_parquet_to_duckdb(str(stage), db, "t", mode="append") == 6
    con = duckdb.connect(db)
    try:
        rows = con.execute("SELECT day, x FROM t ORDER BY x, day").fetchall()
    finally:
        con.close()
    assert rows == [(7, 1), (7, 1), (7, 2), (7, 2), (7, 3), (7, 3)]


def test_ingest_append_matches_columns_by_name(tmp_path):
    """An append of a day-partitioned export (hive lists ``day`` last)
    into a table made from a flat export (``day`` first) stores each
    value under its own column, and a column the table lacks raises
    instead of shifting into a neighbour."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as papq
    import pytest

    from strategy_analyzer_exporter_spark.sinks import ingest_parquet_to_duckdb

    flat = tmp_path / "flat"
    flat.mkdir()
    papq.write_table(
        pa.table({"day": [1], "a": [1.5], "b": [2.5]}), flat / "part.parquet"
    )
    hive = tmp_path / "hive" / "day=7"
    hive.mkdir(parents=True)
    papq.write_table(pa.table({"a": [10.5], "b": [20.5]}), hive / "part.parquet")
    extra = tmp_path / "extra"
    extra.mkdir()
    papq.write_table(
        pa.table({"day": [9], "a": [0.5], "b": [0.5], "c": [0.5]}),
        extra / "part.parquet",
    )
    db = str(tmp_path / "out.duckdb")

    assert ingest_parquet_to_duckdb(str(flat), db, "t") == 1
    hive_root = str(tmp_path / "hive")
    assert ingest_parquet_to_duckdb(hive_root, db, "t", mode="append") == 2
    con = duckdb.connect(db)
    try:
        rows = con.execute("SELECT day, a, b FROM t ORDER BY day").fetchall()
    finally:
        con.close()
    assert rows == [(1, 1.5, 2.5), (7, 10.5, 20.5)]
    with pytest.raises(duckdb.Error, match='does not have a column with name "c"'):
        ingest_parquet_to_duckdb(str(extra), db, "t", mode="append")


def test_ingest_rejects_unknown_mode(tmp_path):
    """Only ``replace`` and ``append`` are modes: anything else raises
    before touching the table, instead of appending."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    import pytest

    from strategy_analyzer_exporter_spark.sinks import ingest_parquet_to_duckdb

    stage = tmp_path / "stage"
    stage.mkdir()
    papq.write_table(pa.table({"x": [1, 2]}), stage / "part.parquet")
    db = str(tmp_path / "out.duckdb")

    assert ingest_parquet_to_duckdb(str(stage), db, "t") == 2
    with pytest.raises(ValueError, match="overwrite"):
        ingest_parquet_to_duckdb(str(stage), db, "t", mode="overwrite")
    assert ingest_parquet_to_duckdb(str(stage), db, "t") == 2


def test_cli_export_ingests_features_and_removes_staging(spark, tmp_path, monkeypatch):
    """``export`` end to end on the active session: the DuckDB table
    holds every feature row, and the parquet staging copy is gone."""
    import tempfile

    import duckdb

    from strategy_analyzer_exporter_spark.__main__ import main
    from strategy_analyzer_exporter_spark.operators.features import features_df

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    db = str(tmp_path / "out.duckdb")

    assert main(["export", "--sf-dir", sf, "--duckdb", db]) == 0
    con = duckdb.connect(db)
    try:
        n = con.execute("SELECT count(*) FROM features").fetchone()[0]
    finally:
        con.close()
    assert n == features_df(spark, sf).count() > 0
    assert not list(tmp_path.glob("sae_export_*"))
    assert not spark.sparkContext._jsc.sc().isStopped()


def test_cli_export_unwritable_target_raises_and_removes_staging(
    spark, tmp_path, monkeypatch
):
    """A --duckdb path under a regular file cannot be created: the
    error reaches the caller and the staging copy is still removed."""
    import tempfile

    import duckdb
    import pytest

    from strategy_analyzer_exporter_spark.__main__ import main

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")

    with pytest.raises(duckdb.IOException, match="not_a_dir"):
        main(["export", "--sf-dir", "/root/testdata/sf0.001",
              "--duckdb", str(blocker / "out.duckdb")])
    assert not list(tmp_path.glob("sae_export_*"))
