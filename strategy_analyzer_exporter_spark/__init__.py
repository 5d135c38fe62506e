"""strategy_analyzer_exporter_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference repo ``WaleeTheRobot/strategy-analyzer-exporter``
(a C# NinjaTrader strategy add-on that computes windowed OHLCV features and
bulk-exports them to DuckDB), generalized to a distributed DataFrame engine:

- ``sources``   — parquet table loaders, deterministic bars derivation,
                  DuckDB read/write connectors.
- ``operators`` — the reference's windowed feature operators (EMA, MA
                  distance/slope/autocorrelation, OLV/CLV) plus the
                  relational surface (joins, aggregation, window functions,
                  set ops, top-k) and LLM-data-pipeline operators (dedup,
                  similarity search, text analysis, multimodal columns).
- ``functions`` — scalar/array column expression helpers shared by operators.
- ``schema``    — record-class → StructType derivation mirroring the
                  reference's reflection schema inference
                  (DatabaseWriter.cs:217-256).
- ``streaming`` — Structured Streaming variants of the feature pipeline.

Everything is declarative DataFrame/SQL so Catalyst plans it, except
where the work is inherently sequential or opaque: the feature export's
Arrow-batched per-day kernel (bars, EMA fold and window buffers in one
pass), the vector and text kernels, and clearly-stubbed multimodal decoders.
"""

from strategy_analyzer_exporter_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
