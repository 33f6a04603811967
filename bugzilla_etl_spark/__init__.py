"""bugzilla_etl_spark — a PySpark-native analytics/ETL engine with the
query and data-processing capabilities of mozilla/Bugzilla-ETL.

The reference (read-only at /root/reference) extracts Bugzilla change
history, rebuilds temporal bug-version snapshots, and loads them into
Elasticsearch.  This package re-expresses those semantics — and the
large-scale training-data-pipeline operators that naturally extend
them — as declarative Spark DataFrame plans that Catalyst/Tungsten can
optimize (predicate pushdown, broadcast joins, whole-stage codegen,
AQE), so the same code runs in local mode for tests and a 1000-executor
cluster for 100 TB.

Layout:
    session.py    SparkSession factory with scale-tuned defaults
    sources/      table loaders (parquet now; jdbc/es config stubs)
    functions/    reusable, oracle-portable column expressions
    operators/    the operator library (snapshot, dedup, text, ...)
    plans/        named query catalog (the SURVEY §2 inventory)
    sinks/        document sinks (ES-style JSON docs, replicate)
    streaming/    Structured Streaming variants
"""

__version__ = "0.1.0"
