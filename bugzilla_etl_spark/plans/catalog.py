"""Named query catalog — the executable form of SURVEY.md §2.

Each entry pairs a Spark plan builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI-SQL oracle that DuckDB
runs over the same parquet files.  The pairing is the correctness
contract: column names are aliased identically on both sides because
the verifier sorts columns by name before value-hashing.

Modules register via the ``@register`` decorator at import time;
``load_all()`` imports every query module exactly once.
"""

from __future__ import annotations

from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_QUERY_MODULES = (
    "bugzilla_etl_spark.plans.queries_temporal",
    "bugzilla_etl_spark.plans.queries_etl",
    "bugzilla_etl_spark.plans.queries_analytics",
    "bugzilla_etl_spark.plans.queries_dedup",
    "bugzilla_etl_spark.plans.queries_text",
    "bugzilla_etl_spark.plans.queries_similarity",
    "bugzilla_etl_spark.plans.queries_multimodal",
    "bugzilla_etl_spark.plans.queries_engine",
    "bugzilla_etl_spark.plans.queries_history",
    "bugzilla_etl_spark.plans.queries_pipeline",
    "bugzilla_etl_spark.plans.queries_sampling",
)

_loaded = False


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optional DuckDB oracle) to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        import_module(mod)
    _loaded = True
