"""Named query catalog — the executable form of SURVEY.md §2.

Each entry pairs a Spark plan builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI-SQL oracle that DuckDB
runs over the same parquet files.  The pairing is the correctness
contract: column names are aliased identically on both sides because
the verifier sorts columns by name before value-hashing.

Modules register via the ``@register`` decorator at import time;
``load_all()`` imports every query module exactly once.  ``run`` is
one invocation: it applies the conf the query declared at
registration and releases the run's scratch dirs, caches, temp views
and conf when the block ends (see ``tmpdirs``).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from bugzilla_etl_spark import tmpdirs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: session conf a query runs under inside ``run``
CONF: dict[str, dict[str, str]] = {}

#: The AQE small-partition knob.  A handful of queries are dominated
#: by BOUNDED intermediate frames (vocab-, label-, dim-grain) whose
#: shuffles default to core-count partitions — per-round task waves
#: then scale with cores instead of data (the r16 anti-scaler
#: diagnosis).  ``parallelismFirst=false`` lets AQE size those
#: partitions from bytes, which is the 100 TB-correct rule for bounded
#: frames; it stays PER-QUERY registration conf because compute-dense
#: small-byte shuffles (the inverted-index pair counts) genuinely want
#: core-count parallelism at bench scale (measured +33% when flipped
#: globally).
PARALLELISM_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

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


def register(
    name: str, oracle: str | None = None, conf: dict[str, str] | None = None
):
    """Decorator: add a query (and optional DuckDB oracle) to the
    catalog.  ``conf`` is session conf the query runs under inside
    ``run``; a bare ``QUERIES[name]`` call leaves the session as it is."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if conf:
            CONF[name] = conf
        return fn

    return deco


@contextmanager
def run(name: str, spark: SparkSession, sf_dir: str, **kw):
    """One invocation of query ``name``: yields its ``tmpdirs.Scope``
    with the built DataFrame as ``frame``.  Run the frame's actions
    inside the block; on exit, error included, the declared conf is
    restored and every dir, cache and view made inside is released.
    The record's ``stats`` keep what the run's operators recorded."""
    with tmpdirs.scope(name) as rec:
        tmpdirs.apply_conf(spark, CONF.get(name, {}))
        rec.frame = QUERIES[name](spark, sf_dir, **kw)
        yield rec


def load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _QUERY_MODULES:
        import_module(mod)
    _loaded = True


def noop_pass(name: str, spark: SparkSession, sf_dir: str, **kw):
    """One timed noop-sink pass of ``name`` in its own run: returns
    (wall seconds of build plus execution, the run's stats).  The
    run's release happens after the clock stops."""
    t0 = time.perf_counter()
    with run(name, spark, sf_dir, **kw) as rec:
        rec.frame.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    return dt, rec.stats
