"""Parquet table loaders.

The reference extracts from MySQL with ~20 hand-written SQL queries
(reference: bugzilla_etl/extract_bugzilla.py).  Spark-first, extraction
is a declarative scan: ``spark.read.parquet`` + column pruning +
predicate pushdown do what those hand-written projections/filters did,
and Catalyst pushes them into the file scan (verify with
``.explain``'s PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bugzilla_etl_spark.tmpdirs import apply_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType regardless
    of how the parquet shipped it: TIMESTAMP(NANOS) read as long under
    nanosAsLong, or TIMESTAMP(MICROS) isAdjustedToUTC=false read as
    TIMESTAMP_NTZ.  Works on static AND streaming frames (pure column
    expressions).  Session tz is pinned UTC, so ntz->tz is exact."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table.  Column pruning / filter pushdown happen
    automatically from the downstream plan — do NOT .cache() here, it
    would pin the full width in memory and defeat pruning at scale."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The engine computes in UTC: every ntz->instant cast downstream
    # (events normalization, orderdate epoch projections) is
    # value-identical only under a UTC session tz.  session.py pins
    # it, but the external driver / a notebook supplies its own
    # session — pin at the load seam for EVERY table.  Both confs here
    # are set through the current scope, so a run restores them when
    # it ends; the frame must execute inside that run.
    apply_conf(spark, {"spark.sql.session.timeZone": "UTC"})
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
        # vectorized reader refuses — read nanos as long and rebuild with
        # INTEGER division; `ts/1000` would route through double and lose
        # precision above 2^53) and as TIMESTAMP(MICROS) isAdjustedToUTC=
        # false (which Spark reads as TIMESTAMP_NTZ — not castable to
        # long).  Normalize BOTH to TimestampType; the session tz is
        # pinned UTC so the ntz->tz cast is value-identical.
        apply_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return normalize_events_ts(df)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
