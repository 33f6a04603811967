"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would deploy on a large cluster (AQE on,
skew-join handling, Arrow for the few pandas exchanges) scaled down to
a local session: ``local[$SPARK_GRAFT_CPUS]``, or one slot per host
core when that is unset.  All operators in this package work with
ANY session (the verify driver passes its own); this factory is for
tests, bench.py, and standalone runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bugzilla-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    # shuffle partitions ~= cores locally; on a real cluster this is
    # 2-3x total cores, and AQE coalesces the tail.
    shuffle = str(shuffle_partitions or cpus)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/bes-warehouse"),
        )
        .getOrCreate()
    )
