"""Time individual catalog queries with bench.py's exact methodology
(one untimed warmup, then min-of-N noop-sink passes), without running
the whole 141-query lane — the A/B harness for optimization work.

Usage: python tools/time_query.py [--runs N] [--sf-dir DIR] QUERY [QUERY ...]

Prints one line per query: name, min, median, all runs.  Each pass
is its own ``catalog.run``, released after its clock stops exactly
like bench.py, so a timed pass always computes from parquet.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    runs_n = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    while args and args[0].startswith("--"):
        if args[0] == "--runs":
            runs_n = int(args[1])
            args = args[2:]
        elif args[0] == "--sf-dir":
            sf_dir = args[1]
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    names = args

    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    for name in names:
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        catalog.noop_pass(name, spark, sf_dir)
        runs: list[float] = []
        for i in range(runs_n):
            spark.sparkContext.setJobDescription(f"timed[{i}]: {name}")
            runs.append(catalog.noop_pass(name, spark, sf_dir)[0])
        spark.sparkContext.setJobDescription(None)
        runs.sort()
        print(
            f"{name}: min={runs[0]:.3f} med={runs[len(runs) // 2]:.3f} "
            f"runs={[round(r, 3) for r in runs]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
