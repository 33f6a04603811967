"""Dump `.explain("formatted")` output for catalog queries to
OUT_DIR/<query>_<suffix>.txt — plan evidence to read beside an
optimization change.

Usage: python tools/dump_plans.py --out OUT_DIR [--sf-dir DIR] SUFFIX QUERY [QUERY ...]
       python tools/dump_plans.py --out /tmp/plans after pagerank_trade

Building a frame may run real jobs for lifecycle entries (backfill,
compaction): the dump reflects the RETURNED frame's plan, which is
what the bench times with the noop sink.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    out_dir = None
    while args and args[0] in ("--sf-dir", "--out"):
        if args[0] == "--sf-dir":
            sf_dir = args[1]
        else:
            out_dir = args[1]
        args = args[2:]
    if out_dir is None or len(args) < 2:
        raise SystemExit(__doc__.split("Usage: ")[1].split("\n\n")[0])
    suffix, names = args[0], args[1:]

    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        with catalog.run(name, spark, sf_dir) as run:
            txt = spark._jvm.PythonSQLUtils.explainString(
                run.frame._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
