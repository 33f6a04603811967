"""Hot-key skew straggler probe: what a skewed key distribution costs.

Per-entity windows and key-partitioned aggs serialize on a hot key:
one task owns 30% of the corpus while the rest idle.  The probe times
a skew-sensitive query set on a uniform vs a skewed copy of the same
data (same row count, same schema, same writer — ONLY the key
distribution moved; see ``tools.gate.build_skewed_dir``) and reports
the ratio.  local[n] understates a 1000-executor cluster's pain (the
straggler here still shares cache with its siblings), but a ratio ≫ 1
is the smoke of the fire, and the salted forms (`set_final_salted` vs
`set_final`) should show the mitigation paying for itself.  Value
parity on skewed data is the correctness gate's job
(``tools/gate.py skew``).

Usage:
  python tools/skew_sweep.py [--json OUT.json] [--factor N]
                             [--hot-share S] [perf_sf_dir] [query ...]
Defaults: perf at sf0.1 over SKEW_QUERIES, min-of-2 per side.
``--factor N`` replicates the perf dir N× first (scaleprobe's
disjoint-id protocol) and skews the REPLICATED corpus — at sf0.1
alone the hot key owns ~30k rows and every straggler is sub-second,
so ratios read ≈1 regardless of plan shape (measured, r11); one
decade up the hot key owns ~300k rows and a serialized window
actually registers.  ``--hot-share S`` pushes the hot key's share of
rows to S (0.1% resolution) for crossover probes.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.gate import build_skewed_dir  # noqa: E402

# The straggler-sensitive set: per-entity windows (sessionize /
# as-of / running sets), key-grouped aggs and joins on the skewed
# keys, and the salted/unsalted pair whose delta IS the mitigation.
SKEW_QUERIES = [
    "events_sessionize",
    "events_sessionize_paned",  # the prefix-sum mitigation (#174)
    "previous_values",
    "previous_values_paned",  # the five-carry mitigation (#175)
    "set_final",
    "set_final_salted",
    "topk_per_group",
    "moving_average",
    "moving_average_ranged",  # the pane-split mitigation (#172)
    "state_rollforward",
    "state_rollforward_paned",  # the prefix-scan mitigation (#173)
    "time_rollup",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "quality_repetition",
    "key_skew_stats",
]


def perf_probe(
    perf_src: str,
    queries: list[str],
    factor: int = 1,
    hot_share: float | None = None,
) -> dict:
    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark
    from bugzilla_etl_spark.tmpdirs import gc_now, tracked_mkdtemp

    catalog.load_all()
    spark = get_spark("skew-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    # both probe sides are single-file rewrites; Spark splits parquet
    # by BYTE RANGE (maxPartitionBytes), not row group, so a <128 MB
    # file is otherwise ONE scan task on both sides — fair, but it
    # serializes every scan and buries the key-distribution signal
    # under a constant. 8 MB splits restore realistic scan fan-out.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
    spark.range(1000).selectExpr("sum(id)").collect()

    if factor > 1:
        from tools.scaleprobe import replicate

        big = tracked_mkdtemp(prefix="bes_skewbase_")
        replicate(spark, perf_src, big, factor)
        perf_src = big
    # uniform side = the SAME rewrite without the key remap, so the
    # two sides differ in key distribution only (see build_skewed_dir)
    uniform = tracked_mkdtemp(prefix="bes_skewuni_")
    build_skewed_dir(perf_src, uniform, skew=False)
    perf_src = uniform
    skewed = tracked_mkdtemp(prefix="bes_skewperf_")
    build_skewed_dir(perf_src, skewed, hot_share=hot_share)

    out: dict = {}
    for name in queries:
        if name not in catalog.QUERIES:
            print(f"unknown query {name!r} — skipped", file=sys.stderr)
            continue
        catalog.noop_pass(name, spark, perf_src)  # codegen warmup

        def timed(d: str) -> float:
            return min(catalog.noop_pass(name, spark, d)[0] for _ in range(2))

        t_u = timed(perf_src)
        t_s = timed(skewed)
        out[name] = {
            "uniform_s": round(t_u, 3),
            "skewed_s": round(t_s, 3),
            "ratio": round(t_s / t_u, 2),
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    gc_now()
    return out


def main() -> None:
    args = sys.argv[1:]
    json_out = None
    factor = 1
    hot_share = None
    while args and args[0] in ("--json", "--factor", "--hot-share"):
        if args[0] == "--json":
            json_out = args[1]
        elif args[0] == "--factor":
            factor = int(args[1])
        else:
            hot_share = float(args[1])
        args = args[2:]
    perf_src = args[0] if args else "/root/testdata/sf0.1"
    queries = args[1:] or SKEW_QUERIES

    probe = perf_probe(
        perf_src, queries, factor=factor, hot_share=hot_share
    )
    result = {
        "perf_sf": perf_src,
        "perf_factor": factor,
        "hot_share": hot_share,
        "probe": probe,
    }
    line = json.dumps(result)
    print(line)
    if json_out:
        with open(json_out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
