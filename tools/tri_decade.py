"""Triangle-backbone decade probe — one JSON line on stdout.

Round-13's TRI_DECADE measured the FIXED top-5000 backbone across
×10/×20/×40 corpora (exactly-linear pair agg, wall exponent 0.87,
graph coverage shrinking 0.1% → 0.025%) but was an ad-hoc script;
this commits the protocol as a tool and extends it to the r14
data-scaled form (`triangle_count_scaled`, r13 verdict task 2) so
the knob's recall/wall trade is measured, not asserted:

- per factor, both entries run min-of-2 on the same replicated
  corpus (scaleprobe's disjoint-id protocol);
- per factor, the co-supply edge distribution is profiled once
  (total edges, the weight at each form's cut, ties at the cut) so
  coverage and tie-break pressure are visible alongside wall;
- `kept_fraction` comes from the scaled entry's own output column
  (the no-silent-caps discipline) and from 5000/E for the fixed
  form.

Usage: python tools/tri_decade.py [factor ...]   (default 10 20 40)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _co_edges(spark, sf_dir):
    """The shared co-supply edge aggregate (the #112/#187 front
    half), returned as a DataFrame for profiling."""
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    ok = (
        ps.groupBy("pk")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where(F.col("ns") <= 64)
        .select("pk")
    )
    a, b = ps.alias("a"), ps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (F.col("a.sk") < F.col("b.sk")),
        )
        .join(ok, on="pk")
        .groupBy(F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2"))
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _profile(spark, sf_dir, caps_fn) -> dict:
    """One histogram pass over the edge weights: total edges plus,
    for each cap named by ``caps_fn(n_edges)``, the boundary weight
    and the tie count straddling it."""
    from pyspark.sql import functions as F

    hist = sorted(
        _co_edges(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect(),
        key=lambda r: -r.w,
    )
    n_edges = sum(r.c for r in hist)
    out = {"co_edges": n_edges}
    for label, cap in caps_fn(n_edges).items():
        run, wstar, tied = 0, None, 0
        for r in hist:
            if run + r.c >= cap:
                wstar, tied = r.w, r.c
                break
            run += r.c
        out[label] = {
            "cap": cap,
            "cut_weight": wstar,
            "edges_tied_at_cut": tied,
            "kept_fraction": round(min(cap, n_edges) / n_edges, 6)
            if n_edges
            else None,
        }
    return out


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [10, 20, 40]
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark
    from bugzilla_etl_spark.tmpdirs import gc_now, tracked_mkdtemp
    from tools.scaleprobe import replicate

    catalog.load_all()
    spark = get_spark("tri-decade")
    spark.sparkContext.setLogLevel("ERROR")

    fixed, scaled = "triangle_count", "triangle_count_scaled"
    # warmup (codegen/classload) at base
    catalog.noop_pass(fixed, spark, base_dir)
    catalog.noop_pass(scaled, spark, base_dir)

    def timed(name, sf):
        runs = [
            round(catalog.noop_pass(name, spark, sf)[0], 3) for _ in range(2)
        ]
        return min(runs), runs

    out: dict = {}
    for factor in factors:
        big = tracked_mkdtemp(prefix="bes_tri_")
        replicate(spark, base_dir, big, factor)
        prof = _profile(
            spark,
            big,
            lambda n: {
                "fixed": 5000,
                "scaled": max(500, (100 * n + 9999) // 10000),
            },
        )
        wall_f, runs_f = timed(fixed, big)
        wall_s, runs_s = timed(scaled, big)
        with catalog.run(scaled, spark, big) as run:
            kf = run.frame.limit(1).collect()
        out[str(factor)] = {
            "co_edges": prof["co_edges"],
            "fixed": {**prof["fixed"], "wall_s": wall_f, "runs": runs_f},
            "scaled": {
                **prof["scaled"],
                "wall_s": wall_s,
                "runs": runs_s,
                "kept_fraction_reported": kf[0].kept_fraction
                if kf
                else None,
            },
        }
        print(json.dumps({str(factor): out[str(factor)]}), file=sys.stderr)
        gc_now()
    lo, hi = str(min(factors)), str(max(factors))
    if lo != hi:
        for form in ("fixed", "scaled"):
            # wall_s is round(min_wall, 3): guard the 0.0 a tiny/fast
            # corpus can produce AT EITHER END (log(0) raises just
            # like /0) so the expensive replication work isn't thrown
            # away after it completed (r14 ADVICE + r15 review)
            lo_wall = out[lo][form]["wall_s"]
            hi_wall = out[hi][form]["wall_s"]
            out[f"{form}_exponent_x{lo}_x{hi}"] = (
                round(
                    math.log(hi_wall / lo_wall)
                    / math.log(int(hi) / int(lo)),
                    2,
                )
                if lo_wall > 0 and hi_wall > 0
                else None
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
