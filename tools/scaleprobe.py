"""Data-decade scaling probe — one JSON line on stdout.

Replicates the bench tables (sf0.1 by default) N× into a scratch dir
with DISJOINT id spaces and per-replica text perturbation — the same
protocol the 16× probes in SCALING.md used, committed as a tool —
then times each probe query min-of-2 at base and at N× (min-of-n is
the bench.py round-6 denoising lesson; the round-10 triangle-knob
probe showed min-of-1 letting warm-order noise exceed a 2× knob
delta) and reports the realized scaling exponent
    e = log(T_N / T_1) / log(N)
(e = 1 linear, e < 1 sublinear; anything meaningfully > 1 needs an
explanation in SCALING.md).

Id offsets are applied consistently within a replica (orders and
customer replica i both shift custkey by i·OFF), so join cardinality
grows linearly — replicas never cross-join.  Dimension tables
(region, nation) are NOT replicated: at any SF they are constant
size, and replicating them would inflate joins superlinearly.
Document text gets a per-replica suffix token so dedup/sketch
queries see 10× distinct content, not 10 exact copies that collapse.

Usage: python tools/scaleprobe.py [factor] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFF = 10_000_000

# (table, [id columns to offset], text column or None)
TABLES = {
    "documents": (["doc_id"], "text"),
    "embeddings": (["vec_id"], None),
    "events": (["event_id", "user_id"], None),
    "orders": (["o_orderkey", "o_custkey"], None),
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], None),
    "customer": (["c_custkey"], None),
    "supplier": (["s_suppkey"], None),
    "part": (["p_partkey"], None),
    "region": ([], None),
    "nation": ([], None),
}

DEFAULT_QUERIES = [
    "pagerank_trade",
    "profile_table",
    "triangle_count",
    "dedup_minhash_lsh",
    "dedup_containment",
    "decontam_neardup",
    "semdedup",
    "bloom_decontam",
    "dsir_weights",
    "kmv_source_overlap_sketch",
    # orchestration entries (round-10): per-block cost must stay
    # proportional to per-block data; cut-over cost must stay O(1)
    "full_backfill_clustered",
    "dual_pipeline_cutover",
    "replicate_cycle",
    # round-11: the hot-key-splittable temporal trilogy — pane
    # decompositions must stay sublinear like the classics they A/B
    "moving_average_ranged",
    "state_rollforward_paned",
    "events_sessionize_paned",
    "previous_values_paned",
    # round-11: BM25's broadcast-vocab semi-filter must keep the
    # decade exponent at the token-scan slope, not the shuffle slope
    "bm25_topk",
    # round-13: the ExactSubstr span family — the gram-hash groupBy
    # and the never-amplifying semi-join must hold the token-scan
    # slope; BPE must stay vocab-grain (near-flat) as the corpus
    # grows a decade with the vocab ~constant
    "dedup_spans",
    "dedup_spans_apply",
    "bpe_apply",
    "ann_ivf_pq",
    # round-14: the data-scaled triangle backbone (tools/tri_decade.py
    # is its dedicated two-decade lane; this keeps the standing x10
    # exponent row alongside the fixed form's)
    "triangle_count_scaled",
    # round-15: the corpus encode pass — its decade exponent must
    # track the token-scan slope (the corpus side is map-only), with
    # the vocab-grain id work near-flat like bpe_apply's merge loop
    "bpe_encode",
    # round-16 (r15 verdict task 4 — the two entries that landed
    # after SCALEPROBE_r15 ran): the sequence materializer's
    # token-grain explode/regroup is exactly the shape a decade
    # probe exists to witness; the ingest twin's per-batch encode
    # must hold the map-only slope with the frozen-artifact load
    # constant-ish (vocab-grain)
    "seq_packing_ids",
    "stream_bpe_encode",
    # round-16: the large-vocab fallback exists FOR scale — its
    # term-join exchanges must hold the token-scan slope as corpus
    # and vocab grow a decade together
    "bpe_encode_join",
]

# Parameter variants: probe a catalog entry at a non-default setting
# of one of its parameters.  Spelled name@variant on the command line.
VARIANTS = {
    # a doubled backbone cap: the broadcast-side count costs
    # ~backbone^1.5, so the decade slope must stay the corpus-side
    # projection's while the constant grows
    "triangle_count@backbone2x": ("triangle_count", {"backbone": 10000}),
    # the full-md5 gram hash — 32-byte shuffle keys instead of 8;
    # the decade exponent must stay at the 60-bit form's slope (the
    # shuffle carries the hash either way, only wider)
    "dedup_spans@md5": ("dedup_spans", {"hash_bits": 128}),
}


def resolve_query(name: str, catalog):
    """``name`` or ``name@variant`` -> (catalog name, kwargs), or None."""
    base, kw = VARIANTS.get(name, (name, {}))
    return (base, kw) if base in catalog.QUERIES else None


def replicate(spark, src_dir: str, dst_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    from bugzilla_etl_spark.sources import load_table

    for tbl, (ids, text) in TABLES.items():
        # Through load_table, not a raw spark.read.parquet: the events
        # table has shipped both as TIMESTAMP(MICROS) NTZ and as
        # TIMESTAMP(NANOS) (which the vectorized reader refuses without
        # the nanosAsLong conf load_table sets) — the probe must
        # tolerate both encodings.  Replicas land normalized (micros),
        # and re-load through the same seam downstream.
        df = load_table(spark, src_dir, tbl)
        if not ids:  # constant-size dims: single copy
            df.write.mode("overwrite").parquet(f"{dst_dir}/{tbl}.parquet")
            continue
        parts = []
        for i in range(factor):
            p = df
            for c in ids:
                p = p.withColumn(c, F.col(c) + F.lit(i * OFF))
            if text is not None:
                p = p.withColumn(
                    text,
                    F.concat(F.col(text), F.lit(f" zrep{i}")),
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst_dir}/{tbl}.parquet")


def main() -> None:
    import math

    args = sys.argv[1:]
    factor = int(args[0]) if args else 10
    queries = args[1:] or DEFAULT_QUERIES
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark
    from bugzilla_etl_spark.tmpdirs import gc_now, tracked_mkdtemp

    catalog.load_all()
    spark = get_spark("scaleprobe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    big = tracked_mkdtemp(prefix="bes_sp_")
    replicate(spark, base_dir, big, factor)

    out: dict = {}
    for name in queries:
        resolved = resolve_query(name, catalog)
        if resolved is None:
            # loud skip: a typo'd name must not read as "measured"
            print(
                f"unknown query/variant {name!r} — skipped",
                file=sys.stderr,
            )
            continue
        base, kw = resolved
        # warmup at base (codegen), then min-of-2 each scale
        catalog.noop_pass(base, spark, base_dir, **kw)

        def timed(sf: str) -> float:
            return min(
                catalog.noop_pass(base, spark, sf, **kw)[0] for _ in range(2)
            )

        t_base = timed(base_dir)
        t_big = timed(big)
        out[name] = {
            "base_s": round(t_base, 3),
            f"x{factor}_s": round(t_big, 3),
            "ratio": round(t_big / t_base, 2),
            "exponent": round(
                math.log(t_big / t_base) / math.log(factor), 2
            ),
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    gc_now()
    print(json.dumps({"factor": factor, "base": base_dir, "probe": out}))


if __name__ == "__main__":
    main()
