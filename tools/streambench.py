"""Streaming bench lane — one JSON line on stdout.

The main bench (bench.py) excludes the streaming catalog entries
because availableNow trigger startup dominates their wall time —
which left 14 entries with NO regression signal at all (round-8
verdict item 5).  This lane times them explicitly and SPLITS the
cost so a regression in either component is visible:

- ``noop_1batch`` / ``noop_3batch``: a minimal readStream → memory
  availableNow query over 1 vs 3 landed files.  Their difference
  isolates the PER-MICRO-BATCH overhead (batch planning + state
  commit), and noop_1batch pins the fixed startup (query planning,
  checkpoint + sink init) — the part that vanishes on a long-running
  cluster job and should NOT gate a 100 TB design.
- per-query ``queries``: min-of-2 full wall (each catalog invocation
  creates fresh checkpoint/landing dirs, so every pass is a complete
  cold streaming run); ``marginal`` = wall - noop_1batch ≈ the
  data-proportional work, the number that must scale with SF and
  must not regress round over round.

Usage: python tools/streambench.py [QUERY ...]
       (same env knobs as bench.py; with QUERY names given, only
       those entries are timed — the targeted re-measure path for
       merging per-query mins across lane invocations when a steal
       burst poisons every pass of one entry)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STREAMING = [
    "stream_snapshot",
    "stream_rollup",
    "stream_sessionize",
    "stream_dedup",
    "stream_previous_values",
    "stream_bug_versions",
    "stream_heavy_hitters",
    "stream_heavy_hitters_capped",
    "stream_hll",
    "stream_neardup_ingest",
    "stream_decontam",
    "stream_attribution",
    "stream_attribution_outer",
    # round-11: the watermark-buffered out-of-order forms
    "stream_previous_values_ooo",
    "stream_sessionize_ooo",
    # round-12: the chunking ingest twin
    "stream_doc_chunks",
    # round-13: the ExactSubstr-span ingest twin
    "stream_dedup_spans",
    # round-15: the tokenize ingest twin (frozen reference
    # tokenizer + unk policy)
    "stream_bpe_encode",
]

# min-of-3 since r16 (was 2): this round's host shows CPU-steal
# bursts that can inflate a single applyInPandasWithState pass 5-6x
# (interleaved A/B on identical code read 7.7 and 42.1 s minutes
# apart); with two passes the min still lands in a noise window too
# often — three passes give the min a fighting chance.  Reported
# aggregation is unchanged (min, medians not recorded in this lane).
N_RUNS = 3


def _noop_stream(spark, n_files: int) -> float:
    """Minimal availableNow run over n_files 1-row parquet files
    (maxFilesPerTrigger=1 => n_files micro-batches), through the same
    ``to_memory`` start/await path as the entries; its dirs and view
    go when its scope ends, after the clock stops."""
    from bugzilla_etl_spark import tmpdirs
    from bugzilla_etl_spark.streaming.landing import landed_stream, to_memory

    with tmpdirs.scope("sb_noop"):
        src = tmpdirs.tracked_mkdtemp(prefix="bes_sbnoop_")
        for i in range(n_files):
            spark.range(i, i + 1).coalesce(1).write.mode("append").parquet(src)
        t0 = time.perf_counter()
        to_memory(landed_stream(spark, src, "id long"), "append", "sb_noop_")
        return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    only = set(sys.argv[1:])
    if only:
        unknown = only - set(STREAMING)
        if unknown:
            raise SystemExit(f"unknown streaming queries: {sorted(unknown)}")
        STREAMING[:] = [n for n in STREAMING if n in only]

    from bench import host_info
    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.session import get_spark

    catalog.load_all()
    spark = get_spark("streambench")
    spark.sparkContext.setLogLevel("ERROR")

    # one throwaway streaming run so JVM/codegen/state-store class
    # loading lands outside every timed region (incl. noop_1batch)
    _noop_stream(spark, 1)

    noop1 = round(min(_noop_stream(spark, 1) for _ in range(3)), 3)
    noop3 = round(min(_noop_stream(spark, 3) for _ in range(3)), 3)

    # stream_bpe_encode serves a SAVED tokenizer artifact in
    # production (r15 verdict task 3); price the one-time train+save
    # separately and time the entry on the LOAD path — the pin is
    # then protocol-insensitive (no fresh-vs-warm learn-loop delta).
    # The artifact outlives every timed run: a plain mkdtemp, removed
    # below once all entries have run.
    import shutil
    import tempfile

    prep_kwargs: dict[str, dict] = {}
    prepared: dict[str, float] = {}
    art_dir = None
    if "stream_bpe_encode" in STREAMING:
        from pyspark.sql import functions as F

        from bugzilla_etl_spark.operators.text import save_tokenizer
        from bugzilla_etl_spark.plans.queries_text import (
            bpe_tokenizer_terms,
        )
        from bugzilla_etl_spark.sources import load_table

        art_dir = tempfile.mkdtemp(prefix="bes_sbtokart_")
        t0 = time.perf_counter()
        ref_docs = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % 2 == 0
        )
        save_tokenizer(bpe_tokenizer_terms(spark, ref_docs), art_dir)
        prepared["stream_bpe_encode_train_save_sec"] = round(
            time.perf_counter() - t0, 3
        )
        prep_kwargs["stream_bpe_encode"] = {"tokenizer_path": art_dir}

    timings: dict[str, float] = {}
    progress: dict[str, dict] = {}
    for name in STREAMING:
        if name not in catalog.QUERIES:
            continue
        runs = []
        for _ in range(N_RUNS):
            # each pass is its own run: its landing/checkpoint dirs
            # and memory-sink view go when it ends
            dt, stats = catalog.noop_pass(
                name, spark, sf_dir, **prep_kwargs.get(name, {})
            )
            if not runs or dt < min(runs):
                progress[name] = stats["progress"]
                if "split" in stats:
                    progress[name]["split"] = stats["split"]
            runs.append(dt)
        timings[name] = round(min(runs), 3)

    if art_dir is not None:
        shutil.rmtree(art_dir, ignore_errors=True)

    marginal = {
        n: round(max(t - noop1, 0.0), 3) for n, t in timings.items()
    }
    out = {
        "metric": "streaming_queries_total_wall",
        "unit": "sec",
        "queries": timings,
        "marginal": marginal,
        # one-time artifact costs priced OUTSIDE the per-query walls
        # (stream_bpe_encode's tokenizer train+save: paid before the
        # stream exists in production, so not part of its pin)
        "prepared": prepared,
        # winning pass's StreamingQueryProgress summary, one per
        # entry (every entry drains through landing.drain, which
        # records it): state rows/memory and summed durationMs
        # components — addBatch is data work, walCommit/
        # commitOffsets/stateCommit are checkpoint IO.  Recorded
        # because the r12 re-pin of the interval joins could not be
        # root-caused from wall clock alone.
        "progress": progress,
        "noop_1batch": noop1,
        "noop_3batch": noop3,
        "per_batch_overhead": round((noop3 - noop1) / 2, 3),
        "runs_per_query": N_RUNS,
        "aggregation": "min",
        "n_queries": len(timings),
        "value": round(sum(timings.values()), 3),
        "sf": sf,
        "host": host_info(spark),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
