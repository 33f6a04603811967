"""Round-10 additions: fail-fast clustered-layout validation for the
backfill walk (a wrong/stale layout must error, never land empty
"successful" blocks), the driver-registered clustered backfill entry
(the layout half of the contract), and the composed replicate cycle
(pending-detection -> file-dump extract -> alias cut-over).

Value parity vs DuckDB is covered by test_catalog_oracle for every
registered entry; these tests pin the failure modes and lifecycle
semantics a value hash alone would not witness.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.plans import catalog


def _q(name, spark, sf_dir):
    catalog.load_all()
    return catalog.QUERIES[name](spark, sf_dir)


# ---------------------------------------------------------------------
# validate_clustered_layout — the ADVICE-r9 hole: run_backfill with a
# wrong clustered_dir used to read every block as empty and land an
# all-empty store with _SUCCESS markers.


def test_clustered_validation_rejects_missing_path(tmp_path):
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    with pytest.raises(FileNotFoundError):
        validate_clustered_layout(str(tmp_path / "nope"), 10)


def test_clustered_validation_rejects_unclustered_dir(tmp_path):
    """A real directory with no entity_block= partition dirs is not a
    land_clustered layout: reading it as one would substitute empty
    frames for every block."""
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    d = tmp_path / "plain"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match="no entity_block="):
        validate_clustered_layout(str(d), 10)


def test_clustered_validation_rejects_increment_mismatch(
    spark, sf_dir, tmp_path
):
    """A layout landed with increment A walked with increment B (or
    a different entity) would read planned blocks empty or bleed
    rows across block boundaries.  Must raise, not land empties."""
    from bugzilla_etl_spark.operators.backfill import (
        land_clustered,
        run_backfill,
        validate_clustered_layout,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0] + 1
    inc_a = -(-end // 5)
    inc_b = -(-end // 3)
    clustered = str(tmp_path / "clustered")
    land_clustered(ev, clustered, inc_a)

    with pytest.raises(ValueError, match="landed with"):
        validate_clustered_layout(clustered, inc_b)
    with pytest.raises(ValueError, match="landed with"):
        validate_clustered_layout(clustered, inc_a, entity="event_id")

    # and the walk itself fail-fasts BEFORE landing anything
    store = str(tmp_path / "store")
    with pytest.raises(ValueError, match="landed with"):
        run_backfill(
            spark, ev, store, inc_b, lambda df: df,
            end=end, clustered_dir=clustered,
        )
    import os

    assert not os.path.isdir(store) or not os.listdir(store)


def test_clustered_validation_markerless_alignment(tmp_path):
    """Without a marker (layout landed by other tooling), a
    misaligned partition dir (lo % increment != 0) must raise —
    the finer-grained-layout case where planned blocks would
    interleave with dirs they never read."""
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    d = tmp_path / "markerless"
    (d / "entity_block=0").mkdir(parents=True)
    (d / "entity_block=6").mkdir()
    with pytest.raises(ValueError, match="different increment"):
        validate_clustered_layout(str(d), 10)


def test_clustered_validation_allows_missing_single_block(tmp_path):
    """A block with no events lands no partition dir — that is
    legitimate sparsity, not a layout error."""
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    import json

    d = tmp_path / "sparse"
    (d / "entity_block=0").mkdir(parents=True)
    (d / "entity_block=20").mkdir()  # dir for block 10 missing: OK
    (d / "_layout.json").write_text(
        json.dumps({"increment": 10, "entity": "user_id"})
    )
    present = validate_clustered_layout(str(d), 10)
    assert present == {0, 20}


# ---------------------------------------------------------------------
# full_backfill_clustered — the registered LAYOUT-half entry.


def test_full_backfill_clustered_matches_unbatched_build(spark, sf_dir):
    """The driver-registered clustered entry lands the identical doc
    set as the one-shot unbatched build (the same invariant the
    filter-scan entry pins), through directory-pruned block reads."""
    from bugzilla_etl_spark.plans.queries_history import build_full_docs
    from bugzilla_etl_spark.sources import load_table

    got = sorted(
        map(tuple, _q("full_backfill_clustered", spark, sf_dir).collect())
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(map(tuple, build_full_docs(ev).collect()))
    assert got == want


# ---------------------------------------------------------------------
# replicate_cycle — the composed replicate.py main loop.


def test_replicate_cycle_via_boundary_and_retirement(spark, sf_dir):
    """The via column splits exactly at the destination's high-water
    mark (the pending-detection boundary), every doc appears exactly
    once, and both runs' content unions to the full es_docs set."""
    out = _q("replicate_cycle", spark, sf_dir).collect()
    ids = [r._id for r in out]
    assert len(ids) == len(set(ids)), "alias read must never blend runs"

    cut = None
    init_max = max(
        (r.modified_ts for r in out if r.via == "initial"), default=None
    )
    repl_min = min(
        (r.modified_ts for r in out if r.via == "replicated"), default=None
    )
    assert init_max is not None and repl_min is not None
    # pending = strictly newer than the destination's max ts
    assert repl_min > init_max, (init_max, repl_min, cut)

    # full content = the es_docs projection of the whole events table
    es = _q("es_docs", spark, sf_dir).collect()
    assert sorted((r._id, r.user_id, r.event_type, r.modified_ts) for r in out) == sorted(
        (r._id, r.user_id, r.event_type, r.modified_ts) for r in es
    )


def test_replicate_cycle_pending_is_broadcast_probe(spark, sf_dir):
    """Pending detection must be the 1-row broadcast high-water-mark
    probe (BroadcastNestedLoopJoin against a single-row agg), never a
    shuffle of the source corpus."""
    catalog.load_all()
    df = catalog.QUERIES["replicate_cycle"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the final frame reads the landed parquet, so the interesting
    # plan is the one that computed it — re-derive the pending side
    from bugzilla_etl_spark.operators import snapshot as S
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    src = ev.select("event_id", "user_id", "ts")
    dest = ev.where(F.col("event_id") % 2 == 0).select("ts")
    p = S.replicate_pending(src, dest)
    pplan = p._sc._jvm.PythonSQLUtils.explainString(
        p._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" in pplan
    assert "SortMergeJoin" not in pplan
    assert plan  # the entry itself produced a readable plan


# ---------------------------------------------------------------------
# partition-plan determinism — the same query under the deployment
# profile and under a hostile one (7 shuffle partitions, 64 KB scan
# splits, AQE off) must produce identical canonical value rows.  A
# result that depends on the partition plan is a latent flaky-gate
# bug at any scale: it hashes green one run and red the next with
# zero code change.  Full-catalog form: tools/gate.py partitions.
# This slice keeps the bug-prone shapes (top-k ties, float sums, hash
# sampling, window first/lag, iterative convergence, sketch register
# merges) on every suite run.


def test_partition_plan_determinism_representative(spark, sf_dir):
    from tools.gate import canon_frame, hostile_conf

    names = [
        "topk_per_group",          # rank ties under LIMIT
        "heavy_hitters_ngrams",    # TakeOrderedAndProject
        "tpch_q1",                 # float sums, order-sensitive
        "quota_sample",            # hash-gated sampling
        "stratified_split",
        "previous_values",         # window lag/first
        "kmeans_embeddings",       # iterative convergence
        "hll_distinct",            # sketch register fold
        "kmv_source_overlap_sketch",
        "dedup_components",        # label propagation rounds
    ]
    catalog.load_all()
    base = {
        n: canon_frame(catalog.QUERIES[n](spark, sf_dir).toPandas())
        for n in names
    }
    with hostile_conf(spark):
        for n in names:
            got = canon_frame(catalog.QUERIES[n](spark, sf_dir).toPandas())
            assert got == base[n], f"{n} is partition-plan dependent"


# ---------------------------------------------------------------------
# null-hardened correctness — a deterministically-dirtied copy of the
# testdata (1-in-7 payload NULLs per column, per-column de-correlated)
# must still hash-match the DuckDB oracle.  Full-catalog form:
# tools/gate.py null.  This slice keeps one query per fixed
# null-contract family on every suite run: kernel null guards,
# signature-op drops, all-null set rendering, 3VL-safe HOF equality,
# struct-carried as-of payloads, observed-only stats.


def test_null_hardened_representative(spark, tmp_path):
    from tests.util import assert_oracle_slice
    from tools.gate import build_dirty_dir

    names = [
        "doc_fingerprint",       # scalar metric: null in, null out
        "dedup_simhash",         # signature op: null doc emits no row
        "decontam_overlap",      # probe kernel: null doc overlaps 0
        "dsir_weights",          # gram-less docs drop on both engines
        "set_accumulate",        # all-null running set renders ''
        "nested_docs",           # null child field = explicit empty slot
        "interval_asof_join",    # struct carry: null payload still wins
        "anomaly_mad",           # observed values / attributable types
        "anomaly_mad_hist",      # hist mode: same null screen as exact
        "diff_apply",            # unknown base stays unknown, not ''
        "attachment_versions",   # eqNullSafe in last-per-field filter
        "mm_resize",             # null payload: null bytes/checksum
        "embedding_outliers",    # null label = no cohort, row drops
    ]
    dirty = str(tmp_path)
    build_dirty_dir("/root/testdata/sf0.001", dirty)
    assert_oracle_slice(spark, dirty, names)
