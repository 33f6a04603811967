"""Round-9 additions: the last two prose-only scale paths become
wired parameters (kmv sketch-only mode, stream_heavy_hitters
keyspace cap), the range-batched resumable full backfill, and the
two-pipeline single-cutover composition.

Value parity vs DuckDB is covered by test_catalog_oracle for every
registered entry; these tests pin the properties the knobs and
compositions promise (plan shape, state bounds, crash-resume
semantics) that a value hash alone would not explain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bugzilla_etl_spark.plans import catalog


def _q(name, spark, sf_dir):
    catalog.load_all()
    return catalog.QUERIES[name](spark, sf_dir)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_kmv_sketch_mode_no_corpus_smj(spark, sf_dir):
    """exact=False must plan ZERO SortMergeJoin (the exact-Jaccard
    corpus-pair SMJ is the allowlisted cost of the exact mode ONLY)
    and ZERO CartesianProduct; the corpus parquet relation may
    appear only inside the cached sketch build (InMemoryRelation) —
    every downstream branch reads the ≤|sources|×k sketch cache,
    so the corpus is physically scanned once."""
    from bugzilla_etl_spark.plans.queries_engine import (
        kmv_source_overlap,
    )

    df = kmv_source_overlap(spark, sf_dir, exact=False)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_shh_capped_counts_are_exact(spark, sf_dir):
    """The candidate re-verify reports EXACT counts (unlike a raw
    count-min readout there is no overcount): every (ngram, cnt) the
    capped form emits must equal the true corpus count of that gram.
    Recall is the only thing the cap can cost (a heavy gram whose
    bucket ranks below the candidate cut), never precision."""
    from bugzilla_etl_spark.operators import text as T
    from bugzilla_etl_spark.plans.queries_history import (
        stream_heavy_hitters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        r["ngram"]: r["cnt"]
        for r in docs.select(
            F.explode(T.ngrams(T.tokens("text"), 3)).alias("ngram")
        )
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    capped = stream_heavy_hitters(
        spark, sf_dir, keyspace_bits=10
    ).collect()
    assert len(capped) == 20
    for r in capped:
        assert truth[r["ngram"]] == r["cnt"]


def test_shh_all_buckets_candidates_is_lossless(spark, sf_dir):
    """With n_candidates >= 2^k every bucket is a candidate, so the
    re-verify degenerates to the full exact count: the capped form
    must equal the exact top-20 BY CONSTRUCTION even at a keyspace
    of 4 counters — the state bound costs recall only when
    candidates are dropped, never via the bucketing itself."""
    from bugzilla_etl_spark.plans.queries_history import (
        stream_heavy_hitters,
    )

    exact = [
        (r["ngram"], r["cnt"])
        for r in stream_heavy_hitters(spark, sf_dir).collect()
    ]
    tiny = [
        (r["ngram"], r["cnt"])
        for r in stream_heavy_hitters(
            spark, sf_dir, keyspace_bits=2, n_candidates=4
        ).collect()
    ]
    assert tiny == exact


def test_backfill_resume_skips_landed_blocks(spark, sf_dir, tmp_path):
    """Crash between blocks: run 1 lands 2 of 5 descending blocks and
    dies; run 2 must resume at the reference's ceiling rule —
    re-process the boundary block and everything below, NOT the
    blocks already landed — and the final store must equal the
    one-shot build."""
    from bugzilla_etl_spark.operators.backfill import (
        read_store,
        run_backfill,
    )
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0] + 1
    inc = -(-end // 5)
    store = str(tmp_path / "store")
    r1 = run_backfill(
        spark, ev, store, inc, build_full_docs, crash_after=2
    )
    assert len(r1) == 2
    r2 = run_backfill(spark, ev, store, inc, build_full_docs)
    # ceiling rule: the 2 landed stay; the boundary block (lowest
    # landed) is NOT re-run because it committed whole — resume_end
    # = ceiling(its min id) = its own lo + inc covers exactly the
    # remaining 3 blocks
    assert len(r2) == 3
    assert {b[0] for b in r1}.isdisjoint({b[0] for b in r2})
    got = read_store(spark, store).drop("block")
    want = build_full_docs(ev)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_backfill_any_crash_point_converges(spark, sf_dir, tmp_path):
    """Crash-point sweep: dying after ANY number of landed blocks
    (1..4 of 5) and resuming must converge to the one-shot build —
    the resume rule cannot depend on which block the walk died in."""
    from bugzilla_etl_spark.operators.backfill import (
        read_store,
        run_backfill,
    )
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0] + 1
    inc = -(-end // 5)
    want = sorted(map(tuple, build_full_docs(ev).collect()))
    for crash_after in (1, 3, 4):
        store = str(tmp_path / f"store_{crash_after}")
        r1 = run_backfill(
            spark, ev, store, inc, build_full_docs,
            crash_after=crash_after,
        )
        assert len(r1) == crash_after
        r2 = run_backfill(spark, ev, store, inc, build_full_docs)
        assert len(r1) + len(r2) == 5
        got = sorted(
            map(tuple, read_store(spark, store).drop("block").collect())
        )
        assert got == want, crash_after


def test_backfill_clustered_layout_prunes_to_one_dir(
    spark, sf_dir, tmp_path
):
    """With the entity-clustered landing, a block read touches ONLY
    its partition directory (path-level pruning — the PK-index
    analogue), and the clustered backfill lands the identical doc
    set as the filter-scan form."""
    from bugzilla_etl_spark.operators.backfill import (
        land_clustered,
        read_block,
        read_store,
        run_backfill,
    )
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0] + 1
    inc = -(-end // 5)
    clustered = str(tmp_path / "events_clustered")
    land_clustered(ev, clustered, inc)

    blk = read_block(spark, clustered, inc)  # second block
    files = blk.inputFiles()
    assert files, "block dir must have files"
    assert all(f"entity_block={inc}" in f for f in files), files

    store = str(tmp_path / "store")
    run_backfill(
        spark, ev, store, inc, build_full_docs,
        clustered_dir=clustered, crash_after=2,
    )
    run_backfill(
        spark, ev, store, inc, build_full_docs,
        clustered_dir=clustered,
    )
    got = sorted(
        map(tuple, read_store(spark, store).drop("block").collect())
    )
    want = sorted(map(tuple, build_full_docs(ev).collect()))
    assert got == want


def test_backfill_recovers_midblock_crash(spark, sf_dir, tmp_path):
    """Crash MID-block: a block dir without _SUCCESS is an
    uncommitted landing — resume must treat it as never landed,
    re-process it (mode=overwrite clears the partial files), and
    converge to the one-shot build."""
    import os

    from bugzilla_etl_spark.operators.backfill import (
        landed_block_dirs,
        read_store,
        run_backfill,
    )
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0] + 1
    inc = -(-end // 5)
    store = str(tmp_path / "store")
    r1 = run_backfill(
        spark, ev, store, inc, build_full_docs, crash_after=2
    )
    # simulate the interrupted third block: partial files, no marker
    next_lo = r1[-1][0] - inc
    partial = f"{store}/block={max(next_lo, 0)}"
    os.makedirs(partial)
    with open(f"{partial}/part-00000.parquet.tmp", "w") as f:
        f.write("partial")
    assert partial not in landed_block_dirs(store)
    r2 = run_backfill(spark, ev, store, inc, build_full_docs)
    assert max(next_lo, 0) in {b[0] for b in r2}
    got = read_store(spark, store).drop("block")
    want = build_full_docs(ev)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_backfill_block_predicate_pushes_to_every_scan(spark, sf_dir):
    """A block's id-range predicate must reach the parquet scan as
    PushedFilters in EVERY branch of the doc build (the spine,
    flags, attachments, and alias branches each scan events) — at
    100 TB with an entity-clustered layout this is what turns a
    block into a pruned range read instead of 5 full scans per
    block."""
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    block = ev.where((F.col("user_id") >= 3) & (F.col("user_id") < 6))
    plan = _plan(build_full_docs(block))
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert pushed, plan
    for ln in pushed:
        assert "GreaterThanOrEqual(user_id,3)" in ln, ln
        assert "LessThan(user_id,6)" in ln, ln


def test_dual_cutover_crash_windows_serve_old_pair(spark, sf_dir, tmp_path):
    """run_both_etl semantics: a crash between the bugs write and
    the comments write, or after both writes but before the swap,
    must leave the alias serving run 1 for BOTH pipelines — never
    run-2 bugs beside run-1 comments.  After the completed re-run
    the alias serves the run-2 pair and run-1 indexes are retired."""
    import os

    from bugzilla_etl_spark.plans.queries_etl import (
        _dual_frames,
        _get_dual_alias,
        dual_cutover_run,
    )
    from bugzilla_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    base = str(tmp_path)
    b1, c1 = _dual_frames(ev, docs, 1)
    dual_cutover_run(base, b1, c1, 1)
    assert _get_dual_alias(base) == {
        "bugs": "bugs_run1", "comments": "comments_run1",
    }
    b2, c2 = _dual_frames(ev, docs, 2)
    # crash window A: bugs_run2 written, comments not started
    dual_cutover_run(base, b2, c2, 2, crash_before="comments_write")
    assert _get_dual_alias(base)["bugs"] == "bugs_run1"
    # crash window B: both written, swap not reached
    dual_cutover_run(base, b2, c2, 2, crash_before="swap")
    a = _get_dual_alias(base)
    assert a == {"bugs": "bugs_run1", "comments": "comments_run1"}
    # both complete -> single atomic flip + old pair retired
    dual_cutover_run(base, b2, c2, 2)
    a = _get_dual_alias(base)
    assert a == {"bugs": "bugs_run2", "comments": "comments_run2"}
    assert not os.path.isdir(os.path.join(base, "bugs_run1"))
    assert not os.path.isdir(os.path.join(base, "comments_run1"))
    got = spark.read.parquet(os.path.join(base, "bugs_run2"))
    assert got.where(F.col("index_run") != 2).count() == 0


def test_kmv_sketch_mode_values_match_exact_mode(spark, sf_dir):
    """The sketch-only output is column-for-column the kmv_est the
    full entry reports — the knob drops the exact side, it does not
    change the sketch."""
    full = {
        (r["source_a"], r["source_b"]): r["kmv_est"]
        for r in _q("kmv_source_overlap", spark, sf_dir).collect()
    }
    sketch = {
        (r["source_a"], r["source_b"]): r["kmv_est"]
        for r in _q(
            "kmv_source_overlap_sketch", spark, sf_dir
        ).collect()
    }
    assert sketch == full
