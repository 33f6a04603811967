"""Round-17 contracts: invocation-scoped caching is honestly cold.

The r16 verdict found seven benched queries whose deterministic
persisted plans were silently plan-matched by Spark's CacheManager
across invocations — the bench's untimed warm-up run materialized the
cache and every timed run read it instead of computing from parquet.
The fix is the nonce'd ``tmpdirs.pin`` helper; these tests prove the
semantics: within one invocation the pin is shared, across
invocations each run builds (and materializes) its OWN cache entry,
and the cleanup registry releases everything.
"""

from __future__ import annotations

import pytest


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of RDDs with materialized cached blocks (storage view).

    Earlier tests can leave ``localCheckpoint`` blocks alive that the
    registry never owned, so callers assert only on ids that appear
    after a snapshot taken at the start of their own body."""
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_pin_fresh_cache_per_invocation(spark):
    """Two pins of the SAME deterministic plan materialize two
    distinct cache entries: the second invocation cannot read the
    first's (the nonce defeats CacheManager structural matching), and
    gc_now releases both."""
    from bugzilla_etl_spark import tmpdirs

    tmpdirs.gc_now()
    before = _cached_rdd_ids(spark)
    base = spark.range(1000).selectExpr("id", "id * 2 AS v")

    p1 = tmpdirs.pin(base)
    assert p1.columns == ["id", "v"]  # nonce never leaks into schema
    assert p1.count() == 1000
    ids1 = _cached_rdd_ids(spark) - before
    assert len(ids1) == 1, "first pin did not materialize one cache entry"

    p2 = tmpdirs.pin(base)
    assert p2.count() == 1000
    ids2 = _cached_rdd_ids(spark) - before
    assert len(ids2 - ids1) == 1, (
        "second invocation's pin plan-matched the first invocation's "
        "cache instead of materializing its own"
    )

    tmpdirs.gc_now()
    assert not _cached_rdd_ids(spark) - before, "registry gc left cached blocks"


def test_pin_shared_within_invocation(spark):
    """Within one invocation, multiple consumers of one pin share ONE
    materialization (the reason the pins exist at all)."""
    from bugzilla_etl_spark import tmpdirs

    tmpdirs.gc_now()
    before = _cached_rdd_ids(spark)
    p = tmpdirs.pin(spark.range(500).selectExpr("id", "id % 7 AS k"))
    a = p.groupBy("k").count()
    b = p.agg({"id": "sum"})
    a.collect()
    b.collect()
    assert len(_cached_rdd_ids(spark) - before) == 1
    tmpdirs.gc_now()
    assert not _cached_rdd_ids(spark) - before


def test_pin_keeps_a_user_column_named_like_the_nonce(spark):
    """The nonce column cannot collide with a caller's column: a frame
    that already has ``_pin_nonce`` keeps it, values intact."""
    from bugzilla_etl_spark import tmpdirs

    base = spark.range(5).selectExpr("id", "concat('n', id) AS _pin_nonce")
    p = tmpdirs.pin(base)
    assert p.columns == ["id", "_pin_nonce"]
    assert sorted(tuple(r) for r in p.collect()) == [
        (i, f"n{i}") for i in range(5)
    ]
    tmpdirs.gc_now()


@pytest.mark.parametrize(
    "name",
    [
        "dsir_weights",
        "bm25_topk",
        "previous_values_paned",
        "profile_table_hll",
        "dedup_spans",
        "bug_version_full",
        "ngram_novelty",
        "winnow_pairs",
    ],
)
def test_repeat_invocation_computes_cold(spark, sf_dir, name):
    """The r16-contaminated queries (and the bare-persist ones the
    audit added): a second invocation materializes NEW cache entries
    — it never silently reads the first invocation's InMemoryRelation
    — and the registry releases everything after."""
    from bugzilla_etl_spark import tmpdirs
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    fn = catalog.QUERIES[name]

    tmpdirs.gc_now()
    before = _cached_rdd_ids(spark)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ids1 = _cached_rdd_ids(spark) - before
    assert ids1, f"{name}: no pinned cache materialized at all"

    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    ids2 = _cached_rdd_ids(spark) - before
    assert ids2 - ids1, (
        f"{name}: second invocation read the first invocation's cache "
        "(warm-up would pre-warm every timed bench run)"
    )
    tmpdirs.gc_now()
    assert not _cached_rdd_ids(spark) - before
