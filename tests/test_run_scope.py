"""One invocation scope per catalog run (``catalog.run``).

A run applies the conf its query declared at registration, and when
it ends — error included — restores that conf and any conf set inside
it (an unset key is unset again), releases the caches and scratch
dirs made inside it and drops its memory-sink views.  A bare
``QUERIES[name]`` call, the way ``__spark_entry__.queries()`` hands
queries out, applies no declared conf; what it makes or sets outside
any run stays until ``tmpdirs.gc_now()``.  ``tmpdirs.pin`` caches are shared within one
invocation and never across two.
"""

from __future__ import annotations

import os

import pytest

from bugzilla_etl_spark import tmpdirs
from bugzilla_etl_spark.plans import catalog
from tools.streambench import STREAMING

KEY = catalog.PARALLELISM_FIRST


@pytest.fixture(scope="module", autouse=True)
def _catalog():
    catalog.load_all()


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of RDDs with materialized cached blocks (storage view).

    Earlier tests can leave ``localCheckpoint`` blocks alive that the
    registry never owned, so callers assert only on ids that appear
    after a snapshot taken at the start of their own body."""
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _set(spark, key: str, value: str | None) -> None:
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)


@pytest.mark.parametrize("prior", [None, "true"])
def test_run_applies_and_restores_declared_conf(spark, sf_dir, prior):
    _set(spark, KEY, prior)
    try:
        with catalog.run("bug_version_full", spark, sf_dir) as run:
            assert spark.conf.get(KEY) == "false"
            assert run.frame is not None
        assert spark.conf.get(KEY, None) == prior
        assert (KEY in spark.conf.getAll) == (prior is not None)
    finally:
        spark.conf.unset(KEY)


@pytest.mark.parametrize("prior", [None, "true"])
def test_run_restores_conf_when_the_body_raises(spark, sf_dir, prior):
    _set(spark, KEY, prior)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with catalog.run("bug_version_full", spark, sf_dir):
                assert spark.conf.get(KEY) == "false"
                raise RuntimeError("boom")
        assert spark.conf.get(KEY, None) == prior
        assert (KEY in spark.conf.getAll) == (prior is not None)
    finally:
        spark.conf.unset(KEY)


def test_bare_call_leaves_session_conf_unchanged(spark, sf_dir):
    spark.conf.unset(KEY)
    catalog.QUERIES["bug_version_full"](spark, sf_dir).count()
    assert spark.conf.get(KEY, None) is None
    tmpdirs.gc_now()
    assert spark.conf.get(KEY, None) is None


def test_run_releases_what_it_made_and_only_that(spark, sf_dir):
    tmpdirs.gc_now()
    outside_dir = tmpdirs.tracked_mkdtemp("bes_scope_out_")
    ids = _cached_rdd_ids(spark)
    outside = tmpdirs.pin(spark.range(300))
    outside.count()
    outside_ids = _cached_rdd_ids(spark) - ids
    assert len(outside_ids) == 1

    with catalog.run("tpch_q1", spark, sf_dir):
        inside_dir = tmpdirs.tracked_mkdtemp("bes_scope_in_")
        ids = _cached_rdd_ids(spark)
        inside = tmpdirs.pin(spark.range(500))
        inside.count()
        inside_ids = _cached_rdd_ids(spark) - ids
        assert len(inside_ids) == 1
        assert tmpdirs.registered() == [inside_dir]
    assert not os.path.isdir(inside_dir)
    assert not inside_ids & _cached_rdd_ids(spark)
    # made outside any run: the process scope still holds them
    assert os.path.isdir(outside_dir)
    assert outside_ids <= _cached_rdd_ids(spark)

    assert tmpdirs.gc_now() == 1
    assert not os.path.isdir(outside_dir)
    assert not outside_ids & _cached_rdd_ids(spark)


def test_operators_record_into_the_innermost_run(spark):
    with tmpdirs.scope("outer") as outer:
        tmpdirs.add_split("a", 1.0)
        with tmpdirs.scope("inner") as inner:
            tmpdirs.add_split("a", 0.25)
            tmpdirs.add_split("a", 0.25)
        tmpdirs.add_split("n", 1)
    assert inner.stats == {"split": {"a": 0.5}}
    assert outer.stats == {"split": {"a": 1.0, "n": 1}}
    assert tmpdirs.current().name == "process"


def _snap_views(spark) -> list[str]:
    return [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("stream_snap_")
    ]


def test_memory_sink_view_dropped_when_run_ends(spark, sf_dir):
    tmpdirs.gc_now()
    assert not _snap_views(spark)
    with catalog.run("stream_snapshot", spark, sf_dir) as run:
        assert run.frame.count() > 0
        assert len(_snap_views(spark)) == 1
    assert not _snap_views(spark)


@pytest.mark.parametrize("name", STREAMING)
def test_every_stream_records_progress(spark, sf_dir, name):
    """Every streaming entry drains through ``landing.drain``, so its
    run's stats carry the progress summary of a finished query."""
    with catalog.run(name, spark, sf_dir) as run:
        pass
    assert run.stats["progress"]["batches"] >= 1


@pytest.mark.parametrize("new_session", [False, True])
def test_drain_restores_partitions_and_dirs_when_the_batch_raises(
    spark, tmp_path, new_session
):
    """A failing stream still restores the state-partition pin on the
    session it ran on, leaves every other session's value alone, still
    leaves its dirs to the scope, and re-raises."""
    from bugzilla_etl_spark.streaming.landing import drain, landed_stream

    key = "spark.sql.shuffle.partitions"
    src = str(tmp_path / "src")
    spark.range(3).coalesce(1).write.parquet(src)
    session = spark
    if new_session:
        session = spark.newSession()
        session.conf.set(key, "3")
    before = {s: s.conf.get(key) for s in (spark, session)}
    assert "2" not in before.values()
    seen = []

    def boom(batch, batch_id):
        seen.append((batch.sparkSession.conf.get(key), spark.conf.get(key)))
        raise RuntimeError("batch function failed")

    made = []
    with pytest.raises(Exception, match="batch function failed"):
        with tmpdirs.scope("raises"):
            try:
                drain(
                    session,
                    landed_stream(session, src, "id long")
                    .writeStream.foreachBatch(boom)
                    .option(
                        "checkpointLocation",
                        tmpdirs.tracked_mkdtemp(prefix="bes_raisesck_"),
                    ),
                    state_partitions=2,
                )
            finally:
                made = tmpdirs.registered()
    assert seen == [("2", before[spark] if new_session else "2")]
    assert {s: s.conf.get(key) for s in before} == before
    assert made and not any(os.path.exists(d) for d in made)


def test_run_restores_the_confs_load_table_sets(spark, sf_dir):
    """load_table pins the session time zone to UTC and reads the
    events parquet's TIMESTAMP(NANOS) through nanosAsLong; both hold
    for the run only, on a session whose prior time zone is not UTC
    and where nanosAsLong was never set."""
    keys = (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
    )
    session = spark.newSession()
    session.conf.set(keys[0], "America/New_York")
    before = {k: session.conf.get(k, None) for k in keys}
    assert before[keys[1]] is None
    for name in ("events_sessionize", "stream_hll"):
        with catalog.run(name, session, sf_dir) as run:
            assert run.frame.count() > 0
            assert session.conf.get(keys[0]) == "UTC"
        assert {k: session.conf.get(k, None) for k in keys} == before, name


def test_pin_fresh_cache_per_invocation(spark):
    """Two pins of the SAME deterministic plan materialize two
    distinct cache entries: the second invocation cannot read the
    first's (the nonce defeats CacheManager structural matching), and
    gc_now releases both."""
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
