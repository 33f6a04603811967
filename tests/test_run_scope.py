"""One invocation scope per catalog run (``catalog.run``).

A run applies the conf its query declared at registration, and when
it ends — error included — restores that conf (an unset key is unset
again), releases the caches and scratch dirs made inside it and drops
its memory-sink views.  A bare ``QUERIES[name]`` call, the way
``__spark_entry__.queries()`` hands queries out, leaves the session
conf alone; what it makes outside any run stays until
``tmpdirs.gc_now()``.
"""

from __future__ import annotations

import os

import pytest

from bugzilla_etl_spark import tmpdirs
from bugzilla_etl_spark.plans import catalog

KEY = catalog.PARALLELISM_FIRST


@pytest.fixture(scope="module", autouse=True)
def _catalog():
    catalog.load_all()


def _cached_rdd_ids(spark) -> set[int]:
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
