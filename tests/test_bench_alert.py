"""tools/bench_alert.py against the committed same-host baseline lanes,
and bench.py's output contract."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import bench_alert as BA  # noqa: E402


def _lane(tmp_path, name, base, scale=None):
    """A lane equal to `base` except the queries in `scale`, which are
    multiplied by their factor."""
    lane = json.loads(json.dumps(base))
    for q, f in (scale or {}).items():
        lane["queries"][q] = round(lane["queries"][q] * f, 3)
    p = tmp_path / name
    p.write_text(json.dumps(lane))
    return str(p)


def _smallest(base):
    return min(base["queries"], key=base["queries"].get)


def test_full_coverage_at_the_baseline_is_clean(tmp_path):
    bp = _lane(tmp_path, "bench.json", BA.baseline("bench"))
    sp = _lane(tmp_path, "stream.json", BA.baseline("streambench"))
    report = BA.check(bp, sp)
    assert report["ok"], (report["alerts"], report["missing"])
    assert not report["unpinned"] and not report["missing"]
    assert report["max_ratio"][1] == pytest.approx(1.0)


def test_partial_coverage_fails_closed(tmp_path):
    base = BA.baseline("bench")
    lane = {**base, "queries": {"tpch_q1": base["queries"]["tpch_q1"]}}
    p = tmp_path / "bench.json"
    p.write_text(json.dumps(lane))
    report = BA.check(str(p))
    assert not report["ok"]
    assert len(report["missing"]) == len(base["queries"]) - 1
    assert not report["alerts"]


def test_batch_2x_crossing_alerts(tmp_path):
    base = BA.baseline("bench")
    q = _smallest(base)
    report = BA.check(_lane(tmp_path, "bench.json", base, {q: 3.0}))
    assert not report["ok"]
    assert [a["query"] for a in report["alerts"]] == [q]


def test_streaming_2x_crossing_alerts(tmp_path):
    sbase = BA.baseline("streambench")
    q = _smallest(sbase)
    bp = _lane(tmp_path, "bench.json", BA.baseline("bench"))
    sp = _lane(tmp_path, "stream.json", sbase, {q: 3.0})
    report = BA.check(bp, sp)
    assert not report["ok"]
    assert [a["query"] for a in report["alerts"]] == [q]


def test_batch_total_1p5x_crossing_alerts(tmp_path):
    """Every query 1.6x slower: no per-query crossing, but the total
    crosses 1.5x."""
    base = BA.baseline("bench")
    slow = {q: 1.6 for q in base["queries"]}
    report = BA.check(_lane(tmp_path, "bench.json", base, slow))
    assert not report["ok"]
    assert [a["query"] for a in report["alerts"]] == ["<batch total>"]


def test_host_or_scale_mismatch_is_refused(tmp_path):
    base = BA.baseline("bench")
    for lane in (
        {**base, "host": {**base["host"], "master": "local[32]"}},
        {k: v for k, v in base.items() if k != "host"},
        {**base, "sf": 0.001},
    ):
        p = tmp_path / "bench.json"
        p.write_text(json.dumps(lane))
        with pytest.raises(SystemExit, match="no verdict"):
            BA.check(str(p))


def test_baseline_covers_exactly_the_benched_queries():
    """The baseline lanes pin every benched query and nothing else, and
    every pinned name is a catalog query."""
    import bench
    import streambench

    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    pinned = set(BA.baseline("bench")["queries"]) | set(
        BA.baseline("streambench")["queries"]
    )
    assert pinned == set(bench.HEADLINE) | set(streambench.STREAMING)
    assert pinned <= set(catalog.QUERIES)


def test_bench_prints_one_line_and_writes_nothing(
    spark, sf_dir, monkeypatch, capsys
):
    """bench.py's stdout is its only output: one JSON line, and the
    repo root's file list is unchanged by a run.  The run reuses the
    test session as is (get_spark would rewrite its shuffle
    partitions)."""
    import bench

    from bugzilla_etl_spark import session

    before = sorted(os.listdir(REPO))
    monkeypatch.setattr(bench, "HEADLINE", ["tpch_q1"])
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1
    out = json.loads(lines[0])
    assert set(out["queries"]) == {"tpch_q1"} and out["sf"] == 0.001
    assert set(out["host"]) == {"master", "spark", "shuffle_partitions"}
    assert sorted(os.listdir(REPO)) == before
