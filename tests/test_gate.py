"""The correctness gate's own loop: every variant, one or two queries
each on sf0.001, must come back green in the one result schema; a
wrong oracle must turn its row ``fail`` and the gate not ``ok``."""

from __future__ import annotations

import pytest

from bugzilla_etl_spark.plans import catalog
from tools import gate

SF0001 = "/root/testdata/sf0.001"

CASES = {
    "base": ["dedup_exact"],
    "empty": ["kmeans_embeddings"],
    "null": ["doc_fingerprint"],
    "unicode": ["token_count"],
    "skew": ["set_final"],
    "partitions": ["tpch_q1"],
    "order": ["stream_snapshot", "stream_previous_values"],
    "sf1": ["hll_distinct"],
}

ROWS = {
    "order": [
        "stream_snapshot@plain",
        "stream_snapshot@dense",
        "stream_previous_values@dense",
        "stream_previous_values@dense-ordered",
    ],
}


def _assert_schema(res, variant, rows):
    assert set(res) == {"variant", "src", "ok", "results"}
    assert res["variant"] == variant and res["src"] == SF0001
    assert list(res["results"]) == rows
    for rec in res["results"].values():
        assert set(rec) == {"status", "rows", "detail"}
        assert rec["status"] in {"pass", "fail", "drift", "diverged"}


@pytest.mark.parametrize("variant", list(gate.VARIANTS))
def test_gate_variant_is_green(spark, variant):
    names = CASES[variant]
    res = gate.gate(spark, variant, SF0001, names)
    _assert_schema(res, variant, ROWS.get(variant, names))
    assert res["ok"], res


def test_gate_wrong_oracle_fails_its_row(spark, monkeypatch):
    catalog.load_all()
    monkeypatch.setitem(catalog.ORACLES, "tpch_q1", "SELECT 1 AS x")
    res = gate.gate(spark, "base", SF0001, ["tpch_q1"])
    _assert_schema(res, "base", ["tpch_q1"])
    assert res["results"]["tpch_q1"]["status"] == "fail"
    assert not res["ok"]
