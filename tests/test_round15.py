"""Round-15 additions: bpe_encode (#188, r14 verdict task 8) and the
spans-family hash_bits parameter (r14 verdict task 5)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.plans import catalog
from tests.util import assert_same

catalog.load_all()


def test_bpe_encode_hostile_docs(spark, tmp_path):
    """Null text, empty text, whitespace-only, unicode, and a
    single-char doc all encode without error and match the oracle on
    the same parquet — the hostile-input sweep's cases, pinned as a
    unit test at the operator's own edge."""
    rows = [
        (1, "low lower low", "en"),
        (2, None, "en"),
        (3, "", "en"),
        (4, "   ", "en"),
        (5, "héllo wörld héllo", "de"),
        (6, "x", "en"),
        (7, "newest widest newest NEWEST", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = str(tmp_path / "docs")
    df.coalesce(1).write.parquet(d)
    sf_dir = str(tmp_path)
    os.rename(
        next(
            str(p) for p in (tmp_path / "docs").iterdir()
            if p.suffix == ".parquet"
        ),
        str(tmp_path / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet'"
    )
    sdf = catalog.QUERIES["bpe_encode"](spark, sf_dir)
    assert_same(sdf, con, catalog.ORACLES["bpe_encode"])
    got = {r.doc_id: r for r in sdf.collect()}
    # null / empty / whitespace-only all encode to the empty sequence
    for did in (2, 3, 4):
        assert got[did].n_terms == 0
        assert got[did].n_tokens == 0
        assert got[did].token_ids == ""
    # a doc's token count is the sum of its terms' symbol counts
    assert got[6].n_terms == 1 and got[6].n_tokens >= 1
    assert len(got[1].token_ids.split(" ")) == got[1].n_tokens
    con.close()


def test_bpe_encode_consistent_with_bpe_apply(spark, sf_dir):
    """Cross-operator invariant: total corpus tokens under the
    learned tokenizer == Σ over the vocab of f · n_sym (bpe_apply's
    output) — the encode pass and the training loop must agree on
    every term's segmentation."""
    enc = catalog.QUERIES["bpe_encode"](spark, sf_dir)
    app = catalog.QUERIES["bpe_apply"](spark, sf_dir)
    total_enc = enc.agg(F.sum("n_tokens")).first()[0]
    total_app = app.agg(F.sum(F.col("f") * F.col("n_sym"))).first()[0]
    assert total_enc == total_app


def test_bpe_encode_corpus_pass_is_broadcast_map(spark, sf_dir):
    """Plan shape: the corpus-side encode is a broadcast of the
    ONE-ROW tokenizer map (BroadcastNestedLoopJoin — the documented
    bounded-broadcast exception), never a CartesianProduct, and the
    documents scan reads only (doc_id, text)."""
    import contextlib
    import io

    sdf = catalog.QUERIES["bpe_encode"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sdf.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    scan = next(
        seg for seg in plan.split("\n\n")
        if "documents.parquet" in seg and "ReadSchema" in seg
    )
    assert "lang" not in scan, scan


# --- spans-family hash_bits={60,128} (r14 verdict task 5) ---------


@pytest.mark.parametrize("hash_bits", [60, 128])
def test_dedup_spans_both_hash_widths(spark, duck, sf_dir, hash_bits):
    """#182 oracle-green at BOTH gram-hash widths: 60-bit truncated
    md5 (8-byte shuffle keys; collisions fabricate identical dups on
    both engines) and the full 128-bit md5 (collision-free past 1e9
    distinct grams)."""
    from bugzilla_etl_spark.plans.queries_dedup import (
        dedup_spans,
        dedup_spans_oracle,
    )

    sdf = dedup_spans(spark, sf_dir, hash_bits=hash_bits)
    assert_same(sdf, duck, dedup_spans_oracle(hash_bits))


@pytest.mark.parametrize("hash_bits", [60, 128])
def test_dedup_spans_apply_both_hash_widths(spark, duck, sf_dir, hash_bits):
    from bugzilla_etl_spark.plans.queries_dedup import (
        dedup_spans_apply,
        dedup_spans_apply_oracle,
    )

    sdf = dedup_spans_apply(spark, sf_dir, hash_bits=hash_bits)
    assert_same(sdf, duck, dedup_spans_apply_oracle(hash_bits))


@pytest.mark.parametrize("hash_bits", [60, 128])
def test_stream_dedup_spans_both_hash_widths(
    spark, duck, sf_dir, hash_bits
):
    """#186 at both widths, through the bucketed-index path so the
    128-bit setting exercises index build AND co-located probe."""
    from bugzilla_etl_spark.plans.queries_history import (
        stream_dedup_spans,
        stream_dedup_spans_oracle,
    )

    sdf = stream_dedup_spans(
        spark, sf_dir, index_mode="bucketed", hash_bits=hash_bits
    )
    assert_same(sdf, duck, stream_dedup_spans_oracle(hash_bits))


def test_gram_stream_128_shuffles_fixed_width_hash_not_gram_text(
    spark, sf_dir
):
    """Plan check (r14 verdict task 5's 'still shuffles fixed-width
    keys'): at hash_bits=128 the gram stream's schema is still
    exactly (doc_id, pos, gh) with gh the FIXED 32-hex md5 — the
    duplicate-detection exchange hash-partitions on gh and the plan
    references no gram-text column; the k*word-length gram never
    crosses the wire at either width."""
    import re

    from bugzilla_etl_spark.operators.dedup import (
        exact_substring_spans,
        gram_positions,
    )
    from bugzilla_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    occ = gram_positions(docs, hash_bits=128)
    assert occ.columns == ["doc_id", "pos", "gh"]
    assert dict(occ.dtypes)["gh"] == "string"
    lens = occ.select(F.length("gh").alias("n")).agg(
        F.min("n"), F.max("n")
    ).first()
    assert (lens[0], lens[1]) == (32, 32)  # fixed-width md5 hex

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        exact_substring_spans(docs, hash_bits=128).explain("formatted")
    plan = buf.getvalue()
    # every corpus-grain exchange partitions on the hash (gh) or the
    # doc-bounded window key (doc_id) — never a gram-text expression
    parts = re.findall(r"hashpartitioning\(([a-zA-Z_]+)", plan)
    assert parts, plan
    assert set(parts) <= {"gh", "doc_id"}, plan


def test_gram_positions_rejects_unknown_width():
    from bugzilla_etl_spark.operators.dedup import gram_positions

    with pytest.raises(ValueError, match="hash_bits"):
        gram_positions(None, hash_bits=64)


# --- stream_bpe_encode (#189): the tokenize family's ingest twin --


def test_stream_bpe_encode_matches_batch_oracle(spark, duck, sf_dir):
    """Streaming == batch: two real micro-batches encoded with the
    FROZEN reference-corpus tokenizer must hash-match the pure batch
    SQL over the same halves."""
    from tests.util import assert_same as same

    sdf = catalog.QUERIES["stream_bpe_encode"](spark, sf_dir)
    same(sdf, duck, catalog.ORACLES["stream_bpe_encode"])


def test_stream_bpe_encode_unk_policy_fires(spark, tmp_path):
    """The OOV policy EXERCISED, not just written (the sf corpora
    share one vocabulary across halves, so they never produce OOV):
    a purpose-built corpus plants terms in the odd (incoming) half
    that the even (reference) half never saw — those terms must
    encode to the unk id 0, and the oracle must agree.  bpe_encode's
    dense ranks start at 1, so any 0 proves the LEFT-lookup ran."""
    rows = [
        (0, "lowest newest lowest widest", "en"),
        (2, "newest widest lowest", "en"),
        (1, "lowest zebrafish newest", "en"),     # zebrafish: OOV
        (3, None, "en"),                          # null text batch row
        (5, "quux zebrafish", "en"),              # fully OOV doc
        (7, "widest lowest", "en"),               # fully in-vocab
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df.coalesce(1).write.parquet(str(tmp_path / "docs"))
    src = next(
        str(p) for p in (tmp_path / "docs").iterdir()
        if p.suffix == ".parquet"
    )
    os.rename(src, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM"
        f" '{tmp_path}/documents.parquet'"
    )
    out = catalog.QUERIES["stream_bpe_encode"](spark, str(tmp_path))
    assert_same(out, con, catalog.ORACLES["stream_bpe_encode"])
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 3, 5, 7}  # incoming half only
    assert "0" in got[1].token_ids.split(" ")
    assert set(got[5].token_ids.split(" ")) == {"0"}
    assert "0" not in got[7].token_ids.split(" ")
    assert got[3].n_terms == 0 and got[3].token_ids == ""
    con.close()


def test_seq_packing_ids_invariants(spark, sf_dir):
    """The materializer agrees with its two parents: (1) total packed
    tokens == bpe_encode's corpus token total (nothing dropped or
    duplicated by the explode/regroup); (2) every sequence is exactly
    256 tokens except at most ONE tail per source; (3) each ids
    payload length equals its seq_len."""
    spi = catalog.QUERIES["seq_packing_ids"](spark, sf_dir)
    spi = spi.persist()
    try:
        total_packed = spi.agg(F.sum("seq_len")).first()[0]
        total_enc = (
            catalog.QUERIES["bpe_encode"](spark, sf_dir)
            .agg(F.sum("n_tokens"))
            .first()[0]
        )
        assert total_packed == total_enc
        shorts = spi.where(F.col("seq_len") != 256)
        per_src = {
            r.source: r.n
            for r in shorts.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert all(n == 1 for n in per_src.values()), per_src
        bad = spi.where(
            F.size(F.split("ids", " ")) != F.col("seq_len")
        ).count()
        assert bad == 0
    finally:
        spi.unpersist()


def test_stream_bug_versions_fine_split_decomposition(spark, sf_dir):
    """The fine_split diagnosis mode (r14 verdict task 3) must stay
    exercised, not just shipped: fs_hist_read/fs_build/fs_write are
    present and positive, fs_write equals rebuild_write by
    construction (the decomposition convention LAST_SPLIT documents
    — consumers summing phases exclude fs_*), and no cached frames
    leak after the run."""
    from bugzilla_etl_spark.plans.queries_history import (
        stream_bug_versions,
    )
    from bugzilla_etl_spark.streaming.incremental_versions import (
        LAST_SPLIT,
    )

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    stream_bug_versions(spark, sf_dir, fine_split=True).collect()
    split = dict(LAST_SPLIT)
    assert {"fs_hist_read", "fs_build", "fs_write"} <= set(split)
    assert split["fs_hist_read"] > 0 and split["fs_build"] > 0
    assert split["fs_write"] == split["rebuild_write"]
    # fs_prev_read appears only for batches with an existing store
    # (batch 1 has none); with 3 batches it must have shown up
    assert split["n_batches"] == 3 and "fs_prev_read" in split
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    leaked = after - before
    assert not leaked, f"fine_split leaked caches: {leaked}"


def test_bpe_encode_docs_per_batch_plan_is_exchange_free(spark):
    """The ingest twin's per-batch contract, plan-asserted: given a
    prebuilt tokenizer map (what each micro-batch receives — the
    frozen persisted artifact), bpe_encode_docs plans ZERO exchanges
    — a pure broadcast + codegen projection, so per-batch cost can
    never grow a shuffle as batches scale."""
    import contextlib
    import io

    from bugzilla_etl_spark.plans.queries_text import bpe_encode_docs

    docs = spark.createDataFrame(
        [(1, "low lower"), (2, None)], "doc_id long, text string"
    )
    tok_map = spark.createDataFrame(
        [({"low": [1], "lower": [2, 3]},)],
        "_m map<string, array<bigint>>",
    )
    out = bpe_encode_docs(docs, tok_map, unk=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re

    assert not re.findall(r"\(\d+\) Exchange", plan), plan
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].token_ids == "1 2 3"
    assert rows[2].n_terms == 0 and rows[2].token_ids == ""


# --- bench-alert host-noise calibration (r14 verdict task 2) ------


def _ba():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_alert as BA

    return BA


def test_host_factor_median_and_clamps():
    BA = _ba()
    # quiet host: ratios ~1.0 -> factor clamps at the 1.0 floor
    quiet = {q: ref for q, ref in BA.CALIBRATION.items()}
    hf, detail = BA.host_factor(quiet)
    assert hf == 1.0 and detail["median_raw"] == 1.0
    # fast host must NOT tighten (floor 1.0: can't hide regressions)
    fast = {q: ref * 0.5 for q, ref in BA.CALIBRATION.items()}
    assert BA.host_factor(fast)[0] == 1.0
    # 1.5x ambient tax -> factor 1.5
    slow = {q: ref * 1.5 for q, ref in BA.CALIBRATION.items()}
    hf, detail = BA.host_factor(slow)
    assert hf == pytest.approx(1.5) and detail["median_raw"] == 1.5
    # pathological: ceiling at 3.0
    dead = {q: ref * 10 for q, ref in BA.CALIBRATION.items()}
    assert BA.host_factor(dead)[0] == 3.0
    # fewer than 3 members -> uncalibrated, labeled
    hf, detail = BA.host_factor({"quality_repetition": 0.83})
    assert hf == 1.0 and "note" in detail


def test_calibrated_gate_forgives_ambient_tax_not_regressions(tmp_path):
    """A 1.5x-slow host pushing a pinned query past 2x raw must NOT
    alert once calibrated (the r14 driver-lane scenario, with the
    synthetic probe CORROBORATING the slowdown); the same
    measurement on a quiet host (calibration queries at reference)
    MUST still alert — ambient tax forgiven, real regressions not."""
    import json

    BA = _ba()
    pin = BA.parse_pins()["tpch_q1"]
    taxed = {q: ref * 1.5 for q, ref in BA.CALIBRATION.items()}
    taxed["tpch_q1"] = pin * 2.2  # >2x raw, ~1.47x calibrated
    p = tmp_path / "BENCH_r98.json"
    p.write_text(json.dumps({"queries": taxed}))
    report = BA.check(str(p), None, synth=1.5)  # probe agrees: host
    assert report["host_factor"] == pytest.approx(1.5)
    assert not any(
        a["query"] == "tpch_q1" for a in report["alerts"]
    ), report["alerts"]

    quiet = {q: ref for q, ref in BA.CALIBRATION.items()}
    quiet["tpch_q1"] = pin * 2.2  # same raw wall, quiet host
    p2 = tmp_path / "BENCH_r99.json"
    p2.write_text(json.dumps({"queries": quiet}))
    report2 = BA.check(str(p2), None)
    assert report2["host_factor"] == 1.0
    assert any(a["query"] == "tpch_q1" for a in report2["alerts"])


def test_uncorroborated_host_factor_is_capped(tmp_path):
    """The r15 review's blind spot, closed: calibration members are
    PRODUCT queries, so a uniform 2x code regression reads as a 2.0
    median — but the repo-independent synthetic probe still reads
    ~1.0, the factor caps at probe x headroom, and the 2.2x-pin
    query ALERTS instead of being divided back under its pin."""
    import json

    BA = _ba()
    pin = BA.parse_pins()["tpch_q1"]
    slid = {q: ref * 2.0 for q, ref in BA.CALIBRATION.items()}
    # 2.7x pin: divided by the UNCAPPED 2.0 median it would read
    # 1.35x (silently forgiven); at the capped 1.3 it reads 2.08x
    # and crosses
    slid["tpch_q1"] = pin * 2.7
    p = tmp_path / "BENCH_r97.json"
    p.write_text(json.dumps({"queries": slid}))
    report = BA.check(str(p), None, synth=1.0)  # probe: host is fine
    assert report["synthetic_factor"] == 1.0
    assert report["host_factor"] == pytest.approx(BA.SYNTH_HEADROOM)
    assert "UNCORROBORATED" in report["calibration"]["note"]
    assert any(a["query"] == "tpch_q1" for a in report["alerts"])
    assert not report["ok"]


def test_stale_artifact_keeps_median_without_probe(tmp_path):
    """Corroboration requires a FRESH artifact: host state is
    transient, so probing the current host says nothing about a lane
    measured hours ago — a stale taxed artifact keeps its median
    (no false alerts from capping) and the report says why.  synth
    stays None: the stale path must return WITHOUT running a probe
    (this test would hang on a Spark session otherwise)."""
    import json
    import os
    import time

    BA = _ba()
    taxed = {q: ref * 2.0 for q, ref in BA.CALIBRATION.items()}
    p = tmp_path / "BENCH_r96.json"
    p.write_text(json.dumps({"queries": taxed}))
    old = time.time() - BA.CORROBORATE_MAX_AGE_S - 60
    os.utime(p, (old, old))
    report = BA.check(str(p), None)
    assert report["host_factor"] == pytest.approx(2.0)
    assert "synthetic_factor" not in report
    assert "NOT corroborated" in report["calibration"]["note"]


def test_calibration_members_are_pinned_and_benchmarked():
    """Every calibration query must be in BASELINE.md's pin table AND
    in bench.py's HEADLINE list — a renamed/dropped member would
    silently shrink the median's sample."""
    import bench

    BA = _ba()
    pins = BA.parse_pins()
    for q in BA.CALIBRATION:
        assert q in pins, q
        assert q in bench.HEADLINE, q
