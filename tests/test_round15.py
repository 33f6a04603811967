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
    """#186 at both widths, so the 128-bit setting exercises index
    build AND per-batch probe."""
    from bugzilla_etl_spark.plans.queries_history import (
        stream_dedup_spans,
        stream_dedup_spans_oracle,
    )

    sdf = stream_dedup_spans(spark, sf_dir, hash_bits=hash_bits)
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
