"""Round-16 additions: bpe_encode join mode, the persisted
tokenizer artifact, mix_apply and the sessionize-ooo timeout fix."""

from __future__ import annotations

import pytest


# --- bpe_encode map_mode={broadcast,join} (r15 verdict task 2) ----


def _join_mode_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "low lower low"),
            (2, None),
            (3, ""),
            (4, "newest low oov_term"),
        ],
        "doc_id long, text string",
    )
    term_ids = spark.createDataFrame(
        [("low", [1]), ("lower", [2, 3]), ("newest", [4])],
        "term string, ids array<bigint>",
    )
    return docs, term_ids


def test_bpe_encode_join_mode_semantics(spark):
    """Join mode reproduces the broadcast contract on hostile rows:
    empty/null docs survive with zero tokens, order is positional,
    and the unk policy maps OOV to id 0 (without unk the OOV token
    drops, matching the oracle's inner join)."""
    from bugzilla_etl_spark.plans.queries_text import bpe_encode_docs

    docs, term_ids = _join_mode_fixture(spark)
    out = {
        r.doc_id: r
        for r in bpe_encode_docs(
            docs, term_ids, unk=True, map_mode="join"
        ).collect()
    }
    assert out[1].token_ids == "1 2 3 1" and out[1].n_tokens == 4
    assert out[2].n_terms == 0 and out[2].token_ids == ""
    assert out[3].n_terms == 0 and out[3].token_ids == ""
    assert out[4].token_ids == "4 1 0"  # oov -> unk id 0
    strict = {
        r.doc_id: r
        for r in bpe_encode_docs(
            docs, term_ids, unk=False, map_mode="join"
        ).collect()
    }
    assert strict[4].token_ids == "4 1"  # oov token dropped, doc kept
    assert strict[2].token_ids == ""


def test_bpe_encode_join_mode_plan_shape(spark):
    """The large-vocab plan contract: NO broadcast of the vocab (the
    whole point — it doesn't fit), a shuffle-hash join on term,
    exactly THREE hash exchanges total (term x2 — probe and vocab
    build side — plus the doc_id regroup; the corpus pays the two
    token-grain ones), and no unpartitioned window."""
    import contextlib
    import io
    import re

    from bugzilla_etl_spark.plans.queries_text import bpe_encode_docs

    docs, term_ids = _join_mode_fixture(spark)
    out = bpe_encode_docs(docs, term_ids, unk=True, map_mode="join")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3, plan
    assert "Window" not in plan, plan


def test_bpe_encode_docs_rejects_unknown_map_mode(spark):
    from bugzilla_etl_spark.plans.queries_text import bpe_encode_docs

    docs, term_ids = _join_mode_fixture(spark)
    with pytest.raises(ValueError, match="map_mode"):
        bpe_encode_docs(docs, term_ids, map_mode="hybrid")


def test_bpe_encode_modes_agree_end_to_end(spark, sf_dir):
    """Both catalog entries — #188 (broadcast fold) and #191 (term
    join) — produce IDENTICAL rows over the real documents table:
    the mode knob changes the physical strategy, never the result."""
    from bugzilla_etl_spark.plans import catalog

    a = catalog.QUERIES["bpe_encode"](spark, sf_dir)
    b = catalog.QUERIES["bpe_encode_join"](spark, sf_dir)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bpe_encode_join_ids_array_and_carry(spark):
    """The seq_packing_ids consumer surface works in join mode too:
    ids_array returns array<bigint> and carry columns pass through."""
    from bugzilla_etl_spark.plans.queries_text import bpe_encode_docs

    docs = spark.createDataFrame(
        [(1, "low lower", "web"), (2, None, "code")],
        "doc_id long, text string, source string",
    )
    term_ids = spark.createDataFrame(
        [("low", [1]), ("lower", [2, 3])],
        "term string, ids array<bigint>",
    )
    out = {
        r.doc_id: r
        for r in bpe_encode_docs(
            docs,
            term_ids,
            carry=("source",),
            ids_array=True,
            map_mode="join",
        ).collect()
    }
    assert out[1].ids == [1, 2, 3] and out[1].source == "web"
    assert out[2].ids == [] and out[2].source == "code"


# --- persisted tokenizer artifact (r15 verdict task 3) ------------


def test_tokenizer_save_load_roundtrip(spark, tmp_path):
    """save_tokenizer → load_tokenizer is lossless: the loaded
    vocab-grain frame folds to the same one-row map and encodes
    identically to the in-memory path, in BOTH encode modes."""
    from bugzilla_etl_spark.operators.text import (
        load_tokenizer,
        save_tokenizer,
    )
    from bugzilla_etl_spark.plans.queries_text import (
        bpe_encode_docs,
        bpe_tokenizer_terms,
        fold_term_map,
    )

    docs = spark.createDataFrame(
        [(1, "low lower low"), (2, "newest widest"), (3, None)],
        "doc_id long, text string",
    )
    terms = bpe_tokenizer_terms(spark, docs)
    path = str(tmp_path / "tok")
    save_tokenizer(terms, path)
    loaded = load_tokenizer(spark, path)
    tkey = lambda rows: sorted(  # noqa: E731
        (r.term, list(r.ids)) for r in rows
    )
    assert tkey(terms.collect()) == tkey(loaded.collect()), (
        "vocab-grain artifact must round-trip bit-identically"
    )
    key = lambda df: sorted(  # noqa: E731
        tuple(r.asDict().values()) for r in df.collect()
    )
    direct = key(bpe_encode_docs(docs, fold_term_map(terms)))
    via_store_bcast = key(bpe_encode_docs(docs, fold_term_map(loaded)))
    via_store_join = key(bpe_encode_docs(docs, loaded, map_mode="join"))
    assert direct == via_store_bcast == via_store_join


def test_load_tokenizer_empty_artifact_dir(spark, tmp_path):
    """An artifact dir holding an empty-vocab write still loads with
    the pinned schema and encodes every doc to the empty sequence
    (the empty-corpus contract riding through the store)."""
    from bugzilla_etl_spark.operators.text import (
        TOKENIZER_SCHEMA,
        load_tokenizer,
        save_tokenizer,
    )
    from bugzilla_etl_spark.plans.queries_text import (
        bpe_encode_docs,
        fold_term_map,
    )

    empty = spark.createDataFrame([], TOKENIZER_SCHEMA)
    path = str(tmp_path / "tok0")
    save_tokenizer(empty, path)
    loaded = load_tokenizer(spark, path)
    assert loaded.count() == 0
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out = bpe_encode_docs(docs, fold_term_map(loaded), unk=True).collect()
    assert out[0].n_tokens == 2 and out[0].token_ids == "0 0"


def test_stream_bpe_encode_serves_prebuilt_artifact(spark, sf_dir, tmp_path):
    """The production call shape: a tokenizer artifact saved BEFORE
    the stream exists is served via tokenizer_path and yields rows
    identical to the self-contained train+save path — proving the
    entry's wall time is the only thing the knob changes."""
    from bugzilla_etl_spark.operators.text import save_tokenizer
    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.plans.queries_history import stream_bpe_encode
    from bugzilla_etl_spark.plans.queries_text import bpe_tokenizer_terms
    from bugzilla_etl_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    art = str(tmp_path / "frozen")
    save_tokenizer(
        bpe_tokenizer_terms(spark, docs.where(F.col("doc_id") % 2 == 0)),
        art,
    )
    served = stream_bpe_encode(spark, sf_dir, tokenizer_path=art)
    default = catalog.QUERIES["stream_bpe_encode"](spark, sf_dir)
    assert served.columns == default.columns
    a = sorted(tuple(r.asDict().values()) for r in served.collect())
    b = sorted(tuple(r.asDict().values()) for r in default.collect())
    assert a == b


# --- mix_apply: the mixing materializer (r15 verdict task 6) ------


def test_mix_apply_invariants_vs_planned_shares(spark, sf_dir):
    """#192 executes #46's plan: per language the emitted doc mass
    must be floor(r)*n_docs plus a hash-selected remainder cohort —
    bounded by [floor(r), ceil(r)]*n_docs, within binomial noise of
    n_docs*r, with (doc_id, epoch_ordinal) unique and ordinals
    dense from 0."""
    import math

    from bugzilla_etl_spark.plans import catalog
    from pyspark.sql import functions as F

    catalog.load_all()
    plan = {
        r.lang: r.asDict()
        for r in catalog.QUERIES["mix_weights"](spark, sf_dir).collect()
    }
    out = catalog.QUERIES["mix_apply"](spark, sf_dir)
    emitted = {
        r.lang: r.asDict()
        for r in out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("docs"),
            F.max("epoch_ordinal").alias("max_ord"),
            F.min("epoch_ordinal").alias("min_ord"),
        )
        .collect()
    }
    assert out.count() == out.select("doc_id", "epoch_ordinal").distinct().count()
    for lang, p in plan.items():
        r = p["repeat_factor"]
        n_docs = p["n_docs"]
        lo, hi = math.floor(r), math.ceil(r)
        if lang not in emitted:
            assert lo == 0 and r < 1, (lang, r)
            continue
        e = emitted[lang]
        assert lo * n_docs <= e["n"] <= hi * n_docs, (lang, r, e)
        frac = r - lo
        sd = math.sqrt(n_docs * frac * (1 - frac))
        assert abs(e["n"] - n_docs * r) <= 4 * sd + 2, (lang, r, e)
        assert e["min_ord"] == 0
        assert e["max_ord"] <= hi - 1


def test_mix_apply_plan_zero_corpus_exchanges(spark, sf_dir):
    """The corpus pass is one broadcast join + an epoch explode —
    the only exchanges in the plan belong to the broadcast-size
    weight aggregation, so the corpus side plans ZERO hash
    exchanges and no window at all."""
    import contextlib
    import io
    import re

    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    out = catalog.QUERIES["mix_apply"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    # corpus side: scan -> project -> BroadcastHashJoin -> explode;
    # hash exchanges may appear only under the (vocab-size) weight
    # subtree feeding a BroadcastExchange
    assert "BroadcastHashJoin" in plan, plan
    # every Exchange must sit INSIDE a BroadcastExchange subtree
    # (the |lang|-grain weight aggregations feeding the broadcast);
    # in the indented tree a corpus-side shuffle would appear at
    # shallower indentation than the first BroadcastExchange
    tree = plan.split("(1) Scan")[0].splitlines()
    bcast_depth = min(
        line.index("BroadcastExchange")
        for line in tree
        if "BroadcastExchange" in line
    )
    for line in tree:
        if re.search(r"\bExchange \(\d+\)", line):
            assert line.index("Exchange") > bcast_depth, (line, plan)


# --- sessionize-ooo premature-close fix (found by the r16
# --- hypothesis run while touching the heartbeat drain) -----------


def test_sessionize_ooo_timeout_does_not_close_in_gap_session():
    """A mid-stream timeout (armed at the buffered-rows horizon)
    fires while the watermark still sits INSIDE the open session's
    gap window; a later in-gap event must EXTEND that session, not
    start a new one.  Pre-r16 the kernel closed the session
    unconditionally on hasTimedOut, splitting it in two."""
    import numpy as np
    import pandas as pd

    from bugzilla_etl_spark.streaming.snapshot_stream import (
        SESSION_GAP_S,
        _sessionize_state_ooo,
    )
    from tests.test_ooo_properties import FakeGroupState

    stt = FakeGroupState()

    def run(batch_rows, wm_ms, timed_out=False):
        stt.wm_ms = wm_ms
        stt.hasTimedOut = timed_out
        if timed_out:
            stt.timeout_ms = None
        pdf = pd.DataFrame(
            batch_rows, columns=["event_id", "tsl"]
        ).astype(np.int64)
        return list(
            _sessionize_state_ooo((7,), [pdf] if len(pdf) else [], stt)
        )

    # batch 0: three events at ts=0 arrive, wm=0 -> all buffered,
    # timeout armed at (0+1)*1000
    assert run([(1, 0), (2, 0), (3, 0)], 0) == []
    assert stt.timeout_ms is not None and stt.timeout_ms <= 2000
    # timeout fires at wm=2s (gap is SESSION_GAP_S >> 2s): the
    # buffered rows finalize into the OPEN session; nothing closes
    out = run([], 2000, timed_out=True)
    assert out == [] or all(len(o) == 0 for o in out)
    # the surviving session re-armed its timeout at the gap horizon
    assert stt.timeout_ms is not None
    assert stt.timeout_ms >= (SESSION_GAP_S + 1) * 1000
    # an in-gap event at ts=2 extends the same session
    assert run([(4, 2)], 2000) == []
    # stream drains: watermark passes everything
    out = run([], (SESSION_GAP_S + 10) * 1000, timed_out=True)
    rows = pd.concat(out, ignore_index=True)
    assert len(rows) == 1
    r = rows.iloc[0]
    assert (
        int(r.session_id), int(r.n_events),
        int(r.session_start), int(r.session_end),
    ) == (1, 4, 0, 2)
