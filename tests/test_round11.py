"""Round-11 hardening: the ADVICE-r10 code findings, the round-11 hostile-input
slices, the hot-key paned family, and the out-of-order streaming
pair.

1. The hist MAD entry now applies the exact form's null screen
   (observed values of attributable types) itself, so
   ``anomaly_mad_hist`` and the exact form can never diverge on n
   over a dirty corpus — and the null bin can no
   longer shift the (n+1)//2 median-bin crossing differently in
   Spark (nulls-first cumulative window) vs DuckDB (nulls_last).
2. validate_clustered_layout's markerless fallback now probes the
   actual per-dir entity span when a SparkSession is supplied,
   rejecting a COARSER layout (increment an exact multiple of the
   walk's) that the alignment-only check waved through — that
   layout would bleed rows into the wrong block's build and drop
   rows of blocks whose finer dir is missing.

Value parity vs DuckDB for both registered entries is covered by
test_catalog_oracle and the dirty-corpus sweep in test_round10; the
tests here pin the contracts a value hash on clean data would not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.plans import catalog
from tests.util import assert_oracle_slice


def _q(name, spark, sf_dir):
    catalog.load_all()
    return catalog.QUERIES[name](spark, sf_dir)


# ---------------------------------------------------------------------
# anomaly_mad: exact/hist null-contract equivalence


def test_anomaly_mad_hist_null_screen_matches_exact(spark, tmp_path):
    """On a corpus with null values AND null event types, the hist
    entry must screen the same population as the exact entry: per-type
    n identical, no null-type cohort, and the hist output identical
    to running hist on the pre-screened corpus (the null rows must
    be invisible, not merely binned somewhere stable)."""
    from tools.gate import build_dirty_dir

    dirty = str(tmp_path / "nullsf")
    (tmp_path / "nullsf").mkdir()
    build_dirty_dir("/root/testdata/sf0.001", dirty)

    catalog.load_all()
    exact = {
        r["event_type"]: r["n"]
        for r in _q("anomaly_mad", spark, dirty).collect()
    }
    hist = {
        r["event_type"]: r["n"]
        for r in _q("anomaly_mad_hist", spark, dirty).collect()
    }
    assert None not in hist, "hist entry kept a null-type cohort"
    assert hist == exact, (
        "hist and exact entries screened different populations on a "
        f"dirty corpus: {hist} vs {exact}"
    )


# ---------------------------------------------------------------------
# hostile-distribution slices: every suite pass re-proves a
# representative query set oracle-green on unicode-decorated and
# hot-key-skewed corpora (the full-catalog forms are
# ``tools/gate.py unicode`` and ``tools/gate.py skew``)


def test_unicode_hardened_representative(spark, tmp_path):
    """Text-path queries must stay value-identical to the oracle on
    multi-byte corpora: byte-vs-codepoint length units, regex word
    classes over CJK/emoji, case mapping through lower(), and hash
    inputs taken over the same normalized bytes on both engines."""
    from tools.gate import build_decorated_dir

    deco = str(tmp_path / "unisf")
    (tmp_path / "unisf").mkdir()
    build_decorated_dir("/root/testdata/sf0.001", deco)
    assert_oracle_slice(
        spark,
        deco,
        [
            "token_count",        # whitespace + BPE-ish regex over CJK
            "lang_id",            # n-gram profile on decorated text
            "text_quality",       # punct/stopword ratios, codepoints
            "html_strip",         # tag regex astride multi-byte runs
            "doc_fingerprint",    # rolling hash over codepoints
            "dedup_ngram_jaccard",  # shingle sets on decorated docs
            "heavy_hitters_ngrams",  # token split + top-k
            "pii_scrub",          # portable regex with unicode around
            "winnow_fingerprints",  # winnowing windows over k-grams
            "quality_repetition",   # Gopher rules on decorated text
        ],
    )


def test_skew_hardened_representative(spark, tmp_path):
    """Key-grouped/window queries must stay value-identical to the
    oracle when 30-50% of rows pile onto one hot key — anything that
    samples per partition, caps a per-key structure by frequency
    assumptions, or short-circuits on uniformity diverges here."""
    from tools.gate import build_skewed_dir

    deco = str(tmp_path / "skewsf")
    (tmp_path / "skewsf").mkdir()
    build_skewed_dir("/root/testdata/sf0.001", deco)
    assert_oracle_slice(
        spark,
        deco,
        [
            "events_sessionize",   # per-user window, hot user
            "previous_values",     # as-of carry on the hot key
            "set_final",           # unsalted set agg under skew
            "set_final_salted",    # the wired mitigation, same values
            "topk_per_group",      # per-group rank with a huge group
            "tpch_q13",            # custkey groupBy, hot customer
            "quota_sample",        # per-source quota, hot source
            "key_skew_stats",      # the profiler measuring itself
            "dedup_exact",         # hash groupBy under doc skew
            "stream_heavy_hitters_capped",  # capped state, hot keys
        ],
    )


# ---------------------------------------------------------------------
# moving_average_ranged: the hot-key-splittable sliding window


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_moving_average_ranged_splits_hot_key(spark, sf_dir):
    """The paned plan must window over (user_id, pane) — the hot key
    splits across panes — with NO user_id-only window partition
    anywhere (value parity with the per-user RANGE window is the
    entry's oracle check)."""
    import re

    catalog.load_all()
    paned = catalog.QUERIES["moving_average_ranged"](spark, sf_dir)
    plan = _plan(paned)
    assert re.search(r"hashpartitioning\(user_id#\d+L?, pane#", plan), (
        "window is not partitioned by (user_id, pane)"
    )
    assert not re.search(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan), (
        "a user_id-only exchange survived — the hot key would"
        " serialize one task"
    )


def test_moving_average_ranged_pane_boundary_exact(spark):
    """Rows straddling a pane boundary: a row early in pane p must
    average over the ghost rows of pane p-1 that fall inside its
    trailing window — the replication correctness the decomposition
    rests on (checked against a hand-computed frame)."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [1] * 5,
            "event_id": [1, 2, 3, 4, 5],
            # seconds: 100, 3500, 3650, 7300, 7400 — panes 0,0,1,2,2
            # (width 3600): event 3's frame reaches 50..3650 so it
            # needs BOTH pane-0 ghosts (events 1,2); event 4's
            # reaches 3700..7300 (event 4 only — 3650 just misses)
            "ts": pd.to_datetime(
                [100, 3500, 3650, 7300, 7400], unit="s", utc=True
            ).tz_localize(None),
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="bes_mar_")
    sdf = spark.createDataFrame(rows)
    sdf.repartition(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    catalog.load_all()
    out = {
        r["event_id"]: r["ma_1h"]
        for r in catalog.QUERIES["moving_average_ranged"](
            spark, d
        ).collect()
    }
    assert out == {
        1: 1.0,          # alone
        2: 1.5,          # frame -100..3500 → events 1,2
        3: 2.0,          # frame 50..3650 → events 1,2,3 (ghosts)
        4: 4.0,          # frame 3700..7300 → event 4 only
        5: 4.5,          # frame 3800..7400 → events 4,5
    }


def test_state_rollforward_paned_two_level_scan(spark, sf_dir):
    """The paned forward-fill must (a) window the CORPUS on
    (user_id, _pane) with exactly one user-only exchange — the
    post-aggregation pane-summary prefix pass — and (b) produce the
    identical carry as the classic single-partition form."""
    import re

    catalog.load_all()
    paned = catalog.QUERIES["state_rollforward_paned"](spark, sf_dir)
    plan = _plan(paned)
    assert re.search(r"hashpartitioning\(user_id#\d+L?, _pane#", plan)
    assert (
        len(re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", plan))
        == 1
    ), "expected exactly one user-only exchange (the summary prefix)"
    classic = catalog.QUERIES["state_rollforward"](spark, sf_dir)
    got = sorted(map(tuple, paned.collect()))
    want = sorted(map(tuple, classic.collect()))
    assert got == want


def test_state_rollforward_paned_prefix_crosses_empty_panes(spark):
    """A carry must survive any number of carrier-less panes: a
    purchase in pane 0 must reach a row three panes later even when
    the panes between contain only non-purchase rows (the prefix
    pass runs over pane summaries, and intermediate all-null
    summaries must not reset it)."""
    import os
    import tempfile

    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [1] * 4,
            "event_id": [1, 2, 3, 4],
            # panes (width 3600): 0, 1, 2, 3
            "ts": pd.to_datetime(
                [100, 3700, 7300, 10900], unit="s", utc=True
            ).tz_localize(None),
            "event_type": ["purchase", "view", "view", "view"],
            "value": [9.0, 1.0, 2.0, 3.0],
        }
    )
    d = tempfile.mkdtemp(prefix="bes_srp_")
    spark.createDataFrame(rows).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    catalog.load_all()
    out = {
        r["event_id"]: r["last_purchase_value"]
        for r in catalog.QUERIES["state_rollforward_paned"](
            spark, d
        ).collect()
    }
    assert out == {1: 9.0, 2: 9.0, 3: 9.0, 4: 9.0}


def test_events_sessionize_paned_splits_hot_key(spark, sf_dir):
    """The paned sessionizer must window the corpus on (user_id,
    _pane) — user-only exchanges may carry only the per-pane
    summaries — and must produce the identical session set as the
    classic lag+cumsum form."""
    import re

    catalog.load_all()
    paned = catalog.QUERIES["events_sessionize_paned"](spark, sf_dir)
    plan = _plan(paned)
    assert re.search(r"hashpartitioning\(user_id#\d+L?, _pane#", plan)
    classic = catalog.QUERIES["events_sessionize"](spark, sf_dir)
    got = sorted(map(tuple, paned.collect()))
    want = sorted(map(tuple, classic.collect()))
    assert got == want


def test_events_sessionize_paned_boundaries(spark):
    """The two decomposition hazards, hand-computed: (a) a session
    SPANNING a pane boundary must not split (gap 600 s across the
    3600 s pane line); (b) a sparse key whose previous event sits
    several panes back must still break the session on the true gap
    (prefix max over non-empty pane summaries, not just the adjacent
    pane)."""
    import os
    import tempfile

    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2],
            "event_id": [1, 2, 3, 4, 5],
            # user 1: 3300, 3900 (panes 0,1 — gap 600 ≤ 1800: SAME
            # session), then 9000 (gap 5100 > 1800: new session).
            # user 2: 100 then 14500 — THREE empty panes between;
            # gap 14400 > 1800 must still start session 2.
            "ts": pd.to_datetime(
                [3300, 3900, 9000, 100, 14500], unit="s", utc=True
            ).tz_localize(None),
        }
    )
    d = tempfile.mkdtemp(prefix="bes_esp_")
    spark.createDataFrame(rows).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    catalog.load_all()
    got = sorted(
        (r["user_id"], r["session_id"], r["n_events"],
         r["session_start"], r["session_end"])
        for r in catalog.QUERIES["events_sessionize_paned"](
            spark, d
        ).collect()
    )
    assert got == [
        (1, 1, 2, 3300, 3900),   # spans panes 0->1, one session
        (1, 2, 1, 9000, 9000),
        (2, 1, 1, 100, 100),
        (2, 2, 1, 14500, 14500),  # boundary seen across empty panes
    ]


# ---------------------------------------------------------------------
# backfill: markerless coarser-layout rejection


def _land_markerless(spark, tmp_path, increment):
    """A clustered layout written by 'other tooling': same dir shape
    land_clustered produces, but no _layout.json marker."""
    import os

    from bugzilla_etl_spark.operators.backfill import land_clustered

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where(F.col("user_id").isNotNull())
    )
    d = str(tmp_path / f"markerless_{increment}")
    land_clustered(ev, d, increment)
    os.remove(os.path.join(d, "_layout.json"))
    return d


def test_markerless_coarser_layout_rejected(spark, tmp_path):
    """A layout landed at increment 20 has every dir lo aligned to a
    10-walk (20 % 10 == 0) — the alignment-only check passes — but
    each dir spans two walk blocks.  The span probe must reject it:
    read_block would feed [10,20) rows into block 0's build and the
    walk would land nothing at all for blocks whose finer dir does
    not exist."""
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    d = _land_markerless(spark, tmp_path, increment=20)
    with pytest.raises(ValueError, match="COARSER"):
        validate_clustered_layout(d, 10, spark=spark)
    # the marker-aware path already rejected this shape; the probe
    # closes the markerless hole only
    validate_clustered_layout(d, 20, spark=spark)  # correct walk: OK


def test_markerless_matching_layout_passes_span_probe(spark, tmp_path):
    """Same-increment markerless layout: every dir's span fits its
    block, so the probe admits it and returns the present los."""
    from bugzilla_etl_spark.operators.backfill import (
        validate_clustered_layout,
    )

    d = _land_markerless(spark, tmp_path, increment=10)
    present = validate_clustered_layout(d, 10, spark=spark)
    assert present and all(lo % 10 == 0 for lo in present)


def test_run_backfill_rejects_coarser_markerless_layout(spark, tmp_path):
    """End-to-end: run_backfill(clustered_dir=) on the coarser
    markerless layout must fail fast BEFORE landing any block —
    never a 'successful' store with bled/dropped rows."""
    import os

    from bugzilla_etl_spark.operators.backfill import run_backfill

    d = _land_markerless(spark, tmp_path, increment=20)
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where(F.col("user_id").isNotNull())
    )
    store = str(tmp_path / "store")
    with pytest.raises(ValueError, match="COARSER"):
        run_backfill(
            spark,
            ev,
            store,
            increment=10,
            build_fn=lambda b: b.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events")
            ),
            clustered_dir=d,
        )
    assert not os.path.isdir(store) or not os.listdir(store)


# ---------------------------------------------------------------------
# previous_values_paned: the last class-2 batch entry, decomposed


def test_previous_values_paned_splits_hot_key(spark, sf_dir):
    """All five stacked carries must run over (user_id, _pane)-keyed
    corpus windows — user-only exchanges may carry only the tiny
    pane summaries and the per-user creation row — and the output
    must be identical to the classic single-partition form."""
    import re

    catalog.load_all()
    paned = catalog.QUERIES["previous_values_paned"](spark, sf_dir)
    plan = _plan(paned)
    assert re.search(r"hashpartitioning\(user_id#\d+L?, _pane#", plan)
    # no corpus-side user-only window: every user-only Sort/Window in
    # the plan must sit above a pane-summary aggregate, which we proxy
    # by asserting the ROW-paths (windows whose child is the scan
    # exchange) all carry _pane in their partitioning
    classic = catalog.QUERIES["previous_values"](spark, sf_dir)
    got = sorted(map(tuple, paned.collect()))
    want = sorted(map(tuple, classic.collect()))
    assert got == want


def test_previous_values_paned_chain_crosses_panes(spark, tmp_path):
    """The three-round dependency chain must survive pane borders:
    a field whose prior value, previous-change ts, and carried
    record all live in DIFFERENT earlier panes (with carrier-less
    panes between) must still reconstruct the classic record."""
    import os

    import pandas as pd

    rows = pd.DataFrame(
        {
            "user_id": [1] * 6,
            "event_id": [1, 2, 3, 4, 5, 6],
            # panes (width 3600): 0, 1, 2, 4, 6, 8
            "ts": pd.to_datetime(
                [100, 3700, 7300, 14500, 21700, 28900],
                unit="s",
                utc=True,
            ).tz_localize(None),
            # purchase changes at panes 0, 2, 6 (value 5.0 -> 7.0 ->
            # 9.0); views between are noise; the change at pane 6 must
            # see prior=7.0 (pane 2) and pcts=pane-2's ts, and the row
            # at pane 8 must carry pane-6's emitted record.
            "event_type": [
                "purchase", "view", "purchase", "view", "purchase", "view",
            ],
            "value": [5.0, 1.0, 7.0, 2.0, 9.0, 3.0],
        }
    )
    d = str(tmp_path / "pvp")
    os.makedirs(d)
    spark.createDataFrame(rows).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    catalog.load_all()
    paned = {
        r["event_id"]: (
            r["purchase_prev_value"],
            r["purchase_change_to_l"],
            r["purchase_change_away_l"],
            r["purchase_duration_days"],
        )
        for r in catalog.QUERIES["previous_values_paned"](
            spark, d
        ).collect()
    }
    classic = {
        r["event_id"]: (
            r["purchase_prev_value"],
            r["purchase_change_to_l"],
            r["purchase_change_away_l"],
            r["purchase_duration_days"],
        )
        for r in catalog.QUERIES["previous_values"](spark, d).collect()
    }
    assert paned == classic
    # and pin the absolute values so both forms can't be wrong together
    assert paned[6] == (7.0, 7300, 21700, 0)
    assert paned[4] == (5.0, 100, 7300, 0)


# ---------------------------------------------------------------------
# Arrival-order axis: the *_ooo watermark-buffered streaming forms


@pytest.fixture(scope="module")
def dense_dir(tmp_path_factory):
    """Time-densified copy of sf0.001 (ts compressed 24x -> ~30h
    span): the corpus where the order sweep's bounded disorder
    produces REAL per-entity cross-batch inversions (on the raw
    30-day testdata per-user gaps dwarf the 90-min margin and
    in-order-assuming operators pass by sparsity)."""
    from tools.gate import build_dense_dir

    d = str(tmp_path_factory.mktemp("dense"))
    build_dense_dir("/root/testdata/sf0.001", d)
    return d


def _with_arrival(monkeypatch, mode="delay:12:5400"):
    from bugzilla_etl_spark.streaming.landing import ARRIVAL_ENV

    monkeypatch.setenv(ARRIVAL_ENV, mode)


def test_stream_pv_ooo_converges_under_disorder(
    spark, dense_dir, monkeypatch
):
    """The watermark-buffered form must reproduce the BATCH
    previous_values row set exactly even when arrival interleaves
    old-after-new across micro-batches (bounded by the watermark)."""
    catalog.load_all()
    want = sorted(
        map(tuple, _q("previous_values", spark, dense_dir).collect())
    )
    _with_arrival(monkeypatch)
    got = sorted(
        map(
            tuple,
            catalog.QUERIES["stream_previous_values_ooo"](
                spark, dense_dir
            ).collect(),
        )
    )
    assert got == want


def test_stream_sessionize_ooo_converges_under_disorder(
    spark, dense_dir, monkeypatch
):
    """Same property for the buffered sessionizer: the final session
    set equals the batch sessionization under scrambled arrival, and
    every session is emitted exactly once (no update-mode dedup was
    applied — duplicate emission would surface as duplicate rows)."""
    catalog.load_all()
    want = _q("events_sessionize", spark, dense_dir).collect()
    _with_arrival(monkeypatch)
    rows = catalog.QUERIES["stream_sessionize_ooo"](
        spark, dense_dir
    ).collect()
    got = sorted(
        (r["user_id"], r["session_id"], r["session_start"],
         r["session_end"], r["n_events"])
        for r in rows
    )
    assert len(rows) == len(set(got)), "a session emitted twice"
    want_keys = sorted(
        (r["user_id"], r["session_id"], r["session_start"],
         r["session_end"], r["n_events"])
        for r in want
    )
    assert got == want_keys


def test_classic_stream_pv_diverges_under_disorder(
    spark, dense_dir, monkeypatch
):
    """Pin the documented boundary: the classic in-order form REALLY
    diverges on the dense corpus under bounded disorder — if this
    ever starts passing, the sweep's disorder has gone toothless and
    the *_ooo forms are no longer being differentiated."""
    catalog.load_all()
    want = sorted(
        map(tuple, _q("previous_values", spark, dense_dir).collect())
    )
    _with_arrival(monkeypatch)
    got = sorted(
        map(
            tuple,
            catalog.QUERIES["stream_previous_values"](
                spark, dense_dir
            ).collect(),
        )
    )
    assert got != want


# ---------------------------------------------------------------------
# BM25 retrieval (#178): ranking semantics pinned on a hand corpus


def test_bm25_topk_ranking(spark, tmp_path):
    """Multi-term coverage must outrank single-term frequency (BM25's
    tf saturation + idf sum), docs with no query terms and null-text
    docs must be absent, and ranks must be dense from 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        (1, "hash join merge hash join merge"),   # all 3 terms of q1
        (2, "hash hash hash hash hash hash"),     # 1 term, high tf
        (3, "quick brown fox jumps over dogs"),   # no query terms
        (4, None),                                # null text
        # filler so df(hash) > df(join)=df(merge): idf discriminates
        (5, "hash lines"), (6, "hash lines"), (7, "hash lines"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["t"] * len(rows)),
            "n_chars": pa.array(
                [len(r[1] or "") for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = _q("bm25_topk", spark, str(tmp_path)).collect()
    assert all(r["doc_id"] not in (3, 4) for r in out)
    q1 = sorted(
        ((r["rnk"], r["doc_id"], r["score_u"]) for r in out
         if r["query_id"] == 1)
    )
    # q1 = "hash join merge": doc 1 carries the two rare terms
    assert [r[1] for r in q1[:2]] == [1, 2]
    assert q1[0][2] > q1[1][2]
    assert [r[0] for r in q1] == list(range(1, len(q1) + 1))


# ---------------------------------------------------------------------
# Plan-shape pins for the round-11 batch additions


def test_bm25_vocab_filter_is_map_side(spark, sf_dir):
    """The scale claim of #178: the corpus token stream must be
    semi-filtered by the query vocabulary BEFORE any exchange (an
    INSET/isin filter between the documents scan and the tf
    aggregation), and the df/qterm sides must broadcast — a
    SortMergeJoin here would shuffle the token stream twice."""
    catalog.load_all()
    plan = _plan(catalog.QUERIES["bm25_topk"](spark, sf_dir))
    assert "INSET" in plan or "IN (" in plan, "vocab filter missing"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the vocab filter must sit below the tf aggregation's exchange:
    # in the formatted tree the INSET filter node appears AFTER the
    # exchange that consumes it (children print below parents), so
    # every INSET occurrence following the first Exchange is map-side
    first_ex = plan.find("Exchange")
    assert first_ex != -1 and "INSET" in plan[first_ex:], (
        "vocab INSET filter is not below the tf exchange"
    )
    # and the document scans push the text null screen to parquet
    assert "IsNotNull(text)" in plan


def test_doc_chunks_plans_zero_exchanges(spark, sf_dir):
    """#179 is a pure map: scan -> project -> generate in one codegen
    span; any Exchange in this plan means the chunker stopped being
    embarrassingly parallel."""
    catalog.load_all()
    plan = _plan(catalog.QUERIES["doc_chunks"](spark, sf_dir))
    assert "Exchange" not in plan, "doc_chunks must not shuffle"
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
