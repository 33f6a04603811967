"""Round-12 regression pins.

Covers the round-11 verdict/advice closures:
  * OOO streaming finalize boundary uses fully-passed seconds
    (advice medium, snapshot_stream.py);
  * previous_values_paned no longer force-broadcasts the per-entity
    created aggregate (advice low);
  * BM25 integer-rational idf removes the last float transcendental
    from a scored path (verdict task 6).
"""

from __future__ import annotations

import os


# ---------------------------------------------------------------------
# OOO finalize boundary (round-11 advice, medium).


def test_pv_ooo_midsecond_watermark_boundary():
    """Deterministic witness for the round-11 advice item: a
    mid-second watermark must NOT finalize the second it lands in.
    Event A (id=2, second 10, ts 10.2s) arrives, the watermark moves
    to 10.6s (driven by C at second 20 still in flight), then B
    (id=1, second 10, ts 10.6s >= watermark — legal) arrives.  The
    pre-fix strict mask (tsl*1000 < wm) finalized+replayed A before B
    existed, producing replay order (A, B) where the batch operator
    orders (tsl, event_id) = (B, A).  The fully-passed-seconds mask
    ((tsl+1)*1000 <= wm) buffers second 10 until the watermark
    clears 11.0s, so replay order matches the batch exactly."""
    import numpy as np
    import pandas as pd

    from bugzilla_etl_spark.streaming.snapshot_stream import (
        _N_CARRY,
        PV_FIELDS,
        _pv_replay,
        _pv_state_ooo,
    )
    from tests.test_ooo_properties import _drive

    f = PV_FIELDS[0]

    def mk(rows):
        return pd.DataFrame(
            rows,
            columns=["user_id", "event_id", "tsl", "ts_ms",
                     "event_type", "value"],
        ).astype({"user_id": np.int64, "event_id": np.int64,
                  "tsl": np.int64, "ts_ms": np.int64,
                  "value": np.float64})

    batches = [
        mk([(0, 2, 10, 10200, f, 1.0)]),
        mk([(0, 3, 20, 20000, f, 3.0)]),
        mk([(0, 1, 10, 10600, f, 2.0)]),
    ]
    got = pd.concat(
        _drive(_pv_state_ooo, batches), ignore_index=True
    ).sort_values("event_id").reset_index(drop=True)
    full = pd.concat(batches, ignore_index=True).sort_values(
        ["tsl", "event_id"]
    ).reset_index(drop=True)
    st0 = [None] * _N_CARRY
    st0[0] = int(full["tsl"].iloc[0])
    want, _ = _pv_replay(0, st0, full)
    want = want.sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_like=True)


# ---------------------------------------------------------------------
# BM25 cross-engine bit-identity (round-11 verdict task 6).


def test_bm25_contribution_bit_identical_across_engines(spark):
    """The shared _bm25_cu_sql fragment must yield the IDENTICAL
    integer micro-unit contribution on Spark (JVM) and DuckDB (libm)
    for adversarial integer inputs — including df values that push
    the idf argument through its full range and tf/dl combinations
    dense enough to land contributions near .5 boundaries.  This is
    the property the old F.log/ln pair could not guarantee: libm ln
    is not correctly rounded, so the two engines could disagree by 1
    micro-unit on a boundary-straddling contribution.  The fragment
    uses only IEEE correctly-rounded ops, so equality here is exact,
    not tolerance-based."""
    import random

    import duckdb
    import pandas as pd

    from bugzilla_etl_spark.plans.queries_text import _bm25_cu_sql

    rng = random.Random(12)
    rows = []
    for _ in range(4000):
        n_docs = rng.choice([1, 2, 10, 600, 59_986, 10**9])
        df_v = rng.randint(1, n_docs)
        rows.append(
            (
                rng.randint(1, 500),        # tf
                df_v,
                rng.randint(1, 10_000),     # dl
                n_docs,
                max(1, n_docs - rng.randint(0, 1)),   # n_texts
                rng.randint(1, 10**12),     # tot_tokens
            )
        )
    pdf = pd.DataFrame(
        rows,
        columns=["tf", "df", "dl", "n_docs", "n_texts", "tot_tokens"],
    )
    frag = _bm25_cu_sql("n_docs", "n_texts", "tot_tokens")
    sdf = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    got_spark = [
        r.c_u
        for r in sdf.select(F.expr(frag).alias("c_u"))
        .collect()
    ]
    got_duck = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {frag} AS c_u FROM pdf"
        ).fetchall()
    ]
    assert got_spark == got_duck


# ---------------------------------------------------------------------
# Round-12 additions: chunk_dedup_pack (#180), stream_doc_chunks (#181)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_chunk_dedup_pack_plans_two_exchanges(spark, sf_dir):
    """#180's scale claim: chunk (pure map) -> dedup (ONE hash-groupBy
    on the chunk fingerprint, min-struct canonicalization — no join
    back to the chunk stream) -> pack (one window per source).  The
    plan must show exactly the two claimed shuffles (chash agg, then
    source window; AQE may add nothing), no SortMergeJoin, no Python
    eval, and the text null screen pushed to the scan."""
    from bugzilla_etl_spark.plans import catalog

    import re

    catalog.load_all()
    plan = _plan(catalog.QUERIES["chunk_dedup_pack"](spark, sf_dir))
    # formatted mode prints each node twice (tree + numbered detail);
    # count the detail headers
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_ex <= 2, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # dedup is agg-only
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "Generate" in plan  # the chunk explode
    assert "IsNotNull(text)" in plan


def test_chunk_dedup_pack_semantics(spark):
    """Crafted corpus: two docs sharing an identical one-chunk text
    plus one unique doc.  The duplicate chunk must collapse to its
    lowest (doc_id, chunk_idx) occurrence with n_dups=2; packing must
    lay survivors end-to-end per source in portable-hash order."""
    import pandas as pd

    from bugzilla_etl_spark.plans import catalog
    from bugzilla_etl_spark.sources import tables as SRC

    catalog.load_all()
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "source": ["s", "s", "s"],
            "text": ["alpha beta", "alpha beta", "gamma delta"],
        }
    )
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="cdp_sem_")
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    rows = {
        (r.doc_id, r.chunk_idx): r
        for r in catalog.QUERIES["chunk_dedup_pack"](spark, d).collect()
    }
    assert set(rows) == {(1, 0), (3, 0)}  # doc 2's chunk deduped away
    assert rows[(1, 0)].n_dups == 2
    assert rows[(3, 0)].n_dups == 1
    # both survivors pack into seq 0 of stream 's': offsets 0 and 2
    offs = sorted(
        (r.seq_id, r.offset_in_seq) for r in rows.values()
    )
    assert offs == [(0, 0), (0, 2)]
    assert {r.n_tokens for r in rows.values()} == {2}


def test_stream_doc_chunks_matches_batch(spark, sf_dir):
    """The ingest twin's whole claim: streaming output == the batch
    doc_chunks result, row for row."""
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    got = {
        tuple(r)
        for r in catalog.QUERIES["stream_doc_chunks"](
            spark, sf_dir
        ).collect()
    }
    want = {
        tuple(r)
        for r in catalog.QUERIES["doc_chunks"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0
