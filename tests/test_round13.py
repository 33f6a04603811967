"""Round-13 additions:

* `_det_ln_sql` tolerance vs libm (round-12 ADVICE 1): the BM25
  oracle now embeds the same arithmetic-only ln fragment the Spark
  query uses, so the cross-engine gate no longer independently
  checks the scoring formula — a regression in the shared fragment
  would pass both sides.  This test is the independent witness: the
  fragment must agree with ``math.log`` to its documented ~1e-11
  relative error over the operator's whole input range.
* backfill split accounting (round-12 verdict task 1): the
  landing/validate/walk split recorded for bench must sum to ~the
  entry wall, else the diagnosis artifact lies.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# ---- _det_ln_sql vs libm ---------------------------------------------

def _det_ln_points():
    """Log-spaced sample over the fragment's documented domain
    (u > 1 up to ~e^30), plus the BM25-shaped inputs
    u = (N - df + 0.5)/(df + 0.5) + 1 at corpus sizes the engine
    actually sees."""
    pts = [1.0 + 10.0 ** k for k in range(-8, 13)]  # 1+1e-8 .. 1e12
    pts += [math.e ** k for k in (1, 5, 10, 20, 29)]
    pts += [1.5, 2.0, 3.7, 11.0, 123.456, 9876.5]
    for n_docs in (100, 10_000, 10_000_000):
        for df in (1, 2, n_docs // 2, n_docs - 1):
            pts.append((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return pts


def test_det_ln_sql_matches_libm_within_tolerance():
    from bugzilla_etl_spark.plans.queries_text import _det_ln_sql

    con = duckdb.connect()
    frag = _det_ln_sql("u")
    for u in _det_ln_points():
        got = con.execute(
            f"SELECT {frag} FROM (SELECT CAST(? AS DOUBLE) AS u)", [u]
        ).fetchone()[0]
        want = math.log(u)
        # the fragment's error bound (see _det_ln_sql docstring):
        # ~2^-32 ~ 2.3e-10 ABSOLUTE from the 2^21 re-amplification
        # of the sqrt chain's last-ulp error, plus a small relative
        # series-truncation term.  Gate with headroom at 5e-10 abs +
        # 2e-11 rel — far below the 0.5 micro-unit (5e-7) that could
        # move a BM25 score_u.
        tol = 5e-10 + abs(want) * 2e-11
        assert abs(got - want) <= tol, (
            f"u={u!r}: fragment={got!r} libm={want!r} "
            f"diff={abs(got - want):.3e} tol={tol:.3e}"
        )


# ---- backfill split accounting ----------------------------------------

def test_backfill_split_sums_to_wall(spark):
    import time

    from bugzilla_etl_spark.operators import backfill as B
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    fn = catalog.QUERIES["full_backfill_clustered"]
    B.reset_split()
    t0 = time.perf_counter()
    fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    wall = time.perf_counter() - t0
    s = dict(B.LAST_SPLIT)
    assert s["blocks_walked"] == 5.0
    accounted = s["landing_write_sec"] + s["validate_sec"] + s["walk_sec"]
    # split must account for the entry's work: everything outside it
    # is the end probe + read_store + noop sink
    assert accounted <= wall
    assert accounted >= 0.5 * wall, (s, wall)


# ---- attribution state-partition override hygiene ----------------------

def test_attribution_restores_shuffle_partitions(spark):
    """_run_attribution pins spark.sql.shuffle.partitions for the
    streaming query's lifetime (state-store count sized to state,
    the r13 interval-join fix) — and MUST restore the session value
    afterwards, or every later query in the same session silently
    runs at the streaming override."""
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    df = catalog.QUERIES["stream_attribution"](
        spark, "/root/testdata/sf0.001"
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert df.count() >= 0  # memory-sink table materializes
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---- dedup_spans (#182): hand-computed span semantics -----------------

def test_exact_substring_spans_hand_corpus(spark):
    """ExactSubstr semantics on a corpus small enough to verify by
    hand (k=3): cross-doc duplication, WITHIN-doc duplication (the
    suffix-array case whole-doc dedup misses), island merging of
    overlapping grams, adjacency merge at gap == k, and a unique doc
    emitting nothing."""
    from bugzilla_etl_spark.operators.dedup import exact_substring_spans

    # shared run: "x y z w" in docs 1 and 2 -> grams (x y z), (y z w)
    # doc 3: internal repeat "p q r ... p q r" -> gram (p q r) twice
    # doc 4: all-unique tokens -> no spans
    # doc 5: two duplicated grams exactly k apart merge into ONE span
    docs = spark.createDataFrame(
        [
            (1, "a1 x y z w b1 c1"),
            (2, "a2 d2 x y z w e2"),
            (3, "p q r s3 t3 u3 p q r"),
            (4, "f4 g4 h4 i4 j4 k4"),
            # "m n o" at pos 0 and 6 in doc 5a/5b (gap == k=3 from
            # span1's grams? no — cross-doc dup, positions 0 and 4)
            (5, "m n o q5 m n o"),
            (6, "m n o r6 s6 m n o"),
        ],
        schema="doc_id long, text string",
    )
    out = {
        (r.doc_id, r.span_start): r
        for r in exact_substring_spans(docs, k=3).collect()
    }
    # docs 1/2: positions of x=1/2 -> grams at pos 1,2 (doc1) and
    # 2,3 (doc2); overlapping grams merge: spans (1..4) and (2..5)
    assert out[(1, 1)].span_end == 4 and out[(1, 1)].n_dup_grams == 2
    assert out[(2, 2)].span_end == 5 and out[(2, 2)].span_tokens == 4
    # doc 3: gram (p q r) at pos 0 and 6 — gap 6 > k, two islands
    assert out[(3, 0)].span_end == 2 and out[(3, 0)].span_tokens == 3
    assert out[(3, 6)].span_end == 8
    # doc 4: nothing
    assert not any(d == 4 for d, _ in out)
    # docs 5/6: "m n o" duplicated at pos 0 and 4 (doc 5) — gap 4
    # > k=3 -> two islands in doc 5; doc 6 at pos 0 and 5 -> two
    assert out[(5, 0)].span_end == 2 and out[(5, 4)].span_end == 6
    assert out[(6, 0)].span_end == 2 and out[(6, 5)].span_end == 7
    # gap == k merges: doc 7 alone would need gram dup at distance 3
    docs2 = spark.createDataFrame(
        [(7, "m n o q7 r7 s7"), (8, "m n o z8 q7 r7 s7 w8")],
        schema="doc_id long, text string",
    )
    # doc 7: dup grams (m n o) at 0 and (q7 r7 s7) at 3 — distance
    # exactly k -> spans touch (0..2, 3..5): ONE merged island 0..5
    out2 = {
        (r.doc_id, r.span_start): r
        for r in exact_substring_spans(
            docs.unionByName(docs2), k=3
        ).collect()
        if r.doc_id == 7
    }
    assert out2[(7, 0)].span_end == 5 and out2[(7, 0)].span_tokens == 6
    assert out2[(7, 0)].n_dup_grams == 2


def test_dedup_spans_null_and_short_docs(spark):
    """Null text and docs shorter than k emit nothing (null contract
    rule 3); a doc of exactly k duplicated tokens emits one span
    covering the whole doc."""
    from bugzilla_etl_spark.operators.dedup import exact_substring_spans

    docs = spark.createDataFrame(
        [(1, None), (2, "one two"), (3, "a b c"), (4, "a b c")],
        schema="doc_id long, text string",
    )
    rows = exact_substring_spans(docs, k=3).collect()
    assert sorted((r.doc_id, r.span_start, r.span_end) for r in rows) == [
        (3, 0, 2),
        (4, 0, 2),
    ]


# ---- bpe_apply (#183): hand-computed merge-loop semantics -------------

def _py_bpe(vocab, rounds):
    """Reference BPE: dict term->freq, returns term->symbol list."""
    rep = {t: list(t) for t in vocab}
    for _ in range(rounds):
        cnt = {}
        for t, f in vocab.items():
            l = rep[t]
            for i in range(len(l) - 1):
                cnt[(l[i], l[i + 1])] = cnt.get((l[i], l[i + 1]), 0) + f
        if not cnt:
            break
        (a, b) = min(cnt, key=lambda p: (-cnt[p], p[0], p[1]))
        for t in rep:
            l, out, i = rep[t], [], 0
            while i < len(l):
                if i + 1 < len(l) and l[i] == a and l[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(l[i])
                    i += 1
            rep[t] = out
    return rep


def test_bpe_learn_matches_reference(spark):
    """bpe_learn vs a direct Python BPE on the textbook vocab plus
    the overlap pathology ('aaaa': non-overlapping left-to-right
    merging must give 'aa aa', then 'aaaa')."""
    from bugzilla_etl_spark.operators.text import bpe_learn

    vocab = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4}
    vdf = spark.createDataFrame(
        [(t, f) for t, f in vocab.items()], schema="term string, f long"
    )
    got = {
        r.term: (r.bpe.split(" "), r.n_sym)
        for r in bpe_learn(vdf, rounds=4).collect()
    }
    want = _py_bpe(vocab, 4)
    for t in vocab:
        assert got[t][0] == want[t], (t, got[t][0], want[t])
        assert got[t][1] == len(want[t])


def test_bpe_merge_fold_overlap_and_boundaries(spark):
    """The fold itself: overlap chains, merged-symbol suffix must not
    re-trigger (last token 'xy' does not match a='y'), single-symbol
    terms untouched."""
    from pyspark.sql import functions as F
    from bugzilla_etl_spark.operators.text import bpe_merge_fold

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],),
         (["z", "y", "x", "y"],), (["q"],)],
        schema="l array<string>",
    )
    out = [r.s for r in df.select(
        bpe_merge_fold(F.col("l"), "a", "a").alias("s")).collect()]
    assert out[0] == "aa a" and out[1] == "aa aa"
    out2 = df.select(bpe_merge_fold(F.col("l"), "x", "y").alias("s")).collect()
    assert out2[2].s == "z y xy" and out2[3].s == "q"


def test_bpe_apply_tiebreak_is_lexicographic(spark):
    """Equal pair counts resolve to the lexicographically smallest
    (pa, pb) — the portability contract with the oracle's ORDER BY."""
    from bugzilla_etl_spark.operators.text import bpe_learn

    # pairs (b,c) and (c,b) each appear twice; (b,c) must win round 1
    vdf = spark.createDataFrame(
        [("bcb", 1), ("cbc", 1)], schema="term string, f long"
    )
    got = {r.term: r.bpe for r in bpe_learn(vdf, rounds=1).collect()}
    assert got["bcb"] == "bc b" and got["cbc"] == "c bc"


# ---- ann_ivf_pq (#184): composition semantics --------------------------

def test_ivf_pq_matches_numpy_reference(spark):
    """IVFPQ on a small synthetic set vs a direct numpy reference
    built from the SAME audited primitives (pq_codebook subdists +
    rounded-cosine cell assignment): candidates must come only from
    the query's probed cells, distances are the integer ADC sums,
    ranking is (adist, cand_id)."""
    import numpy as np
    from pyspark.sql import functions as F
    from bugzilla_etl_spark.operators.similarity import (
        _pq_subdists,
        ivf_pq_search_topk,
        pq_codebook,
    )

    rng = [
        [((i * 37 + d * 11) % 97) / 97.0 - 0.5 for d in range(64)]
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)],
        schema="vec_id long, embedding array<double>",
    )
    C = pq_codebook(spark, n_sub=8, n_codes=16, sub_dim=8)
    cents = emb.where(F.col("vec_id") % 10 == 0)  # 4 cells
    queries = emb.where(F.col("vec_id") % 13 == 0)  # 4 queries
    got = {
        (r.query_id, r.rank): (r.cand_id, r.adist)
        for r in ivf_pq_search_topk(
            emb, cents, queries, C, k=3, nprobe=2
        ).collect()
    }

    V = np.array(rng)
    nr = np.sqrt((V * V).sum(axis=1))
    cid = np.array([0, 10, 20, 30])
    S = np.round(
        (V @ V[cid].T) / np.maximum(np.outer(nr, nr[cid]), 1e-12), 4
    )
    # cell per vector: argmax cos, centroid-id tiebreak (first max)
    cell = cid[S.argmax(axis=1)]
    ds = _pq_subdists(V, C)
    codes = ds.argmin(axis=2)
    for q in (0, 13, 26, 39):
        order = np.lexsort((cid, -S[q]))[:2]
        probed = set(cid[order])
        cands = [
            i for i in range(40) if i != q and cell[i] in probed
        ]
        adist = {
            i: int(sum(ds[q, m, codes[i, m]] for m in range(8)))
            for i in cands
        }
        want = sorted(cands, key=lambda i: (adist[i], i))[:3]
        for rk, i in enumerate(want, start=1):
            assert got[(q, rk)] == (i, adist[i]), (q, rk)


def test_ivf_pq_empty_sides(spark):
    """Empty queries or empty centroids return an empty, correctly
    typed frame (the empty-sweep contract)."""
    from pyspark.sql import functions as F
    from bugzilla_etl_spark.operators.similarity import (
        ivf_pq_search_topk,
        pq_codebook,
    )

    emb = spark.createDataFrame(
        [(1, [0.1] * 64), (2, [0.2] * 64)],
        schema="vec_id long, embedding array<double>",
    )
    C = pq_codebook(spark)
    none = emb.where(F.lit(False))
    assert ivf_pq_search_topk(emb, emb, none, C).count() == 0
    out = ivf_pq_search_topk(emb, none, emb, C)
    assert out.count() == 0
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,cand_id:bigint,adist:bigint,rank:int>"
    )


# ---- dedup_spans_apply (#185): removal semantics ------------------------

def test_apply_span_removal_hand_corpus(spark):
    """Removal drops ALL duplicated occurrences (Lee et al. policy),
    span-free docs pass through byte-identical, a fully-duplicated
    doc becomes '' (not null), null text stays null."""
    from bugzilla_etl_spark.operators.dedup import apply_span_removal

    docs = spark.createDataFrame(
        [
            (1, "a1 x y z w b1 c1"),
            (2, "a2 d2 x y z w e2"),
            (3, "u3 v3 w3 only here"),
            (4, "a b c"),
            (5, "a b c"),
            (6, None),
        ],
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r for r in apply_span_removal(docs, k=3).collect()}
    # doc 1: grams at pos 1,2 dup -> span 1..4 removed (x y z w)
    assert got[1].kept_text == "a1 b1 c1"
    assert got[1].removed_tokens == 4 and got[1].n_tokens == 7
    # doc 2: span 2..5
    assert got[2].kept_text == "a2 d2 e2"
    # doc 3: untouched
    assert got[3].kept_text == "u3 v3 w3 only here"
    assert got[3].removed_tokens == 0
    # docs 4/5: whole doc duplicated -> '' both
    assert got[4].kept_text == "" and got[4].removed_tokens == 3
    assert got[5].kept_text == ""
    # doc 6: null stays null
    assert got[6].kept_text is None


# ---- stream_dedup_spans (#186): streaming == batch ----------------------

def test_stream_dedup_spans_equals_batch(spark, sf_dir):
    """The ingest twin must equal the composed batch computation:
    odd docs' spans of grams that exist in the even-doc reference
    index (within-batch repetition alone must NOT flag)."""
    from pyspark.sql import functions as F
    from bugzilla_etl_spark.operators.dedup import (
        gram_positions,
        spans_from_hits,
    )
    from bugzilla_etl_spark.plans.catalog import QUERIES, load_all
    from bugzilla_etl_spark.sources import load_table

    load_all()
    got = sorted(
        tuple(r) for r in QUERIES["stream_dedup_spans"](spark, sf_dir).collect()
    )
    docs = load_table(spark, sf_dir, "documents")
    occ = gram_positions(docs)
    ref = occ.where(F.col("doc_id") % 2 == 0).select("gh").distinct()
    hits = (
        occ.where(F.col("doc_id") % 2 == 1)
        .join(ref, "gh")
        .select("doc_id", "pos")
    )
    want = sorted(tuple(r) for r in spans_from_hits(hits).collect())
    assert got == want and len(got) > 0


# ---- dedup_spans property test vs a naive reference ---------------------

def _ref_spans(docs, k):
    """Naive ExactSubstr reference: positional gram census, count>=2
    duplicate rule, gap<=k island merge."""
    from collections import Counter

    occ = []
    for d, text in docs:
        toks = text.lower().strip().split()
        for p in range(len(toks) - k + 1):
            occ.append((d, p, " ".join(toks[p:p + k])))
    cnt = Counter(g for _, _, g in occ)
    hits = {}
    for d, p, g in occ:
        if cnt[g] >= 2:
            hits.setdefault(d, []).append(p)
    out = []
    for d, ps in sorted(hits.items()):
        ps.sort()
        start = prev = ps[0]
        n = 1
        for p in ps[1:]:
            if p - prev <= k:
                prev, n = p, n + 1
            else:
                out.append((d, start, prev + k - 1, prev - start + k, n))
                start = prev = p
                n = 1
        out.append((d, start, prev + k - 1, prev - start + k, n))
    return sorted(out)


def test_exact_substring_spans_property(spark):
    """exact_substring_spans vs the naive reference on randomized
    tiny-alphabet corpora (heavy duplication by construction: 3-token
    vocabulary forces gram collisions, within-doc repeats, and
    adjacent-island merges) — 12 hypothesis-drawn corpora in one
    test to amortize the per-job cost."""
    from hypothesis import given, settings, strategies as st
    from bugzilla_etl_spark.operators.dedup import exact_substring_spans

    K = 3
    corpus_st = st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )

    @given(texts=corpus_st)
    @settings(max_examples=12, deadline=None)
    def check(texts):
        docs = list(enumerate(texts))
        df = spark.createDataFrame(docs, schema="doc_id long, text string")
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_tokens,
             r.n_dup_grams)
            for r in exact_substring_spans(df, k=K).collect()
        )
        assert got == _ref_spans(docs, K)

    check()
