"""Text-analysis operators for training-data pipelines.

Everything is built from JVM-side column expressions and
higher-order array functions — no Python UDFs anywhere — so the hot
path stays inside whole-stage codegen and scales linearly with the
scan.  All hash values use the portable md5-derived family from
``functions.hashing`` so results are reproducible across engines and
runs (critical for incremental dedup at 100 TB: the same doc always
lands in the same bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import hash64

# Rolling-hash modulus keeps products < ~1.3e11: no bigint overflow on
# either engine (DuckDB errors on int64 overflow; Java would wrap).
FP_MOD = 1_000_000_007
FP_MULT = 131

# BPE-ish segmentation: letter runs | digit runs | single other glyph
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lower-cased trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(F.trim(c)), r"\s+")


def shingles(tok: Column, n: int = 3) -> Column:
    """Distinct n-gram shingles (space-joined) over a token array.

    Built as zip_with over shifted slices of the array, NOT a
    transform+element_at loop: lambda bodies re-evaluate outer
    expressions per element (no CSE inside higher-order functions),
    which made the naive form O(tokens² x split()) per document —
    measured 25s to merely explode shingles at sf0.1.  zip_with
    evaluates each argument once per ROW, so this is O(tokens).
    zip_with pads the shorter side with null and concat propagates
    null, so trailing partial grams filter out naturally."""
    z = tok
    for j in range(1, n):
        shifted = F.slice(
            tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.filter(z, lambda x: x.isNotNull()))


def bigrams(tok: Column) -> Column:
    """ALL adjacent token bigrams, multiplicities preserved (see
    ngrams())."""
    return ngrams(tok, 2)


def ngrams(tok: Column, n: int = 3) -> Column:
    """ALL adjacent token n-grams, multiplicities preserved — the
    corpus-frequency operators (heavy hitters, repetition) need
    counts, unlike shingles() which dedups for set semantics.  Same
    zip_with/slice shape (arguments evaluate once per row; see
    shingles() for why transform+element_at is O(tokens²) here)."""
    z = tok
    for j in range(1, n):
        shifted = F.slice(
            tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0))
        )
        z = F.zip_with(z, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(z, lambda x: x.isNotNull())


def stopword_hits(tok: Column, stopwords=EN_STOPWORDS) -> Column:
    """Count of tokens that are stopwords (filter + size: no shuffle)."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tok, lambda t: F.array_contains(sw, t)))


def lang_guess(tok: Column, threshold: float = 0.05) -> Column:
    """N-gram-free heuristic language ID: English-stopword density.
    A real model slots in behind the same column contract."""
    ratio = stopword_hits(tok) / F.greatest(F.size(tok), F.lit(1))
    return F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("unk"))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(c)
    return F.regexp_count(low, F.lit(r"[^a-z0-9\s]")) / F.greatest(
        F.length(low), F.lit(1)
    )


def mean_word_len(tok: Column) -> Column:
    total = F.aggregate(
        tok, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(tok), F.lit(1))


def token_counts(col: Column | str) -> tuple[Column, Column]:
    """(whitespace tokens, BPE-ish regex segments)."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(F.trim(c))
    n_ws = F.size(F.split(low, r"\s+"))
    n_bpe = F.regexp_count(low, F.lit(BPE_RE))
    return n_ws, n_bpe


def rolling_fingerprint(tok: Column) -> Column:
    """Order-sensitive polynomial rolling hash over token hashes —
    the document fingerprint (two docs with the same tokens in a
    different order get different prints, unlike minhash)."""
    hashes = F.transform(tok, lambda t: hash64(t) % FP_MOD)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * FP_MULT + h) % FP_MOD,
    )


def ordered_kgrams(tok: Column, k: int = 3) -> Column:
    """ALL k-grams in document order, multiplicities preserved — the
    winnowing input (shingles() dedups and sorts away positions).
    Same zip_with/slice shape as shingles()/bigrams() (arguments
    evaluate once per row; transform+element_at would be O(tokens²))."""
    z = tok
    for j in range(1, k):
        shifted = F.slice(tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0)))
        z = F.zip_with(z, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.filter(z, lambda x: x.isNotNull())


def winnow_fp_sets(
    docs,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Winnowing fingerprint SELECTION (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): hash every k-gram, slide a w-window over the hash
    sequence, keep the minimum of each window — guaranteeing any
    shared substring of length >= w+k-1 contributes at least one
    shared fingerprint, at ~2/(w+1) selection density.  Tie-break
    divergence from the paper, documented: ties select the LEFTMOST
    minimal position (a lexicographic (hash, pos) struct-min is a
    deterministic single aggregate on both engines; the paper's
    rightmost rule needs a second dependent pass).

    Selection is entirely ROW-LOCAL — k-gram hashes are engine md5
    expressions, then one Arrow map pass does the sliding-window min
    per document in numpy (stride-tricks view; argmin's
    first-occurrence IS the leftmost tie rule) — no explode of raw
    k-gram positions, no entity shuffle.  Only the SELECTED
    fingerprints leave the row.  (The original formulation
    posexploded every k-gram through a doc_id-partitioned struct-min
    window: same values, ~1.25x slower at sf0.1 and — the part that
    matters at 100 TB — it shuffled the whole k-gram stream.)

    Returns (doc_id, fp_hashes sorted-distinct, n_fp, n_hashes);
    docs with fewer than w k-grams — including null-text docs, whose
    token array (hence k-gram hash list) is null — emit no row, the
    engine-wide signature-op null contract (null text contributes no
    signature; a missing document is not a near-duplicate of another
    missing document)."""
    import numpy as np
    import pandas as pd

    tok = tokens(text_col)
    hs = F.transform(ordered_kgrams(tok, k), lambda g: hash64(g))
    t = docs.select(F.col(id_col).alias("doc_id"), hs.alias("hs"))

    def select_fps(batches):
        for pdf in batches:
            ids, fps, nfp, nh = [], [], [], []
            for doc_id, h in zip(pdf["doc_id"], pdf["hs"]):
                if h is None or len(h) < w:
                    continue  # null text / no full window -> no row
                h = np.asarray(h, dtype=np.int64)
                sw = np.lib.stride_tricks.sliding_window_view(h, w)
                sel = np.unique(
                    np.arange(sw.shape[0]) + sw.argmin(axis=1)
                )
                uh = np.unique(h[sel])
                ids.append(doc_id)
                fps.append(uh)
                nfp.append(len(sel))
                nh.append(len(uh))
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "fp_hashes": fps,
                    "n_fp": np.array(nfp, dtype=np.int64),
                    "n_hashes": np.array(nh, dtype=np.int64),
                }
            )

    return t.mapInPandas(
        select_fps,
        schema="doc_id long, fp_hashes array<long>, n_fp long, "
        "n_hashes long",
    )


def winnow_fingerprints(
    docs,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-doc winnowing fingerprint stats + cross-doc sharing counts
    (see winnow_fp_sets for the selection contract).  The
    document-frequency agg and per-doc rollup touch only selected
    fingerprints — skinny shuffles; the corpus scans once.

    Storage contract (same as dedup_jaccard_invindex): the exploded
    postings persist MEMORY_AND_DISK for the plan's multiple
    consumers via the invocation-scoped ``pin`` (nonce-guarded so a
    repeat invocation never silently reads this one's cache; released
    through the tmpdirs cleanup registry at gc/exit)."""
    sel = winnow_fp_sets(docs, k, w, text_col, id_col)
    # two consumers (df agg + join side) would otherwise re-run the
    # scan -> hash -> selection kernel; persist the skinny exploded
    # postings (the invindex pattern — LRU-evicted under pressure)
    from bugzilla_etl_spark.tmpdirs import pin

    dsets = pin(
        sel.select(
            "doc_id", "n_fp", "n_hashes",
            F.explode("fp_hashes").alias("fp_hash"),
        )
    )
    dfc = dsets.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        dsets.join(dfc, on="fp_hash")
        .groupBy("doc_id", "n_fp", "n_hashes")
        .agg(F.count(F.when(F.col("ndocs") >= 2, 1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_fp",
            "n_hashes",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_hashes"), 4).alias(
                "share_frac"
            ),
        )
    )


def winnow_pairs(
    docs,
    min_shared: int = 2,
    max_df: int = 50,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """MOSS-style match ranking: document pairs sharing >= min_shared
    winnowing fingerprints, scored by shared count and containment
    (shared / smaller doc's fingerprint-hash count).

    Plan shape mirrors dedup_jaccard_invindex: the inverted
    fingerprint index self-joins on fp_hash, with a document-
    frequency cap (``max_df``) dropping ubiquitous fingerprints
    (license headers, boilerplate) BEFORE the join — the guard that
    keeps a hot fingerprint from producing df² candidate pairs at
    corpus scale.  Shuffle volume is bounded by the capped postings,
    never docs².

    Storage contract: the postings persist MEMORY_AND_DISK (three
    consumers) via the invocation-scoped ``pin`` — see
    winnow_fingerprints for the rationale."""
    sel = winnow_fp_sets(docs, k, w, text_col, id_col)
    # three consumers (df stats + both join sides): persist the
    # skinny postings like jaccard_pairs_invindex does
    from bugzilla_etl_spark.tmpdirs import pin

    post = pin(
        sel.select(
            "doc_id", "n_hashes", F.explode("fp_hashes").alias("fp_hash")
        )
    )
    dfc = post.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("ndocs"))
    capped = post.join(
        F.broadcast(dfc.where(F.col("ndocs") > max_df).select("fp_hash")),
        on="fp_hash",
        how="left_anti",
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_hashes").alias("nh_a"),
        "fp_hash",
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_hashes").alias("nh_b"),
        "fp_hash",
    )
    return (
        a.join(b, on="fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "nh_a", "nh_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least(F.col("nh_a"), F.col("nh_b")),
                4,
            ).alias("containment"),
        )
    )


def char_bigram_lm(
    ref, text_col: str = "text"
) -> tuple[dict, dict, int]:
    """Fit a Laplace-smoothed character-bigram language model on a
    reference corpus (the CCNet recipe's KenLM role, scaled down to
    an in-engine model): returns (bigram_counts, context_counts, V)
    where V = |distinct chars participating in any reference bigram|.

    The MODEL is bounded (≤ V² bigrams — a few thousand entries for
    natural text) regardless of reference size: the aggregation is
    one explode + map-side-combined groupBy of skinny (bigram, count)
    rows, then a bounded collect — the same contract as IVF
    centroids.  At 100 TB the reference corpus (a curated wiki-class
    sample) is orders smaller than the corpus being scored, and this
    agg touches only the reference."""
    # all adjacent char pairs: substr windows over the text column
    pairs = F.expr(
        f"transform(sequence(1, greatest(length(lower(trim({text_col}))) - 1, 0)),"
        f" i -> substring(lower(trim({text_col})), i, 2))"
    )
    bc = (
        ref.select(F.explode(pairs).alias("ab"))
        # null text yields null pairs (substring(null) — sequence's
        # greatest(null,0)=0 bound still emits positions) and sub-2-char
        # text yields truncated ones; neither is a transition.  Null
        # length propagates null here, so both filter out together.
        .where(F.length("ab") == 2)
        .groupBy("ab")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    bigram_c = {r["ab"]: r["c"] for r in bc}
    ctx_c: dict = {}
    chars: set = set()
    for ab, c in bigram_c.items():
        ctx_c[ab[0]] = ctx_c.get(ab[0], 0) + c
        chars.update(ab)
    return bigram_c, ctx_c, len(chars)


def char_lm_score(
    docs,
    bigram_c: dict,
    ctx_c: dict,
    v: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score every document's mean negative log-likelihood under a
    char-bigram LM (perplexity filtering: high nll = unlike the
    reference corpus — the CCNet quality signal).  Docs with no
    transition (len < 2 after trim/lower) drop out.

    p(b|a) = (c[ab]+1) / (ctx[a]+V), unseen context ⇒ 1/V.  Scoring
    is ONE map-only Arrow pass: the bounded model ships in the task
    closure as a numpy log-prob matrix and each batch scores via
    vectorized gather — zero shuffles over the scored corpus."""
    import math

    import numpy as np
    import pandas as pd

    if v == 0:
        # empty reference corpus => no model: nothing can be scored
        # (the no-new-data incremental run must not divide by zero)
        return docs.sparkSession.createDataFrame(
            [], schema="doc_id long, n_trans long, nll double"
        )
    idx = {c: i for i, c in enumerate(sorted(set(ctx_c) | {a[1] for a in bigram_c}))}
    n = len(idx)
    # log p for every (known a, known b); row n = unseen context,
    # col n = unseen char (c=0 everywhere there)
    logp = np.empty((n + 1, n + 1), dtype=np.float64)
    for a, ia in idx.items():
        denom = ctx_c.get(a, 0) + v
        logp[ia, :] = math.log(1.0 / denom)
        for b, ib in idx.items():
            c = bigram_c.get(a + b, 0)
            if c:
                logp[ia, ib] = math.log((c + 1.0) / denom)
    logp[n, :] = math.log(1.0 / v)
    logp[:, n][:-1] = [
        math.log(1.0 / (ctx_c.get(a, 0) + v)) for a in sorted(idx, key=idx.get)
    ]

    def score(batches):
        for pdf in batches:
            ids, n_trans, nll = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                # engine trim() strips ASCII space ONLY — Python
                # .strip() (all Unicode whitespace) would diverge
                # from the oracle on tab/newline-padded text
                t = (txt or "").strip(" ").lower()
                if len(t) < 2:
                    continue
                arr = np.fromiter(
                    (idx.get(ch, n) for ch in t), dtype=np.int64, count=len(t)
                )
                lps = logp[arr[:-1], arr[1:]]
                ids.append(did)
                n_trans.append(len(lps))
                nll.append(round(-float(lps.mean()), 4))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "n_trans": pd.Series(n_trans, dtype="int64"),
                 "nll": pd.Series(nll, dtype="float64")}
            )

    return docs.select(
        F.col(id_col), F.col(text_col)
    ).mapInPandas(score, schema="doc_id long, n_trans long, nll double")



def chunk_passages(
    docs,
    width: int = 64,
    stride: int = 48,
    carry: tuple[str, ...] = (),
):
    """Split each document into ``width``-token windows at
    ``stride`` (overlap = width - stride), emitting chunk ordinal,
    1-based token offsets, and the chunk text — the passage
    materialization step between cleaning and packing in a
    training/RAG pipeline.  ``carry`` lists extra input columns to
    pass through unchanged (e.g. ``source`` for per-stream packing).

    Entirely codegen column algebra: tokenize once, explode a
    sequence of chunk ordinals, slice the token array per ordinal —
    no Python, no shuffle (scan → project → generate), a pure map
    over the corpus; output size is input x (1 + overlap fraction).
    Null text chunks to nothing (null contract rule 3: a missing
    document has no passages).  Shared verbatim by the batch
    ``doc_chunks`` entry, the composed ``chunk_dedup_pack`` pipeline,
    and the ``stream_doc_chunks`` ingest twin, so streaming == batch
    by construction."""
    toks = tokens("text")
    n_tok = F.size("toks")
    n_chunks = (
        F.lit(1)
        + F.greatest(
            F.lit(0),
            F.ceil((n_tok - width) / float(stride)),
        )
    ).cast("long")
    start = F.col("chunk_idx") * stride  # 0-based slice origin
    return (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", *carry, toks.alias("toks"))
        .select(
            "doc_id",
            *carry,
            "toks",
            n_tok.alias("n_tok"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), n_chunks - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            *carry,
            "chunk_idx",
            (start + 1).cast("long").alias("tok_start"),
            F.least(start + width, F.col("n_tok"))
            .cast("long")
            .alias("tok_end"),
            F.concat_ws(
                " ", F.slice(F.col("toks"), start + 1, width)
            ).alias("chunk_text"),
        )
    )


def bpe_merge_fold(l: Column, a: str, b: str) -> Column:
    """Apply ONE BPE merge (a, b) -> a||b to a symbol list,
    left-to-right and non-overlapping (the classic subtlety:
    'a a a' under merge (a,a) becomes 'aa a', never 'aa aa'), as a
    single declarative fold — no Python in the loop.

    The fold builds the space-joined result string: when the
    accumulator's LAST symbol is exactly ``a`` (checked as
    whole-token suffix — symbols never contain spaces) and the next
    symbol is ``b``, append ``b`` with no separator (the last token
    becomes a||b, which cannot re-trigger the merge because a
    freshly-merged token no longer equals ``a``); otherwise append
    normally.  Mirrors the DuckDB oracle's ``list_reduce`` —
    list_reduce seeds with the first element, this fold seeds with
    '' and special-cases the first append, producing the identical
    step sequence."""
    return F.aggregate(
        l,
        F.lit(""),
        lambda acc, x: F.when(
            (x == F.lit(b))
            & ((acc == F.lit(a)) | acc.endswith(" " + a)),
            F.concat(acc, x),
        ).otherwise(
            F.when(acc == F.lit(""), x).otherwise(
                F.concat(acc, F.lit(" "), x)
            )
        ),
    )


def bpe_learn(vocab: DataFrame, rounds: int = 4) -> DataFrame:
    """Iterative BPE training over a (term, f) vocabulary: ``rounds``
    cycles of weighted adjacent-pair counting, top-merge selection
    (cnt DESC, pair ASC — exact integer counts, binary string
    tiebreak: engine-portable), and non-overlapping merge
    application.  bpe_pair_counts (#93) is one counting scan of this
    loop; this runs the loop.

    Scale shape: the ONLY corpus-grain work is upstream (the token
    count that built ``vocab``).  Every round here is vocab-grain —
    at 100 TB the vocab is millions of rows against a trillions-long
    token stream — and the per-round merge selection is a 1-row
    bounded-model fold (the kmeans-centroid precedent), applied back
    as literals so the merge loop stays fully declarative.

    Returns (term, f, bpe, n_sym): the final symbol sequence
    (space-joined) and its length.  Terms are non-empty by contract
    (caller filters — '' has no symbol sequence).
    """
    rep = vocab.select(
        "term",
        "f",
        F.expr(
            "transform(sequence(1, length(term)),"
            " i -> substring(term, i, 1))"
        ).alias("l"),
    )
    # Each round's top-pair collect() re-evaluates ``rep``; without a
    # persist that re-runs every PRIOR round's interpreted-HOF merge
    # fold (O(rounds^2) recompute of the documented slow path).
    # Persist the round's input before the collect materializes it,
    # then drop the previous round's handle — exactly one vocab-grain
    # cache lives at a time; the final handle is released via the
    # tmpdirs cleanup registry.  The nonce literal defeats Spark's
    # STRUCTURAL CacheManager plan-matching across invocations, so a
    # repeated bench pass measures a cold run, not the previous
    # invocation's cached rounds (see triangle_count_scaled).
    import uuid

    from bugzilla_etl_spark.tmpdirs import register_cleanup

    nonce = F.lit(uuid.uuid4().hex)
    cached = None
    for _ in range(rounds):
        persisted = rep.withColumn("_nonce", nonce).persist()
        rep = persisted.drop("_nonce")
        pairs_arr = F.filter(
            F.zip_with(
                F.col("l"),
                F.slice(
                    F.col("l"),
                    2,
                    F.greatest(F.size("l") - 1, F.lit(0)),
                ),
                lambda a, b: F.struct(a.alias("pa"), b.alias("pb")),
            ),
            lambda s: s["pb"].isNotNull(),
        )
        top = (
            rep.select(F.explode(pairs_arr).alias("s"), "f")
            .groupBy(F.col("s.pa").alias("pa"), F.col("s.pb").alias("pb"))
            .agg(F.sum("f").alias("cnt"))
            .orderBy(
                F.col("cnt").desc(), F.col("pa").asc(), F.col("pb").asc()
            )
            .limit(1)
            .collect()  # bounded-model fold: exactly one row
        )
        if cached is not None:
            cached.unpersist()
        cached = persisted
        if not top:
            break  # no pairs anywhere (all-single-symbol vocab)
        a, b = top[0]["pa"], top[0]["pb"]
        rep = rep.select(
            "term",
            "f",
            F.split(bpe_merge_fold(F.col("l"), a, b), " ").alias("l"),
        )
    if cached is not None:
        # the final round's cache backs the returned plan; release it
        # with the registry (plan-keyed entries are never GC'd)
        register_cleanup(cached.unpersist)
    return rep.select(
        "term",
        "f",
        F.concat_ws(" ", "l").alias("bpe"),
        F.size("l").alias("n_sym"),
    )


#: The persisted tokenizer artifact's schema — VOCAB grain (one row
#: per distinct term), the shape that serves BOTH encode modes: fold
#: it for the broadcast one-row map, join it directly at term grain.
TOKENIZER_SCHEMA = "term string, ids array<bigint>"


def save_tokenizer(term_ids: DataFrame, path: str) -> str:
    """Persist a learned tokenizer's (term, ids) frame as a parquet
    store artifact — the production shape (the alias_compact
    precedent): the tokenizer trains ONCE, the
    artifact is SAVED, and every later consumer (a stream start, a
    new encode job) loads it instead of re-running the merge loop
    (r15 verdict task 3).  Saved at vocab grain, not as the folded
    one-row map: a few-GB map in a single parquet row would defeat
    both column pruning and parallel read, while vocab-grain rows
    split across files and fold (or join) at load time."""
    term_ids.write.mode("overwrite").parquet(path)
    return path


def load_tokenizer(spark: SparkSession, path: str) -> DataFrame:
    """Load a ``save_tokenizer`` artifact: the vocab-grain (term,
    ids) frame, schema-pinned so an empty artifact dir still yields
    the right shape.  Feed to ``fold_term_map`` for broadcast-mode
    encode or pass straight to ``bpe_encode_docs(map_mode="join")``."""
    return spark.read.schema(TOKENIZER_SCHEMA).parquet(path)
