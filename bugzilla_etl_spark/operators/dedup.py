"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design (the whole point of these):

* exact        — one hash-groupBy; partial agg map-side, tiny shuffle.
* ngram-jaccard— candidate pairs ONLY within a blocking key; the
                 all-pairs crossJoin never exists in the plan.
* minhash-lsh  — signatures are per-row array expressions (no
                 explode until banding); candidates come from a
                 self-join on (band_id, band_key) so the shuffle is
                 proportional to docs x bands, not docs².  Verified
                 with true Jaccard before reporting.
* simhash      — per-row 32-bit fingerprint; near-pairs via byte-band
                 buckets + popcount(xor) Hamming check.

All hashes are the portable md5 family — deterministic across
engines/runs, so incremental re-runs bucket identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import hash64, hash128
from bugzilla_etl_spark.tmpdirs import pin
from bugzilla_etl_spark.operators.text import shingles, tokens

N_MINHASH = 16
N_BANDS = 4  # rows per band = N_MINHASH / N_BANDS = 4
SIMHASH_BITS = 32


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: every doc mapped to its group's
    canonical (minimum) id + group size.  Window over the hash key —
    single shuffle on the FULL 128-bit md5 hex (a 60-bit truncation
    has ~40% birthday-collision odds at 1e9 docs, which would silently
    merge distinct texts under an operator named "exact")."""
    from pyspark.sql import Window

    keyed = docs.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("text_hash")
    )
    w = Window.partitionBy("text_hash")
    return keyed.select(
        id_col,
        "text_hash",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
    )


def _shingled(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    tok = tokens(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tok.alias("tok"),
        shingles(tok).alias("sh"),
    )


def _hashed_shingled(
    docs: DataFrame, text_col: str, id_col: str, sort: bool = True
) -> DataFrame:
    """Shingle sets as sorted LONG arrays (portable hash of each
    shingle).  Pair-generating joins carry these instead of string
    arrays: ~4x less shuffle volume and long-vs-long intersects.
    Jaccard over hashed sets equals Jaccard over the strings
    (collision odds ~1e-7 at 10^6 shingles on 60-bit hashes).
    ``sort=False`` skips the per-array sort for consumers that only
    explode or aggregate the hashes (element order irrelevant)."""
    t = _shingled(docs, text_col, id_col)
    hashed = F.transform(F.col("sh"), lambda s: hash64(s))
    return t.select(
        "doc_id",
        "tok",
        (F.sort_array(hashed) if sort else hashed).alias("shh"),
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct-element arrays.

    Union size is |A|+|B|-|A∩B| — inputs are already distinct, and
    this avoids a second O(|A|+|B|) array scan (array_distinct∘concat)
    in an expression that filter-pushdown will evaluate twice."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.greatest(F.size(a) + F.size(b) - inter, F.lit(1))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard, blocked on the first token.

    Blocking bounds the candidate space (per-block work; pick the key
    so blocks stay small).  For unbounded corpora prefer
    minhash_lsh_pairs; for exact full-corpus results use
    jaccard_pairs_invindex (this variant demonstrates key-blocked
    restriction on top of the same counting plan)."""
    t = _hashed_shingled(docs, text_col, id_col).withColumn(
        "block", F.element_at("tok", 1)
    )
    # intersections by COUNTING within the block (posting self-join of
    # skinny rows), never by carrying shingle arrays through the pair
    # join — same plan shape as jaccard_pairs_invindex plus the
    # blocking restriction on the join key.  Persisted: both join
    # sides would otherwise recompute the md5 shingling (see
    # jaccard_pairs_invindex docstring).
    postings = pin(
        t.select("doc_id", "block", F.explode("shh").alias("sh"))
    )
    sizes = t.select("doc_id", F.size("shh").alias("sz"))
    a = postings.select(F.col("doc_id").alias("doc_a"), "block", "sh")
    b = postings.select(F.col("doc_id").alias("doc_b"), "block", "sh")
    inter = (
        a.join(b, on=["block", "sh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # filter on the ROUNDED value: exactly equivalent to `raw >= t`
    # while set sizes stay < 2000 (jaccard is k/m, m = |A∪B|, so no
    # raw value can round across the threshold).
    # sizes is ONE ROW PER DOCUMENT — corpus-sized, so the union-size
    # joins carry NO broadcast hint (a hinted per-doc frame OOMs the
    # build side at 100 TB; AQE promotes to broadcast at small SF
    # where it measures as tiny, and the pair side is already far
    # smaller than the corpus after the threshold-bound counting agg).
    jac = F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c"))
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sz", "sz_a"
            ),
            on="doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            on="doc_b",
        )
        .withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_invindex(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Full-corpus EXACT Jaccard pairs via an inverted index, computed
    entirely by COUNTING — no arrays ever cross the pair phase:

      explode shingles -> posting self-join on shingle ->
      |A∩B| = count of shared shingles per (doc_a, doc_b) [one
      partial-aggregating shuffle of skinny rows] -> join per-doc set
      sizes (broadcast dim) -> jaccard = c / (|A| + |B| - c).

    Work is Σ df² over shingle posting lists (trigram df is tiny on
    natural text: max 25 at sf0.1 here), never corpus², and the
    shuffled rows are three longs wide — no shingle-array copies at
    all, unlike the blocked array-intersect verifier.

    ``max_df`` is the hot-shingle guard for boilerplate-heavy corpora:
    one shingle shared by 1e6 docs alone contributes 1e12 join rows.
    Shingles with df > max_df are removed from the postings AND from
    both set sizes, so the result is EXACT Jaccard over the reduced
    shingle universe (cap + exactness both): join work is bounded by
    corpus_postings x max_df, and the hot set itself is tiny by
    construction (≤ total_postings / max_df entries), hence the
    broadcast anti-join.  Docs whose every shingle is hot drop out
    (their reduced sets are empty; 0/0 is no pair).

    The per-doc ``sizes`` dim is broadcast-hinted: right for corpora
    to ~1e8 docs (a long+int per doc).  Beyond that, drop the hint —
    ``inter`` is already shuffled on (doc_a, doc_b), and a shuffle
    join of two skinny sides is the correct 1e9-doc plan; the hint
    exists so the explain-only plan audit sees the intended strategy
    without AQE runtime stats.

    The postings relation feeds up to four consumers (df stats, hot
    counts, both join sides), each of which would otherwise recompute
    scan -> tokenize -> shingle -> md5: it is persisted
    MEMORY_AND_DISK — two longs per row, the standard spill-safe
    inverted-index materialization (1.6x faster than recomputing
    even UNcapped at sf0.1; Spark evicts it LRU under pressure)."""
    t = _hashed_shingled(docs, text_col, id_col)
    postings = pin(t.select("doc_id", F.explode("shh").alias("sh")))
    if max_df is not None:
        hot = (
            postings.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("sh")
        )
        # Reduced set sizes in ONE pass over the PERSISTED postings
        # (shh is a distinct set, so |set| = posting count): mark
        # hot postings via the bounded broadcast, then
        # count − count(hot) per doc.  The former shape re-derived
        # sizes from ``t`` — a second full scan→tokenize→shingle→md5
        # pipeline that the postings cache already paid for.
        sizes = (
            postings.join(
                F.broadcast(hot.withColumn("_hot", F.lit(1))),
                on="sh",
                how="left",
            )
            .groupBy("doc_id")
            .agg(
                (F.count(F.lit(1)) - F.count("_hot")).alias("sz")
            )
            .where(F.col("sz") > 0)
        )
        postings = postings.join(F.broadcast(hot), on="sh", how="left_anti")
    else:
        # |set| = posting count (docs with zero shingles can never
        # form a pair, so losing their sz=0 rows changes nothing)
        sizes = postings.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("sz")
        )
    a = postings.select(F.col("doc_id").alias("doc_a"), "sh")
    b = postings.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # sizes is ONE ROW PER DOCUMENT — corpus-sized, so the union-size
    # joins carry NO broadcast hint (a hinted per-doc frame OOMs the
    # build side at 100 TB; AQE promotes to broadcast at small SF
    # where it measures as tiny, and the pair side is already far
    # smaller than the corpus after the threshold-bound counting agg).
    # ``metric``: 'jaccard' = c/(|A|+|B|-c) — symmetric overlap;
    # 'containment' = c/min(|A|,|B|) — the doc-in-doc detector (a
    # short doc fully quoted inside a long one scores ~1.0 here but
    # near 0 on Jaccard: the union is dominated by the long doc).
    # Identical plan either way — only the final arithmetic differs.
    if metric == "jaccard":
        score = F.col("c") / (F.col("sz_a") + F.col("sz_b") - F.col("c"))
    elif metric == "containment":
        score = F.col("c") / F.least(F.col("sz_a"), F.col("sz_b"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sz", "sz_a"
            ),
            on="doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            on="doc_b",
        )
        .withColumn(metric, F.round(score, 4))
        .where(F.col(metric) >= threshold)
        .select("doc_a", "doc_b", metric)
    )


def minhash_signature(sh: Column, n: int = N_MINHASH) -> Column:
    """n-element minhash signature of a shingle array — pure row-local
    array expression (no explode, no shuffle).  Same double-hash
    family as minhash_signatures_agg.  CAUTION: reference this at most
    once downstream — Catalyst duplicates the whole sub-tree per
    reference (see minhash_signatures_agg docstring); the agg variant
    is the scale path."""
    pair = F.transform(
        sh,
        lambda x: F.struct(
            F.conv(F.substring(F.md5(x), 1, 15), 16, 10)
            .cast("long")
            .alias("h1"),
            (F.conv(F.substring(F.md5(x), 17, 15), 16, 10).cast("long")
             % F.lit(4294967296)).alias("h2"),
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda s: F.array_min(
            F.transform(pair, lambda p: p["h1"] + s.cast("long") * p["h2"])
        ),
    )


def band_keys(sig: Column, n_bands: int = N_BANDS, rows: int | None = None) -> Column:
    """Split a signature into band-key strings (joined values)."""
    rows = rows or (N_MINHASH // n_bands)
    keys = [
        F.concat_ws(
            ",",
            *[
                F.element_at(sig, b * rows + j + 1).cast("string")
                for j in range(rows)
            ],
        )
        for b in range(n_bands)
    ]
    return F.array(*keys)


def minhash_signatures_agg(
    docs: DataFrame,
    n: int = N_MINHASH,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Minhash signature as a MAP-ONLY Arrow pass: shingles stay on
    their row; each Arrow batch hashes them with the portable md5
    family and folds the n per-seed minimums in numpy — zero shuffle,
    zero explode.

    Why not the pure array expression (`minhash_signature`)?  Any
    downstream expression that references the signature k times makes
    Catalyst duplicate the whole sub-tree k times — a 16x md5 blowup
    when banding (measured 320s -> 9s at sf0.1).  Why not the earlier
    explode + groupBy(min x n) formulation?  It shuffled one
    (doc_id, h1, h2) row per SHINGLE and re-aggregated — a
    corpus-linear shuffle for values that are computable entirely
    row-locally.  This version materializes the signature columns at
    an Arrow barrier instead of an aggregation barrier (same
    duplicate-subtree protection) and costs one map pass at any
    scale.  Hash family is unchanged — Kirsch-Mitzenmacher double
    hashing, ONE md5 per shingle, g_s = h1 + s*h2 with h1 = hex
    digits 1-15, h2 = digits 17-31 mod 2^32 (no int64 overflow) —
    bit-identical to the DuckDB oracle and prior stored signatures.
    Docs with an empty shingle set emit no row (the explode
    formulation dropped them; banding on an empty text is
    meaningless)."""
    import hashlib

    import numpy as np
    import pandas as pd

    t = _shingled(docs, text_col, id_col).select("doc_id", "sh")
    seeds = np.arange(n, dtype=np.int64)

    def fold(batches):
        # Per-TASK hash memo: shingles repeat heavily across a
        # near-dup corpus (repetition is the operator's premise), and
        # the md5 + hex-parse per shingle is the fold's dominant
        # Python cost — pay it once per distinct shingle per task.
        # Bounded defensively (a task's distinct-shingle count is
        # normally far below the cap); values are deterministic, so
        # eviction only costs recompute.
        memo: dict[str, tuple[int, int]] = {}

        def _h12(s: str) -> tuple[int, int]:
            v = memo.get(s)
            if v is None:
                if len(memo) >= 2_000_000:
                    memo.clear()
                h = hashlib.md5(s.encode("utf-8")).hexdigest()
                v = (int(h[:15], 16), int(h[16:31], 16) % 4294967296)
                memo[s] = v
            return v

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, sh in zip(pdf["doc_id"], pdf["sh"]):
                if sh is None or len(sh) == 0:
                    continue  # null text == empty shingle set: no row
                hh = np.array([_h12(s) for s in sh], dtype=np.int64)
                h1, h2 = hh[:, 0], hh[:, 1]
                ids.append(doc_id)
                sigs.append((h1[None, :] + seeds[:, None] * h2[None, :]).min(axis=1))
            if not ids:
                continue
            S = np.stack(sigs)
            out = {"doc_id": np.array(ids, dtype=np.int64)}
            for s in range(n):
                out[f"s{s}"] = S[:, s]
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(f"s{s} long" for s in range(n))
    return t.mapInPandas(fold, schema=schema)


def _band_array(n: int = N_MINHASH, n_bands: int = N_BANDS) -> Column:
    """LSH band keys over the s0..s{n-1} signature columns: n_bands
    comma-joined groups of n//n_bands slots — ONE definition shared
    by the self-join and cross-corpus paths so banding can never
    desynchronize between them."""
    rows = n // n_bands
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[F.col(f"s{b * rows + j}").cast("string") for j in range(rows)],
            )
            for b in range(n_bands)
        ]
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with true Jaccard.

    Plan shape: scan -> explode shingles -> hash once per seed ->
    partial-agg signature -> band keys -> posexplode(bands) ->
    self-join on (band, key) -> distinct candidate pairs -> rejoin
    shingles -> Jaccard filter.  Data-sized shuffles: the signature
    agg, the band join (docs x N_BANDS rows), and the candidate
    rejoin — all linear in corpus size."""
    sig_df = minhash_signatures_agg(docs, N_MINHASH, text_col, id_col)
    exploded = sig_df.select(
        "doc_id", F.posexplode(_band_array()).alias("band_id", "band_key")
    )
    a = exploded.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    b = exploded.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    cand = (
        a.join(b, on=["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sh = _hashed_shingled(docs, text_col, id_col).select("doc_id", "shh")
    jac4 = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4)
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shh", "sh_a"), on="doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shh", "sh_b"), on="doc_b")
        .withColumn("jaccard", jac4)
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Bit-vote fingerprint: explode distinct tokens -> hash each ONCE
    -> one aggregation producing all per-bit vote sums -> assemble the
    fingerprint from the materialized votes.

    The obvious single-expression fold (aggregate over bits with an
    inner aggregate over token hashes) re-evaluates the token-hash
    array once PER BIT — a 32x md5 blowup, the same Catalyst
    duplication trap as minhash.  The agg form hashes each token once
    and the shuffle carries 32 small ints per doc partial."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"),
    )
    hashed = tok.select("doc_id", hash64(F.col("t")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(
            F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-pairs within Hamming distance via band buckets + popcount
    verification.

    Recall guarantee is the pigeonhole bound: a pair at distance d
    differs in at most d bands, so it collides on >=1 whole band only
    when d <= n_bands - 1.  Asking for a larger radius than the
    banding can guarantee silently loses pairs, so it is an error —
    raise n_bands instead (cost: candidate buckets get coarser keys of
    SIMHASH_BITS/n_bands bits, so more bands means bigger buckets;
    at 100 TB keep band keys >= 8 bits or move to a 64-bit simhash)."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding on {n_bands} segments only guarantees recall for "
            f"hamming <= {n_bands - 1}; got max_hamming={max_hamming}. "
            "Increase n_bands (pigeonhole bound)."
        )
    width = SIMHASH_BITS // n_bands  # band b covers bits [b*width, ...)
    fp = simhash_fingerprints(docs, text_col, id_col)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), width * i)
                        .bitwiseAND(
                            F.lit(
                                (1 << width) - 1
                                if i < n_bands - 1
                                else (1 << (SIMHASH_BITS - width * i)) - 1
                            )
                        )
                        .alias("band_key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_id", "bk.band_key")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"),
        "band_id", "band_key",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"),
        "band_id", "band_key",
    )
    cand = (
        a.join(b, on=["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def neardup_components(
    pairs: DataFrame,
    members: DataFrame | None = None,
    max_iter: int = 12,
) -> DataFrame:
    """Near-dup PAIRS -> canonical dedup GROUPS: connected components
    by iterative min-label propagation, the step that turns a pair
    generator (minhash/simhash/embedding) into an actionable
    keep-one-per-group dedup decision.

    Each round every node adopts the minimum label among itself and
    its neighbors, THEN labels compress through their own canonical
    (label = label-of-label, path halving), so chains resolve in
    O(log diameter) rounds — real near-dup clusters are near-cliques,
    converging in 1-2.  Convergence is checked with one tiny action
    per round and ``max_iter`` bounds lineage depth.  Scale: the edge
    list lives shuffled on node id; each round is two skinny
    aggregations, no array carrying, no driver data.

    ``members`` (optional, one id column) adds singleton components
    for ids with no pairs.  Output: (doc_id, component) where
    component = min doc_id of the group.
    """
    # Lineage-cut the loop-invariant edge list and each round's label
    # frame with localCheckpoint instead of persist: the plan stays a
    # LogicalRDD leaf per round (no per-round plan growth, no
    # quadratic recompute), and nothing lands in the CacheManager, so
    # a repeated invocation computes cold instead of silently reading
    # this one's cache (the r16 contamination class).  Old round RDDs
    # release via the ContextCleaner when their reference drops.  The
    # trade: checkpointed blocks cannot be recomputed from lineage, so
    # on a cluster losing an executor mid-query fails the job.
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nmin").alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # neighbor minimum under current labels
        lbl_dst = labels.select(
            F.col("doc_id").alias("dst"), F.col("component").alias("dlbl")
        )
        nbr = (
            edges.join(lbl_dst, on="dst")
            .groupBy("src")
            .agg(F.min("dlbl").alias("nmin"))
        )
        stepped = (
            labels.join(nbr, labels["doc_id"] == nbr["src"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
        )
        # path halving: follow the label's own label
        thru = stepped.select(
            F.col("doc_id").alias("l2"), F.col("component").alias("c2")
        )
        compressed = (
            stepped.join(thru, stepped["component"] == thru["l2"], "left")
            .select(
                "doc_id",
                F.coalesce("c2", "component").alias("component"),
            )
            # cut each round: the convergence check and the next round
            # would otherwise re-execute every earlier round's joins
            # (lineage grows per iteration -> quadratic recompute).
            # Lazy: the convergence check's full scan materializes it
            # in the same action (one action per round).
            .localCheckpoint(eager=False)
        )
        done = compressed.exceptAll(labels).isEmpty()
        labels = compressed
        if done:
            break
    if members is not None:
        idc = members.columns[0]
        singles = members.select(F.col(idc).alias("doc_id")).join(
            labels.select("doc_id"), on="doc_id", how="left_anti"
        )
        labels = labels.unionByName(
            singles.select("doc_id", F.col("doc_id").alias("component"))
        )
    return labels


def decontam_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per training doc, the count of
    distinct n-gram shingles it shares with an EVAL corpus, plus a
    contaminated flag — the standard pre-training hygiene pass that
    drops documents leaking evaluation data.

    Scale shape (100 TB corpus, MB-scale benchmark): the eval shingle
    set is hashed to longs, sorted, and shipped in the task closure
    (benchmarks are MB against a 100 TB corpus — the set IS the
    index); the corpus pass is then MAP-ONLY: one vectorized
    searchsorted membership count per Arrow batch, zero shuffles
    anywhere.  The earlier explode -> broadcast-join -> re-agg form
    shuffled |corpus shingles| skinny rows just to count them back
    down per doc.  Hash collisions (60-bit) only ever ADD a false
    hit, i.e. decontamination stays conservative.
    reference scope: beyond Bugzilla-ETL — training-data pipeline
    extension (same family as dedup_*)."""
    import numpy as np
    import pandas as pd

    ev_rows = (
        _hashed_shingled(eval_docs, text_col, id_col, sort=False)
        .select(F.explode("shh").alias("sh"))
        .distinct()
        .collect()
    )
    # Ship the sorted eval-shingle index as a Spark BROADCAST, not in
    # the task closure: a closure is re-serialized and re-shipped to
    # the Python worker PER TASK (guide §4.5 — at a benchmark suite of
    # 1e7 shingles that is ~80 MB × tasks), while a broadcast moves
    # once per executor and reused Python workers keep it across
    # tasks.  Same values, same map-only plan.
    spark = docs.sparkSession
    bE = spark.sparkContext.broadcast(
        np.sort(np.array([r.sh for r in ev_rows], dtype=np.int64))
    )

    tr = _hashed_shingled(docs, text_col, id_col, sort=False).select(
        "doc_id", "shh"
    )

    def probe(batches):
        E = bE.value
        for pdf in batches:
            if not len(pdf):
                continue
            # null text -> null shingle array: an absent document
            # overlaps nothing (n=0, clean), row preserved
            arrs = [
                np.asarray(a if a is not None else (), dtype=np.int64)
                for a in pdf["shh"]
            ]
            lens = np.array([len(a) for a in arrs], dtype=np.int64)
            if lens.sum() == 0 or len(E) == 0:
                n = np.zeros(len(pdf), dtype=np.int64)
            else:
                flat = np.concatenate(arrs)
                idx = np.searchsorted(E, flat)
                hit = (idx < len(E)) & (
                    E[np.minimum(idx, len(E) - 1)] == flat
                )
                offsets = np.zeros(len(arrs) + 1, dtype=np.int64)
                np.cumsum(lens, out=offsets[1:])
                csum = np.concatenate(([0], np.cumsum(hit)))
                n = csum[offsets[1:]] - csum[offsets[:-1]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_overlap": n,
                    "contaminated": (n > 0).astype(np.int32),
                }
            )

    return tr.mapInPandas(
        probe, schema="doc_id long, n_overlap long, contaminated int"
    )


def chunk_shared_stats(
    docs: DataFrame,
    width: int = 64,
    stride: int = 32,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-chunk dedup / boilerplate detection: slide a
    width-char window (stride chars apart) over each text, hash the
    chunks, and report per doc how many of its distinct chunks appear
    in >= min_df documents — catching copied PASSAGES (headers,
    license blocks, templated boilerplate) that document-level
    dedup can't see.

    Plan: chunking is a per-row array expression (sequence +
    substring inside one SQL transform — no UDF, no O(len²)), then
    explode -> df-count per chunk hash (one shuffle, partial aggs)
    -> join postings back to the df table on the agg's own
    partitioning -> per-doc count (second shuffle).  The join is 1:1
    per posting row, so hot chunks fan out no further than their own
    posting count — the Σdf² blowup of pair-generating designs never
    appears (this operator COUNTS sharing, it doesn't enumerate
    pairs)."""
    chunk_expr = (
        f"transform(sequence(0, (greatest(length({text_col}) - {width}, 0) "
        f"div {stride})), i -> substring({text_col}, i * {stride} + 1, "
        f"{width}))"
    )
    ch = pin(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    F.transform(F.expr(chunk_expr), lambda c: hash64(c))
                )
            ).alias("chash"),
        )
    )
    df = ch.groupBy("chash").agg(F.count(F.lit(1)).alias("df"))
    shared = F.col("df") >= min_df
    return (
        ch.join(df, on="chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(shared, 1)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_chunks"), 4).alias(
                "shared_frac"
            ),
        )
    )


def minhash_cross_pairs(
    corpus: DataFrame,
    evals: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-corpus near-duplicate contamination: corpus documents
    whose shingle set is near-identical (true Jaccard >= threshold)
    to an EVAL document, with MinHash/LSH banding generating the
    candidates — the near-dup complement of decontam_overlap's
    exact-shingle containment (a paraphrased or lightly-edited eval
    document slips past exact n-gram probes but not past this).

    Scale shape (the MB-eval / 100-TB-corpus asymmetry, same as
    decontam_overlap): the corpus side pays ONE signature pass (the
    map-only Arrow fold of minhash_signatures_agg) and a band
    explode; the eval side's bands AND hashed shingle sets are
    dim-sized by construction and broadcast, so the band join and
    the Jaccard verification add ZERO corpus shuffles — the only
    exchange is the distinct on the (already tiny) candidate set.
    Same banding (16 hashes, 4 bands) and the same verified-Jaccard
    contract as minhash_lsh_pairs."""
    def banded(df: DataFrame, out_id: str) -> DataFrame:
        # helpers emit the id as 'doc_id' whatever id_col was
        sig = minhash_signatures_agg(df, N_MINHASH, text_col, id_col)
        return sig.select(
            F.col("doc_id").alias(out_id),
            F.posexplode(_band_array()).alias("band_id", "band_key"),
        )

    cand = (
        banded(corpus, "doc_id")
        .join(F.broadcast(banded(evals, "eval_id")), on=["band_id", "band_key"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    # verify ONLY the band-collision hits: semi-join the corpus down
    # to candidate ids before re-shingling (shingling the whole
    # corpus a second time would double the corpus-wide text work
    # the signature pass already paid)
    hits = corpus.join(
        cand.select(F.col("doc_id").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    )
    sh_c = _hashed_shingled(hits, text_col, id_col).select(
        "doc_id", F.col("shh").alias("sh_a")
    )
    sh_e = _hashed_shingled(evals, text_col, id_col).select(
        F.col("doc_id").alias("eval_id"), F.col("shh").alias("sh_b")
    )
    return (
        cand.join(sh_c, on="doc_id")
        .join(F.broadcast(sh_e), on="eval_id")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_id", "eval_id", "jaccard")
    )


BLOOM_BITS = 65536  # m = 2^16 bits = 1024 int64 words
BLOOM_K = 4
BLOOM_SEED0 = 100  # seed family offset for the k probe hashes


def bloom_build(eval_docs: DataFrame, text_col: str = "text") -> list:
    """Build a Bloom filter over the eval set's distinct shingles:
    2048 32-bit words (stored in int64 — bit 31 max, so the
    shiftleft can never overflow DuckDB's checked BIGINT shift),
    k=4 portable seeded-md5 probe positions per shingle.  Like the Count-Min and HLL sketches, every operation
    is integer (position -> word via div, bit via shiftleft, fold
    via bit_or), so the filter is BIT-IDENTICAL on any engine; words
    OR-merge across incremental eval additions.

    The build side is eval-sized (benchmarks are MB against a 100 TB
    corpus — the decontam_overlap asymmetry) and aggregates to ≤1024
    rows; returned as a plain list (the bounded model, IVF-centroid
    contract) for the map-only probe."""
    t = _shingled(eval_docs, text_col, "doc_id")
    sh = t.select(F.explode("sh").alias("s")).distinct()
    return bloom_fold_words(sh, "s", BLOOM_SEED0)


def bloom_fold_words(
    values: DataFrame, col: str, seed0: int
) -> list:
    """The shared word-array fold behind every Bloom model in the
    engine (shingle decontamination, key-based join pruning): k=4
    seeded portable-md5 positions per distinct value, position ->
    word via div, bit via shiftleft (bit 31 max — never overflows
    DuckDB's checked BIGINT shift), fold via bit_or, collected as
    the bounded <=2048-word model list.  ONE scan of the value
    frame FOR ANY INPUT: the k positions are one array-of-positions
    projection exploded in place — a per-seed union would only
    collapse to one pass when the child happens to end in a
    reusable exchange (true for bloom_build's shuffled distinct,
    false for bloom_join_prune's un-shuffled filter, which
    re-scanned the source k times under the union form)."""
    pos_arr = F.array(
        *[
            hash64(
                F.concat(
                    F.lit(f"{seed0 + j}:"), F.col(col).cast("string")
                )
            )
            % BLOOM_BITS
            for j in range(BLOOM_K)
        ]
    )
    words = values.select(
        F.explode(pos_arr).alias("pos")
    ).select(
        F.expr("pos div 32").alias("w"),
        F.expr(
            "shiftleft(cast(1 as bigint), cast(pos % 32 as int))"
        ).alias("mask"),
    )
    folded = words.groupBy("w").agg(F.bit_or("mask").alias("bits"))
    arr = [0] * (BLOOM_BITS // 32)
    for r in folded.collect():  # bounded: <= 2048 word rows
        arr[r["w"]] = r["bits"]
    return arr


def bloom_probe(
    docs: DataFrame,
    bloom_words: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe every doc's shingles against the Bloom filter: ONE
    map-only Arrow pass (the decontam_overlap shape, but O(m) sketch
    memory instead of the full sorted eval-hash array — the trade
    when the eval side outgrows the task closure).  The shingle sets
    are computed ENGINE-SIDE (_shingled — the same expression the
    build side and the oracle use) and only hashed in the Arrow pass
    with the portable md5 family, the minhash_signatures_agg
    precedent — so probe tokenization can never desynchronize from
    the filter's.  False positives are possible by design
    (deterministic, engine-identical — the oracle computes the same
    bits); false negatives are not.
    Output: (doc_id, n_shingles, n_hits, flagged)."""
    import hashlib

    import numpy as np
    import pandas as pd

    words = np.array(bloom_words, dtype=np.int64)  # bit 31 max
    seeds = [f"{BLOOM_SEED0 + j}:" for j in range(BLOOM_K)]

    def probe(batches):
        # Per-TASK membership memo: the Bloom verdict for a shingle
        # string is deterministic, and shingles repeat across the
        # corpus — memoizing the final 0/1 skips the k md5 probes for
        # every repeat.  Bounded defensively; eviction only recomputes.
        memo: dict[str, int] = {}

        def _member(sn: str) -> int:
            v = memo.get(sn)
            if v is None:
                if len(memo) >= 2_000_000:
                    memo.clear()
                ok = 1
                for sd in seeds:
                    h = int(
                        hashlib.md5(
                            (sd + sn).encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                    pos = h % BLOOM_BITS
                    if not (int(words[pos // 32]) >> (pos % 32)) & 1:
                        ok = 0
                        break
                memo[sn] = v = ok
            return v

        for pdf in batches:
            ids, nsh, nh = [], [], []
            for did, shs in zip(pdf["doc_id"], pdf["sh"]):
                if shs is None:
                    shs = ()  # null text: zero shingles, zero hits
                hits = 0
                for sn in shs:
                    hits += _member(sn)
                ids.append(did)
                nsh.append(len(shs))
                nh.append(hits)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_shingles": pd.Series(nsh, dtype="int64"),
                    "n_hits": pd.Series(nh, dtype="int64"),
                }
            )

    t = _shingled(docs, text_col, id_col).select("doc_id", "sh")
    out = t.mapInPandas(
        probe, schema="doc_id long, n_shingles long, n_hits long"
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_hits",
        F.when(F.col("n_hits") > 0, 1).otherwise(0).alias("flagged"),
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_bits: int = 60,
) -> DataFrame:
    """Exact duplicated-substring span detection (the ExactSubstr
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") re-expressed Spark-first: instead of a
    suffix array, a positional k-gram inverted index + a
    gaps-and-islands merge.

    A token position is DUPLICATED when the k-gram starting there
    occurs >= 2 times anywhere in the corpus (including the same
    document — exactly the suffix-array semantics at k-token
    granularity).  Overlapping/adjacent duplicated grams of one
    document merge into maximal spans [span_start, span_end]
    (token-indexed, inclusive); removal = dropping those token
    ranges, which this operator reports rather than applies so the
    caller can audit before destroying data.

    Plan shape, in corpus-scale order:
      1. gram stream: map-only posexplode of adjacent k-grams — NO
         shuffle, positions ride along for free;
      2. duplicate detection: groupBy on the 60-bit gram hash with a
         count >= 2 HAVING — map-side combinable, the ONLY
         corpus-grain shuffle, carrying fixed-width keys (the hash,
         not the k*word-length gram text; hash collisions make
         identical false "duplicates" on both engines — at >= 1e9
         distinct grams pass ``hash_bits=128`` for the full md5,
         32 bytes on the wire instead of 8, collisions gone);
      3. occurrence recovery: shuffle hash join of positions against
         the duplicated-hash set on gh — an inverted-index semi-join
         (bloom-prunable at 100 TB; Spark's runtime bloom join
         applies, the positions side never amplifies because each
         occurrence row joins at most once);
      4. island merge: two stacked windows per doc_id (lag + running
         sum) — doc-bounded state, one shuffle keyed on doc_id.

    Spans merge when the next duplicated gram starts within k tokens
    of the previous (overlap OR exact adjacency — adjacent removed
    ranges are one removed range).

    Output: (doc_id, span_start, span_end, span_tokens, n_dup_grams)
    — one row per maximal span; documents without duplicated grams
    emit nothing.
    """
    occ = gram_positions(
        docs, k=k, text_col=text_col, id_col=id_col, hash_bits=hash_bits
    )
    # The gram stream feeds BOTH the duplicate-detection aggregate
    # and the occurrence-recovery join: unpinned, the whole
    # tokenize→slice→md5 pipeline runs twice over the corpus.  Pin
    # the stream for the invocation — it is FIXED-WIDTH integers
    # (doc_id, pos, gh), far narrower than the text it derives from,
    # the same reasoning that keeps gram text off the shuffle wire.
    # Released via the tmpdirs registry at gc/exit.
    occ = pin(occ)
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("gh")
    )
    hits = occ.join(dup, "gh").select("doc_id", "pos")
    return spans_from_hits(hits, k=k)


def gram_positions(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_bits: int = 60,
) -> DataFrame:
    """Positional k-gram stream (doc_id, pos, gh): map-only explode
    of adjacent k-gram START POSITIONS, each gram then built with
    slice + array_join + md5 — ordinary codegen expressions, NO
    higher-order functions.  ``hash_bits`` picks the gram-hash
    width: 60 (default — 8-byte BIGINT shuffle keys, birthday
    collisions negligible below ~1e9 distinct grams) or 128 (the
    full md5 hex — fixed 32-byte keys, collision-free; the setting
    for >= 1e9 distinct grams).  Either way the shuffle carries the
    HASH, never the k*word-length gram text, and the schema is the
    same (doc_id, pos, gh) three columns.  The obvious alternative (ngrams()'s
    zip_with chain, then posexplode) runs k-1 stacked lambda levels
    on Catalyst's INTERPRETED HOF path — measured 1.1 s vs 0.3 s
    for the whole sf0.1 gram stream, the same ~x4 the ivf_assign
    docstring records for expression-path cosine — and this stream
    is evaluated by TWO consumers (the count and the join-back), so
    the HOF tax doubles.  Shared front half of the ExactSubstr
    family (batch duplicate detection AND the ingest-time probe).
    Null text and docs shorter than k emit nothing (the WHEN guard
    also keeps Spark's descending-sequence surprise out: sequence(0,
    size-k) with size < k would count DOWN, not return empty)."""
    if hash_bits not in (60, 128):
        raise ValueError(f"hash_bits must be 60 or 128, got {hash_bits}")
    h = hash64 if hash_bits == 60 else hash128
    tok = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), tok.alias("tk"))
    positions = F.when(
        F.size("tk") >= k,
        F.sequence(F.lit(0), F.size("tk") - k),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        "doc_id", F.explode(positions).alias("pos"), "tk"
    ).select(
        "doc_id",
        "pos",
        h(
            F.array_join(F.slice("tk", F.col("pos") + 1, k), " ")
        ).alias("gh"),
    )


def spans_from_hits(hits: DataFrame, k: int = 8) -> DataFrame:
    """Gaps-and-islands merge of duplicated gram positions into
    maximal spans — the shared back half of the ExactSubstr family.
    ``hits`` = (doc_id, pos) of duplicated k-gram starts; spans merge
    when the next start is within k of the previous (overlap or
    exact adjacency).  Doc-bounded windows, one exchange."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    # two selects: Spark forbids a lag window nested inside the sum
    # window's argument; both land in ONE Window physical node anyway
    # (same partitioning/ordering)
    isl = hits.select("doc_id", "pos", brk.alias("brk")).select(
        "doc_id",
        "pos",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(k)).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            "doc_id", "span_start", "span_end", "span_tokens", "n_dup_grams"
        )
    )


def apply_span_removal(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_bits: int = 60,
) -> DataFrame:
    """Apply ExactSubstr span removal: drop every token covered by a
    duplicated span (exact_substring_spans' removal list — ALL
    occurrences drop, the Lee et al. 2022 policy) and rebuild the
    cleaned text.  Docs without duplicated spans pass through
    unchanged; null text stays null.

    Plan shape: spans aggregate per doc into a (start, end) struct
    array — tiny (only span-bearing docs), so the join back to the
    corpus is broadcast-able and AQE picks that; the rebuild is pure
    codegen column algebra (position-indexed token filter against
    the doc's own span list — spans per doc are few, the exists()
    probe is O(spans) per token with no shuffle).

    Output: (doc_id, n_tokens, removed_tokens, kept_text).
    """
    spans = (
        exact_substring_spans(
            docs, k=k, text_col=text_col, id_col=id_col,
            hash_bits=hash_bits,
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("spans"),
            F.sum("span_tokens").alias("removed_tokens"),
        )
    )
    tok = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), tok.alias("tk")
    ).join(spans, "doc_id", "left")
    kept = F.filter(
        F.zip_with(
            F.col("tk"),
            F.sequence(F.lit(0), F.size("tk") - 1),
            lambda x, i: F.struct(x.alias("x"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: s["i"].between(sp["s"], sp["e"]),
        ),
    )
    return base.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.coalesce(F.col("removed_tokens"), F.lit(0)).alias(
            "removed_tokens"
        ),
        F.when(
            F.col("tk").isNull(), F.lit(None).cast("string")
        ).otherwise(
            F.when(F.col("spans").isNull(), F.concat_ws(" ", "tk"))
            .otherwise(
                F.concat_ws(
                    " ",
                    F.transform(kept, lambda s: s["x"]),
                )
            )
        ).alias("kept_text"),
    )
