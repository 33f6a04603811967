"""Text-analysis queries (SURVEY §2 #33-#36) over ``documents``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions import hashing as H
from bugzilla_etl_spark.functions.hashing import duckdb_hash64
from bugzilla_etl_spark.operators import text as T
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.sources import load_table

DUCK_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SW = "', '".join(T.EN_STOPWORDS)
DUCK_STOP_HITS = f"len(list_filter(tk, t -> list_contains(['{_SW}'], t)))"


@register(
    "lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           n_stop, n_tokens,
           CASE WHEN n_stop::DOUBLE / greatest(n_tokens, 1) >= 0.05
                THEN 'en' ELSE 'unk' END AS lang_guess
    FROM (
        SELECT doc_id, lang,
               {DUCK_STOP_HITS} AS n_stop, len(tk) AS n_tokens
        FROM (SELECT doc_id, lang, {DUCK_TOKENS} AS tk FROM documents)
    )
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language heuristic (the n-gram/model scorer
    slots in behind the same contract)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = T.tokens("text")
    return docs.select(
        "doc_id",
        "lang",
        T.stopword_hits(tok).alias("n_stop"),
        F.size(tok).alias("n_tokens"),
        T.lang_guess(tok).alias("lang_guess"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           len(tk) AS n_tokens,
           round(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]'))::DOUBLE
                 / greatest(length(lower(text)), 1), 4) AS punct_ratio,
           round({DUCK_STOP_HITS}::DOUBLE / greatest(len(tk), 1), 4)
               AS stop_ratio,
           round(list_sum(list_transform(tk, t -> length(t)))::DOUBLE
                 / greatest(len(tk), 1), 4) AS mean_word_len,
           CASE WHEN len(tk) BETWEEN 10 AND 1000
                 AND {DUCK_STOP_HITS}::DOUBLE / greatest(len(tk), 1) >= 0.01
                THEN 1 ELSE 0 END AS quality_keep
    FROM (SELECT doc_id, text, {DUCK_TOKENS} AS tk FROM documents)
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality scoring with a
    keep-flag — the classic pretraining quality filter shape."""
    docs = load_table(spark, sf_dir, "documents")
    tok = T.tokens("text")
    stop_ratio = T.stopword_hits(tok) / F.greatest(F.size(tok), F.lit(1))
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.round(T.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(T.mean_word_len(tok), 4).alias("mean_word_len"),
        F.when(
            F.size(tok).between(10, 1000) & (stop_ratio >= 0.01), 1
        ).otherwise(0).alias("quality_keep"),
    )


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           len({DUCK_TOKENS}) AS n_ws_tokens,
           len(regexp_extract_all(lower(trim(text)),
               '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish segment counts (cost estimation input)."""
    docs = load_table(spark, sf_dir, "documents")
    n_ws, n_bpe = T.token_counts("text")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM documents)
        GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, score, rnk FROM (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4)
                   AS score,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0))
                            DESC, tf.term ASC) AS rnk
        FROM tf JOIN df USING (term) CROSS JOIN n
    ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — term stats via explode +
    two partial aggs; the document-frequency table is vocabulary-
    sized and broadcast back onto the term rows (no fact-side
    shuffle for the join)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar; corpus size is a metadata-cheap count
    score = F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df), on="term")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round(score, 4).alias("score"), "rnk")
    )


_DUCK_DOC_HASH = duckdb_hash64("CAST(doc_id AS VARCHAR)")


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_DUCK_DOC_HASH} % 100 < 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample via the portable key hash — unlike
    rand()-based sampling this is reproducible across engines, runs,
    AND incremental extensions of the corpus (a doc's in/out status
    never flips), which is what a training-data pipeline needs for
    ablations.  Stratification falls out per-language because the
    hash is independent of lang."""
    from bugzilla_etl_spark.functions.hashing import hash64

    docs = load_table(spark, sf_dir, "documents")
    return docs.where(hash64(F.col("doc_id")) % 100 < 20).select(
        "doc_id", "lang"
    )


@register(
    "key_skew_stats",
    oracle="""
    SELECT count(*) AS n_keys,
           max(n) AS max_rows,
           round(avg(n), 4) AS avg_rows,
           round(max(n) / avg(n), 4) AS skew_ratio
    FROM (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    """,
)
def key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostics: per-key row counts -> max/avg skew
    ratio.  This is the measurement that decides when to switch an
    aggregation to the salted two-phase form (SCALING.md skew notes);
    two tiny shuffles (key partials, then a 1-row reduce)."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_rows"),
        F.round(F.avg("n"), 4).alias("avg_rows"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform({DUCK_TOKENS},
                                  t -> {duckdb_hash64('t')} % 1000000007)),
               (acc, h) -> (acc * 131 + h) % 1000000007) END AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.rolling_fingerprint(T.tokens("text")).alias("fingerprint")
    )


_WINNOW_KG_HASH = duckdb_hash64("array_to_string(list_slice(tk, i, i + 2), ' ')")


@register(
    "winnow_fingerprints",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    idx AS (
        SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
        FROM tk
    ),
    kg AS (
        SELECT doc_id, i - 1 AS pos, {_WINNOW_KG_HASH} AS h FROM idx
    ),
    s1 AS (
        SELECT doc_id, pos,
               min(struct_pack(h := h, pos := pos)) OVER wf AS m
        FROM kg
        WINDOW wf AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    fp AS (
        SELECT DISTINCT doc_id, m.h AS fp_hash, m.pos AS fp_pos
        FROM s1 WHERE pos >= 3
    ),
    dsets AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
    dfc AS (SELECT fp_hash, count(*) AS ndocs FROM dsets GROUP BY fp_hash),
    per_pos AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
    per_hash AS (
        SELECT d.doc_id, count(*) AS n_hashes,
               count(CASE WHEN dfc.ndocs >= 2 THEN 1 END) AS n_shared
        FROM dsets d JOIN dfc USING (fp_hash)
        GROUP BY d.doc_id
    )
    SELECT p.doc_id, p.n_fp, h.n_hashes, h.n_shared,
           round(h.n_shared::DOUBLE / h.n_hashes, 4) AS share_frac
    FROM per_pos p JOIN per_hash h USING (doc_id)
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection + cross-doc sharing stats —
    the index-build pass of MOSS-style near-duplicate/plagiarism
    detection (Schleimer et al. 2003; k=3, w=4: any shared token run
    of length >= 6 is guaranteed a shared fingerprint).  Complements
    doc_fingerprint (whole-doc order-sensitive hash) and dedup_chunk
    (fixed-stride character chunks) with position-robust substring
    fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_fingerprints(docs, k=3, w=4)


@register(
    "winnow_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    idx AS (
        SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - 2, 0) + 1)) AS i
        FROM tk
    ),
    kg AS (
        SELECT doc_id, i - 1 AS pos, {_WINNOW_KG_HASH} AS h FROM idx
    ),
    s1 AS (
        SELECT doc_id, pos,
               min(struct_pack(h := h, pos := pos)) OVER wf AS m
        FROM kg
        WINDOW wf AS (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    ),
    fp AS (
        SELECT DISTINCT doc_id, m.h AS fp_hash FROM s1 WHERE pos >= 3
    ),
    nh AS (SELECT doc_id, count(*) AS n_hashes FROM fp GROUP BY doc_id),
    dfc AS (SELECT fp_hash, count(*) AS ndocs FROM fp GROUP BY fp_hash),
    capped AS (
        SELECT f.doc_id, f.fp_hash
        FROM fp f JOIN dfc USING (fp_hash) WHERE ndocs <= 50
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM capped a
        JOIN capped b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           round(p.n_shared::DOUBLE / least(na.n_hashes, nb.n_hashes), 4)
               AS containment
    FROM pairs p
    JOIN nh na ON na.doc_id = p.doc_a
    JOIN nh nb ON nb.doc_id = p.doc_b
    WHERE p.n_shared >= 2
    """,
)
def winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match ranking over winnowing fingerprints: pairs
    sharing >= 2 fingerprints, scored by shared count and containment
    (shared / smaller fingerprint set).  The inverted fingerprint
    index self-joins with a document-frequency cap (df <= 50)
    dropping boilerplate fingerprints BEFORE the join — the same
    hot-key guard as dedup_jaccard_invindex, keeping candidate
    volume bounded by capped postings, never docs²."""
    docs = load_table(spark, sf_dir, "documents")
    return T.winnow_pairs(docs, min_shared=2, max_df=50, k=3, w=4)


@register(
    "heavy_hitters_ngrams",
    oracle=f"""
    WITH tk AS (SELECT {DUCK_TOKENS} AS tk FROM documents),
    g AS (
      SELECT unnest(list_transform(generate_series(1, len(tk) - 2),
                    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ngram
      FROM tk
    )
    SELECT ngram, count(*) AS cnt
    FROM g GROUP BY ngram
    ORDER BY cnt DESC, ngram ASC
    LIMIT 20
    """,
)
def heavy_hitters_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 most frequent token trigrams — the heavy-
    hitter probe a training-data pipeline runs to spot boilerplate
    before dedup (frequent-n-gram lists drive filter rules).

    ONE shuffle end-to-end: explode is map-side, the frequency agg
    is a partial->final hash aggregate (map-side combine collapses a
    hot n-gram to one row per partition BEFORE the exchange, so a
    boilerplate gram repeated a billion times costs one row per
    input partition, not a skewed reduce key), and the global top-20
    plans as TakeOrderedAndProject — a per-partition k-heap merged
    on the driver, never a full sort shuffle.  Ties at the cutoff
    break on the gram text for cross-engine determinism."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(T.ngrams(T.tokens("text"), 3)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(20)
    )


def _token_vocab(docs: DataFrame, drop_empty: bool = False) -> DataFrame:
    """Corpus vocabulary (term, f) — the ONE map-side-combined token
    count both BPE entries build on (#93 counting scan, #183 merge
    loop).  ``drop_empty`` excludes the '' term an empty/whitespace
    document tokenizes to (no symbol sequence exists for it)."""
    vocab = docs.select(F.explode(T.tokens("text")).alias("term"))
    if drop_empty:
        vocab = vocab.where(F.col("term") != "")
    return vocab.groupBy("term").agg(F.count(F.lit(1)).alias("f"))


@register(
    "bpe_pair_counts",
    oracle=f"""
    WITH v AS (
        SELECT term, count(*) AS f
        FROM (SELECT unnest({DUCK_TOKENS}) AS term FROM documents)
        GROUP BY term
    ),
    p AS (
        SELECT unnest(list_transform(range(1, len(term)),
                                     i -> substr(term, i, 2))) AS pair,
               f
        FROM v WHERE len(term) >= 2
    )
    SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT 50
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent symbol-pair frequencies — the first merge
    scan of BPE tokenizer training (the top pair is the first merge
    rule; re-running after a merge is the same plan over the updated
    vocab).

    Scale shape: the corpus compresses to its VOCABULARY first (one
    map-side-combined token count — the only corpus-grain shuffle,
    carrying already-collapsed (term, count) partials), and the
    char-pair explode then runs over vocab-sized input with counts as
    weights — at 100 TB the vocab is millions of rows where the
    token stream is trillions, so pair generation costs ~nothing.
    Top-50 is a TakeOrderedAndProject (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _token_vocab(docs)
    pairs = vocab.where(F.length("term") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(term) - 1),"
                " i -> substring(term, i, 2))"
            )
        ).alias("pair"),
        "f",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(50)
    )


@register(
    "html_strip",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               '<html><body>'
               || CASE WHEN doc_id % 3 = 0 THEN
                    '<nav><a href="/">home</a> <a href="/x">links</a></nav>'
                  ELSE '' END
               || '<p>' || text || '</p><script>var t=1;</script>'
               || '</body></html>' AS html
        FROM documents
    ),
    c AS (
        SELECT doc_id, html,
               trim(regexp_replace(regexp_replace(regexp_replace(html,
                   '<script[^>]*>[^<]*</script>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS clean
        FROM h
    )
    SELECT doc_id,
           len(regexp_extract_all(html, '<[^>]+>')) AS n_tags,
           length(clean) AS clean_len,
           substr(md5(clean), 1, 8) AS clean_sig
    FROM c
    """,
)
def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal — the WET-extraction stage of a crawl pipeline:
    every doc wrapped in a deterministic HTML shell (nav boilerplate
    on every 3rd doc — whose anchor TEXT survives stripping, which is
    exactly why chunk-level dedup exists downstream), then script
    blocks dropped, tags stripped, whitespace collapsed.  Pure
    codegen map (three chained regexp_replace + a count) — zero
    shuffles, scan-bound at 100 TB like pii_scrub; clean_sig proves
    byte-identical extraction across engines."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(
                '<nav><a href="/">home</a> <a href="/x">links</a></nav>'
            ),
        ).otherwise(""),
        F.lit("<p>"),
        F.col("text"),
        F.lit("</p><script>var t=1;</script></body></html>"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    html, r"<script[^>]*>[^<]*</script>", " "
                ),
                r"<[^>]+>",
                " ",
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(html, F.lit(r"<[^>]+>"), F.lit(0))
        ).alias("n_tags"),
        F.length(clean).alias("clean_len"),
        F.substring(F.md5(clean), 1, 8).alias("clean_sig"),
    )


@register(
    "cooccurrence_pmi",
    oracle=f"""
    WITH tk AS (SELECT {DUCK_TOKENS} AS tk FROM documents),
    uni AS (
        SELECT term, count(*) AS c
        FROM (SELECT unnest(tk) AS term FROM tk)
        GROUP BY term
    ),
    big AS (
        SELECT pair, count(*) AS c_ab
        FROM (
            SELECT unnest(list_transform(
                       generate_series(1, len(tk) - 1),
                       i -> concat_ws(' ', tk[i], tk[i+1]))) AS pair
            FROM tk
        )
        GROUP BY pair HAVING count(*) >= 5
    )
    SELECT b.pair, b.c_ab, ua.c AS c_a, ub.c AS c_b,
           (b.c_ab * 1000000000000) // (ua.c * ub.c) AS score
    FROM big b
    JOIN uni ua ON ua.term = string_split(b.pair, ' ')[1]
    JOIN uni ub ON ub.term = string_split(b.pair, ' ')[2]
    ORDER BY score DESC, pair ASC LIMIT 20
    """,
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token pairs by pointwise mutual information —
    the collocation detector that separates real phrases from chance
    adjacency (heavy_hitters_ngrams ranks by raw frequency; PMI
    ranks by ASSOCIATION, c(ab)/(c(a)·c(b)), surfacing rare-but-
    always-together pairs that frequency ranking buries).

    Integer-exact ranking (the pagerank/kmeans rule): for a fixed
    corpus, PMI ordering is monotone in the rational
    c_ab/(c_a·c_b), carried as the scaled integer floor-division
    ``c_ab·10¹² div (c_a·c_b)`` — no log, no float, bit-identical
    across engines.  Overflow bound: c_ab ≤ 10⁶ at this scale keeps
    the numerator < 2⁶³; at trillion-token corpora move the score
    to log-domain doubles (ranking only, values not compared) or a
    128-bit grid.  Pairs under 5 occurrences are dropped — PMI is
    noise-dominated at tiny counts (a hapax bigram of two hapax
    tokens scores the maximum).

    Scale shape: two map-side-combined counting aggs (unigrams =
    vocab-sized, bigrams ≥ 5 = collocation-sized), then the pair
    frame joins the vocab frame twice ON THE TERM KEY — vocab is
    millions of rows at 100 TB (never broadcast-hinted; AQE
    promotes when it fits), and the final top-20 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(T.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        docs.select(F.explode(T.ngrams(T.tokens("text"), 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 5)
    )
    ua = uni.select(F.col("term").alias("ta"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("tb"), F.col("c").alias("c_b"))
    scored = (
        big.withColumn("ta", F.split(F.col("pair"), " ").getItem(0))
        .withColumn("tb", F.split(F.col("pair"), " ").getItem(1))
        .join(ua, on="ta")
        .join(ub, on="tb")
        .select(
            "pair",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "(c_ab * cast(1000000000000 as bigint))"
                " div (c_a * c_b)"
            ).alias("score"),
        )
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("pair").asc()
    ).limit(20)


# ---------------------------------------------------------------------
# BM25 retrieval (#178)

# The retrieval query set is a LITERAL, embedded identically on both
# engines: retrieval benchmarks fix the query set; the corpus is the
# variable.  Terms are drawn from the corpus vocabulary with distinct
# document frequencies so the idf component actually discriminates.
_BM25_QUERIES = (
    (1, "hash join merge"),
    (2, "window sort order"),
    (3, "fast scan filter"),
    (4, "stream batch query"),
    (5, "vector column table"),
    (6, "slow group agg key"),
)
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
_BM25_LN_SQRTS = 20


def _det_ln_sql(u: str) -> str:
    """Engine-insensitive natural log as a SQL fragment: ``u`` is
    range-reduced by {_BM25_LN_SQRTS} repeated sqrts to
    x = u^(1/2^20) (x-1 ~ ln(u)/2^20), then expanded by a two-term
    atanh series, ln(u) = 2^21 * z * (1 + z^2/3), z = (x-1)/(x+1).
    Every op used (+ - * / sqrt) is IEEE-754 correctly rounded on
    BOTH engines, so JVM and DuckDB produce BIT-IDENTICAL doubles —
    unlike libm ``ln``, which is not correctly rounded and may
    differ by ULPs across engines (round-11 advice: a contribution
    within an ULP of a .5 micro-unit boundary could flip score_u by
    1 and near-tie ranks with it).  Error bound (gated against libm
    in tests/test_round13.py): ~2^-32 ~ 2.3e-10 ABSOLUTE — the sqrt
    chain leaves x within an ulp of 1, and the 2^21 factor
    re-amplifies that last-ulp error — plus ~1e-11 RELATIVE from
    series truncation for u up to ~e^30.  Both are orders below the
    0.5 micro-unit (5e-7) that could move a score_u.  This IS the
    operator's definition of idf, shared verbatim by query and
    oracle, so the cross-engine boundary hazard vanishes rather
    than shrinks."""
    x = u
    for _ in range(_BM25_LN_SQRTS):
        x = f"sqrt({x})"
    z = f"(({x} - 1.0) / ({x} + 1.0))"
    return f"(2097152.0 * ({z} * (1.0 + ({z} * {z}) / 3.0)))"


def _bm25_cu_sql(n_docs: str, n_texts: str, tot_tokens: str) -> str:
    """The per-(doc, term) BM25 contribution in integer micro-units,
    as ONE SQL fragment evaluated by both engines over identical
    integer inputs (columns tf/df/dl plus the three corpus scalars).
    avgdl is never materialized as a float: dl/avgdl is computed as
    (dl * n_texts) / tot_tokens from exact integers (one correctly-
    rounded multiply + divide), immune to summation-order ULPs in a
    float avg.  dl * n_texts stays exact below 2^53 — at ~10^4
    tokens/doc that holds to ~10^11 documents; beyond, pre-scale
    dl to a double first."""
    u = f"(({n_docs} - df + 0.5) / (df + 0.5) + 1.0)"
    idf = _det_ln_sql(u)
    norm = (
        f"(tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B}"
        f" * ((dl * {n_texts}) / {tot_tokens})))"
    )
    return (
        f"CAST(floor({idf} * (tf * ({_BM25_K1} + 1.0))"
        f" / {norm} * 1000000.0 + 0.5) AS BIGINT)"
    )


@register(
    "bm25_topk",
    oracle=f"""
    WITH q(query_id, qtext) AS (VALUES
        {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}
    ), qterm AS (
        SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term
        FROM q
    ), dl AS (
        SELECT doc_id,
               len({DUCK_TOKENS}) AS dl
        FROM documents WHERE text IS NOT NULL
    ), stats AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT count(*) FROM dl) AS n_texts,
               (SELECT coalesce(sum(dl), 0)::BIGINT FROM dl)
                   AS tot_tokens
    ), tf AS (
        SELECT t.doc_id, t.term, count(*) AS tf, any_value(dl.dl) AS dl
        FROM (SELECT doc_id, unnest({DUCK_TOKENS}) AS term
              FROM documents WHERE text IS NOT NULL) t
        JOIN dl ON dl.doc_id = t.doc_id
        WHERE t.term IN (SELECT term FROM qterm)
        GROUP BY t.doc_id, t.term
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), joined AS (
        SELECT qterm.query_id, tf.doc_id, tf.tf AS tf, df.df AS df,
               tf.dl AS dl, stats.n_docs AS n_docs,
               stats.n_texts AS n_texts,
               CASE WHEN stats.tot_tokens = 0 THEN 1
                    ELSE stats.tot_tokens END AS tot_tokens
        FROM tf
        JOIN qterm ON qterm.term = tf.term
        JOIN df ON df.term = tf.term
        CROSS JOIN stats
    ), contrib AS (
        SELECT query_id, doc_id,
               {_bm25_cu_sql("n_docs", "n_texts", "tot_tokens")} AS c_u
        FROM joined
    )
    SELECT query_id, doc_id, score_u, rnk FROM (
        SELECT query_id, doc_id, sum(c_u)::BIGINT AS score_u,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sum(c_u) DESC, doc_id ASC) AS rnk
        FROM contrib GROUP BY query_id, doc_id
    ) WHERE rnk <= {_BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (#178): rank documents against a fixed
    query set with Okapi BM25 (k1=1.2, b=0.75, Lucene idf).  The
    scale shape is the point: the query vocabulary is tiny and
    BROADCAST, so the corpus token stream is semi-filtered MAP-SIDE
    (isin over the literal vocab reaches the scan side of the
    explode) before any shuffle — tf/df aggregate only query-vocab
    tokens, never the full term stream; corpus-wide N / n_texts /
    total-token-count are three scalar aggregates in one scan.
    Cross-engine exactness is BY CONSTRUCTION, not by tolerance:
    per-term contributions are computed by the shared SQL fragment
    ``_bm25_cu_sql`` — idf via the arithmetic-only ``_det_ln_sql``
    (repeated-sqrt + atanh series, every op IEEE correctly rounded,
    so JVM and DuckDB agree bit for bit), dl/avgdl as exact-integer
    (dl * n_texts) / tot_tokens — then rounded to integer micro-units
    BEFORE the sum (integer sums are order-insensitive), and the
    top-k tie-break (score, doc_id) is total.  reference: the
    jx-side term scoring this generalizes (jx_elasticsearch scoring
    passthrough); a training-data pipeline's retrieval/decontam dual.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = sorted({t for _, q in _BM25_QUERIES for t in q.split()})
    qterm = spark.createDataFrame(
        [(i, t) for i, q in _BM25_QUERIES for t in set(q.split())],
        "query_id int, term string",
    )
    nn = docs.where(F.col("text").isNotNull())
    # Tokenize the corpus ONCE: the naive shape split() every text
    # three times (dl, the explode, and the corpus-scalar pass).
    # Here one map-only pass computes per-doc (dl, query-vocab
    # tokens) — the filtered token array is bounded by the tiny
    # broadcast vocabulary, so the persisted frame is SKINNY (a
    # long + a near-empty array per doc, never the full term
    # stream); tf, n_texts and tot_tokens all fold from it, and
    # n_docs is a metadata-cheap count over the parquet footers.
    # Released via the tmpdirs cleanup registry at gc/exit.
    from bugzilla_etl_spark.tmpdirs import pin

    pre = pin(
        nn.select("doc_id", T.tokens("text").alias("_tk"))
        .select(
            "doc_id",
            F.size("_tk").alias("dl"),
            F.filter(
                "_tk", lambda t: t.isin(vocab)
            ).alias("_qtk"),
        )
    )
    with_dl = pre.select(
        "doc_id", "dl", F.explode("_qtk").alias("term")
    )
    tf = with_dl.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus scalars fold from the persisted pass — exact INTEGERS
    # (count, non-null-text count, total token count), so the
    # avgdl-equivalent ratio is immune to float-summation order
    n_docs = docs.count()
    n_texts, tot_tokens = pre.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()
    if not tot_tokens:
        n_texts, tot_tokens = 0, 1  # empty/all-null: no tf rows anyway
    c_u = F.expr(
        _bm25_cu_sql(str(n_docs), str(n_texts), str(tot_tokens))
    )
    scored = (
        tf.join(F.broadcast(df), on="term")
        .join(F.broadcast(qterm), on="term")
        .select("query_id", "doc_id", c_u.alias("c_u"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_u").alias("score_u"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _BM25_TOPK)
        .select("query_id", "doc_id", "score_u", "rnk")
    )


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE round: pair counts over rep{i-1}, top merge
    (cnt DESC, pair ASC), non-overlapping left-to-right application
    via list_reduce (seeded with the first element — the same step
    sequence as bpe_merge_fold's ''-seeded fold).  LEFT JOIN ON TRUE
    keeps the representation unchanged when no pair exists (all
    single-symbol vocab), matching the Spark loop's early break."""
    return f""",
    p{i} AS (
        SELECT s.pa AS pa, s.pb AS pb, sum(f) AS cnt FROM (
            SELECT f, unnest(list_transform(range(1, len(l)),
                j -> {{pa: l[j], pb: l[j+1]}})) AS s
            FROM rep{i - 1}) GROUP BY 1, 2
    ),
    m{i} AS (SELECT pa, pb FROM p{i}
             ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1),
    rep{i} AS (
        SELECT term, f,
               CASE WHEN m.pa IS NULL THEN l
                    ELSE string_split(list_reduce(l, (acc, x) ->
                        CASE WHEN x = m.pb AND (acc = m.pa
                                 OR ends_with(acc, ' ' || m.pa))
                             THEN acc || x
                             ELSE acc || ' ' || x END), ' ')
               END AS l
        FROM rep{i - 1} LEFT JOIN m{i} m ON TRUE
    )"""


_BPE_ROUNDS = 4


@register(
    "bpe_apply",
    oracle=f"""
    WITH v AS (
        SELECT term, count(*) AS f
        FROM (SELECT unnest({DUCK_TOKENS}) AS term FROM documents)
        WHERE term <> '' GROUP BY term
    ),
    rep0 AS (
        SELECT term, f,
               list_transform(range(1, len(term) + 1),
                              i -> term[i]) AS l
        FROM v
    ){"".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))}
    SELECT term, f, array_to_string(l, ' ') AS bpe,
           len(l) AS n_sym
    FROM rep{_BPE_ROUNDS}
    """,
)
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training LOOP: 4 rounds of (weighted pair count
    -> top merge -> non-overlapping left-to-right merge application)
    over the corpus vocabulary — the iterative half bpe_pair_counts
    (#93) scans once.  Output: every term with its frequency, final
    symbol sequence, and symbol count.

    Merge application is the classic stateful fold ('a a a' under
    merge (a,a) -> 'aa a') expressed declaratively on BOTH engines
    (F.aggregate / list_reduce — identical step sequence, see
    operators.text.bpe_merge_fold).  Scale: corpus-grain work is one
    map-side-combined token count; all 4 rounds run at VOCAB grain
    with 1-row bounded-model merge selection per round.
    reference scope: training-data pipeline extension."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_learn(_token_vocab(docs, drop_empty=True),
                       rounds=_BPE_ROUNDS)


def duck_bpe_term_ids(train_where: str = "") -> str:
    """Oracle CTE chain v → rep0..repN → sym_ids → term_ids: the
    learned tokenizer's term→ids table over ``documents``
    [``train_where``] — shared by #188 (trained on the whole
    corpus) and the ingest twin (trained on the reference half)."""
    return f"""v AS (
        SELECT term, count(*) AS f
        FROM (SELECT unnest({DUCK_TOKENS}) AS term
              FROM documents{train_where})
        WHERE term <> '' GROUP BY term
    ),
    rep0 AS (
        SELECT term, f,
               list_transform(range(1, len(term) + 1),
                              i -> term[i]) AS l
        FROM v
    ){"".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))},
    sym_ids AS (
        SELECT sym, row_number()
                   OVER (ORDER BY {duckdb_hash64("sym")} % 256, sym)
                   AS tok_id
        FROM (SELECT DISTINCT unnest(l) AS sym FROM rep{_BPE_ROUNDS})
    ),
    term_ids AS (
        SELECT tp.term, list(si.tok_id ORDER BY tp.pos) AS ids
        FROM (SELECT term, unnest(l) AS sym,
                     unnest(range(1, len(l) + 1)) AS pos
              FROM rep{_BPE_ROUNDS}) tp
        JOIN sym_ids si ON si.sym = tp.sym
        GROUP BY tp.term
    )"""


def duck_bpe_encode(
    train_where: str = "", encode_where: str = "", unk: bool = False
) -> str:
    """Full oracle: encode ``documents`` [``encode_where``] with the
    tokenizer learned over ``documents`` [``train_where``].  With
    ``unk`` an out-of-vocabulary term contributes the single id 0
    (LEFT join + coalesce — the ingest twin's policy; without it the
    join is inner, exact for vocab==corpus)."""
    join = "LEFT JOIN" if unk else "JOIN"
    ids = "coalesce(ti.ids, [0])" if unk else "ti.ids"
    return f"""
    WITH {duck_bpe_term_ids(train_where)},
    dt AS (
        SELECT doc_id,
               coalesce(list_filter({DUCK_TOKENS}, t -> t <> ''),
                        []) AS tk
        FROM documents{encode_where}
    ),
    enc AS (
        SELECT dp.doc_id,
               CAST(sum(len({ids})) AS BIGINT) AS n_tokens,
               string_agg(array_to_string({ids}, ' '), ' '
                          ORDER BY dp.pos) AS token_ids
        FROM (SELECT doc_id, unnest(tk) AS term,
                     unnest(range(1, len(tk) + 1)) AS pos
              FROM dt) dp
        {join} term_ids ti ON ti.term = dp.term
        GROUP BY dp.doc_id
    )
    SELECT dt.doc_id,
           CAST(len(dt.tk) AS BIGINT) AS n_terms,
           CAST(coalesce(e.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(e.token_ids, '') AS token_ids
    FROM dt LEFT JOIN enc e USING (doc_id)
    """


@register(
    "bpe_encode",
    oracle=duck_bpe_encode(),
    conf={PARALLELISM_FIRST: "false"},
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-grain tokenization with the learned BPE merges — the
    production step a training pipeline actually runs after #183's
    training loop: every document encoded to token IDS with the
    learned tokenizer (token_count/seq_packing-style consumers then
    operate on real ids, not whitespace counts).  Output per doc:
    term count, total token count, and the id sequence
    (space-joined; deterministic dense ids = the symbol's rank in
    (portable-hash-bucket, symbol) order — a two-level rank so NO
    global unpartitioned window exists even at a 1e8-symbol vocab:
    within-bucket row_number is a partitioned window, bucket
    offsets come from a 256-row bounded-model fold).

    Scale shape — the word-cache trick every production tokenizer
    uses, expressed relationally: per-TERM encode cost is paid once
    at VOCAB grain (bpe_learn's output already carries each term's
    final symbol sequence; symbol->id is a vocab-grain broadcast
    join), then the whole term->ids mapping folds into a ONE-ROW map
    literal that broadcasts to the corpus pass.  The corpus itself is
    ENCODED MAP-ONLY: one crossJoin with the 1-row map (the
    documented bounded-broadcast exception) + element_at lookups
    inside whole-stage codegen — zero corpus shuffles, no Python.
    At 100 TB with a vocab too large to broadcast (rare: even a
    billion-token web corpus has ~1e7-1e8 distinct lowercased terms,
    a few GB of map), ``map_mode="join"`` swaps the fold for a
    token-grain shuffle hash join on term — two token-grain
    exchanges (join + doc regroup), wired and oracle-checked as its
    own catalog entry #191 ``bpe_encode_join`` (r15 verdict task 2).
    reference scope: training-data pipeline extension (pairs with
    #93/#183; r14 verdict task 8)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_docs(docs, bpe_tokenizer_map(spark, docs))


@register("bpe_encode_join", oracle=duck_bpe_encode())
def bpe_encode_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#188's large-vocab fallback as a first-class oracle-checked
    entry: identical output contract (same DuckDB oracle — whose
    own shape IS the join form), but the vocab is consumed at TERM
    grain via ``map_mode="join"`` instead of the one-row broadcast
    map — the plan a 100 TB corpus runs when the folded map exceeds
    broadcast size.  Exactly two token-grain exchanges (shuffle-hash
    join on term, then the per-doc position-order regroup), zero
    broadcast of the vocab (plan-asserted), no global window.
    reference scope: training-data pipeline extension (r15 verdict
    task 2 — the hash_bits precedent: a documented scale knob must
    be a WIRED, oracle-checked parameter, not prose)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_docs(
        docs, bpe_tokenizer_terms(spark, docs), map_mode="join"
    )


def bpe_tokenizer_terms(
    spark: SparkSession, train_docs: DataFrame
) -> DataFrame:
    """Learn the BPE tokenizer over ``train_docs`` and return the
    VOCAB-grain (term, ids) frame — each distinct term mapped to its
    token-id sequence.  This is the join-mode encode input
    (``bpe_encode_docs(map_mode="join")``) and the stage
    ``bpe_tokenizer_map`` folds into the one-row broadcast map.

    Ids are deterministic dense ranks WITHOUT a global unpartitioned
    window (the fleet ban: at 100 TB the symbol table is vocab-sized
    — 1e7-1e8 rows — and a global row_number funnels it through ONE
    task's sort).  Two-level rank, the paned-family decomposition:
    ids order by (portable-hash-bucket % 256, sym) — within-bucket
    row_number over a PARTITIONED window + per-bucket offsets from a
    <=256-row count table (a bounded-model fold, the kmeans-centroid
    precedent; exactly 256 buckets by construction, not
    data-dependent).  Both engines compute the identical order.  On
    an empty corpus collect_list yields [] and the map is {} — every
    doc then encodes to the empty sequence, matching the oracle."""
    learned = T.bpe_learn(
        _token_vocab(train_docs, drop_empty=True), rounds=_BPE_ROUNDS
    )
    syms = (
        learned.select(F.explode(F.split("bpe", " ")).alias("sym"))
        .distinct()
    )
    part = F.pmod(H.hash64(F.col("sym")), F.lit(256))
    syms2 = syms.select("sym", part.alias("part"))
    in_rank = F.row_number().over(
        Window.partitionBy("part").orderBy("sym")
    )
    counts = {
        r.part: r.c
        for r in syms2.groupBy("part")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets, acc = [], 0
    for p in sorted(counts):
        offsets.append((p, acc))
        acc += counts[p]
    off_df = spark.createDataFrame(
        offsets or [], "part int, off long"
    )
    sym_ids = (
        syms2.withColumn("in_rank", in_rank)
        .join(F.broadcast(off_df), "part")
        .select(
            "sym",
            (F.col("off") + F.col("in_rank")).cast("long").alias("tok_id"),
        )
    )
    term_ids = (
        learned.select(
            "term",
            F.posexplode(F.split("bpe", " ")).alias("pos", "sym"),
        )
        .join(F.broadcast(sym_ids), "sym")
        .groupBy("term")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "tok_id"))
            ).alias("ps")
        )
        .select(
            "term",
            F.expr("transform(ps, s -> s.tok_id)").alias("ids"),
        )
    )
    return term_ids


def bpe_tokenizer_map(spark: SparkSession, train_docs: DataFrame) -> DataFrame:
    """``bpe_tokenizer_terms`` folded to the ONE-ROW (term →
    id-sequence) map frame — the broadcastable artifact the
    broadcast-mode encode pass (and its ingest twin) consumes."""
    return fold_term_map(bpe_tokenizer_terms(spark, train_docs))


def fold_term_map(term_ids: DataFrame) -> DataFrame:
    """Fold a (term, ids) frame into the one-row map literal the
    broadcast encode path crossJoins — separated out so a SAVED
    vocab-grain tokenizer artifact can be folded at load time
    without re-learning (the stream_bpe_encode store path)."""
    return term_ids.agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "ids"))
        ).alias("_m")
    )


def bpe_encode_docs(
    docs: DataFrame,
    tok_map: DataFrame,
    unk: bool = False,
    carry: tuple[str, ...] = (),
    ids_array: bool = False,
    map_mode: str = "broadcast",
) -> DataFrame:
    """Encode ``docs`` (doc_id, text) with the learned tokenizer.

    ``map_mode`` picks the vocab-distribution strategy (the r15
    verdict's wire-the-prose task, the ``hash_bits`` precedent):

    - ``"broadcast"`` (default): ``tok_map`` is the ONE-ROW map from
      ``bpe_tokenizer_map`` — one map-only corpus pass (element_at
      lookups in codegen, zero corpus exchanges).  The right plan
      whenever the vocab fits a broadcast (even a billion-token web
      corpus has ~1e7-1e8 distinct lowercased terms, a few GB).
    - ``"join"``: ``tok_map`` is the VOCAB-grain (term, ids) frame
      from ``bpe_tokenizer_terms`` — the large-vocab fallback when
      the folded map exceeds broadcast size.  posexplode_outer the
      term stream, shuffle-hash join on term (hinted: AQE would
      broadcast a test-scale vocab, bypassing the shape being
      demonstrated), re-aggregate per doc in position order.  Costs
      exactly TWO token-grain exchanges — the term-keyed join and
      the doc_id regroup; the earlier prose claiming "one corpus
      shuffle" undercounted the regroup, corrected here.  No global
      window; empty docs survive via posexplode_outer's null row.

    With ``unk`` an out-of-vocabulary term contributes the single
    id 0 — the ingest twin's policy, where incoming docs carry terms
    the frozen reference tokenizer never saw; without it the lookup
    is exact by construction (vocab == corpus; a hypothetical OOV
    term drops, matching the oracle's inner join).  ``carry`` lists
    extra input columns to pass through unchanged (e.g. the source
    stream a downstream packer partitions by).  ``ids_array`` swaps
    the space-joined ``token_ids`` string for the raw ``ids``
    array<bigint> — the form a downstream TOKEN-grain consumer
    (seq_packing_ids) wants; serializing the whole token stream to
    a string only to regex-split it back would be pure waste on
    that path (r15 review)."""
    if map_mode not in ("broadcast", "join"):
        raise ValueError(
            f"map_mode must be 'broadcast' or 'join', got {map_mode!r}"
        )
    if map_mode == "join":
        return _bpe_encode_docs_join(docs, tok_map, unk, carry, ids_array)
    lookup = "element_at(_m, t)"
    if unk:
        lookup = f"coalesce({lookup}, array(cast(0 AS bigint)))"
    toks = F.coalesce(
        F.filter(T.tokens("text"), lambda t: t != F.lit("")),
        F.array().cast("array<string>"),
    )
    enc = f"flatten(transform(_tk, t -> {lookup}))"
    payload = (
        F.col("_ids").alias("ids")
        if ids_array
        else F.array_join(
            F.expr("transform(_ids, x -> cast(x AS string))"),
            " ",
        ).alias("token_ids")
    )
    # Two-step projection so the id-sequence expression evaluates
    # ONCE per row: n_tokens and the payload both read the ``_ids``
    # alias instead of re-running the whole per-token map-lookup
    # chain (higher-order functions are interpreted — no codegen
    # subexpression elimination saves you — so the single-projection
    # form paid the full vocab-lookup pass twice per document).
    # CollapseProject leaves this split alone: ``_ids`` is referenced
    # twice and is not a cheap expression.
    return (
        docs.select("doc_id", *carry, toks.alias("_tk"))
        .crossJoin(F.broadcast(tok_map))
        .select(
            "doc_id",
            *carry,
            F.size("_tk").cast("long").alias("n_terms"),
            F.expr(enc).alias("_ids"),
        )
        .select(
            "doc_id",
            *carry,
            "n_terms",
            F.size("_ids").cast("long").alias("n_tokens"),
            payload,
        )
    )


def _bpe_encode_docs_join(
    docs: DataFrame,
    term_ids: DataFrame,
    unk: bool,
    carry: tuple[str, ...],
    ids_array: bool,
) -> DataFrame:
    """map_mode="join" body: the large-vocab fallback documented in
    ``bpe_encode_docs``.  One pass, no rejoin: n_terms and the carry
    columns ride the exploded term stream (a long and the caller's
    scalars — not the token array), so the doc row reassembles in
    the same aggregation that reassembles the ids."""
    toks = F.coalesce(
        F.filter(T.tokens("text"), lambda t: t != F.lit("")),
        F.array().cast("array<string>"),
    )
    stream = docs.select(
        "doc_id", *carry, toks.alias("_tk")
    ).select(
        "doc_id",
        *carry,
        F.size("_tk").cast("long").alias("n_terms"),
        F.posexplode_outer("_tk").alias("pos", "term"),
    )
    joined = stream.join(term_ids.hint("shuffle_hash"), "term", "left")
    empty = F.array().cast("array<bigint>")
    if unk:
        ids_eff = F.when(F.col("term").isNull(), empty).otherwise(
            F.coalesce(
                F.col("ids"), F.array(F.lit(0).cast("bigint"))
            )
        )
    else:
        # a null here is either the empty-doc sentinel row or a
        # (contract-violating) OOV term; both contribute the empty
        # sequence — identical to the oracle's inner join dropping
        # the token while the doc row survives the outer CTE join
        ids_eff = F.coalesce(F.col("ids"), empty)
    enc = (
        joined.select(
            "doc_id", *carry, "n_terms", "pos", ids_eff.alias("_tids")
        )
        .groupBy("doc_id", *carry, "n_terms")
        .agg(
            F.expr(
                "flatten(transform(array_sort(collect_list("
                "struct(pos, _tids))), s -> s._tids))"
            ).alias("_ids")
        )
    )
    payload = (
        F.col("_ids").alias("ids")
        if ids_array
        else F.array_join(
            F.expr("transform(_ids, x -> cast(x AS string))"), " "
        ).alias("token_ids")
    )
    return enc.select(
        "doc_id",
        *carry,
        "n_terms",
        F.size("_ids").cast("long").alias("n_tokens"),
        payload,
    )
