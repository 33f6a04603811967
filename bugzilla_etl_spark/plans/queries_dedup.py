"""Dedup queries (SURVEY §2 #26-#30) over the ``documents`` /
``embeddings`` tables, each with a full DuckDB oracle built from the
same portable hash family.

Shared SQL fragments keep the Spark and DuckDB shingle/minhash
pipelines textually aligned — the oracle recomputes signatures from
scratch with 1-based list indexing, Spark with 0-based sequences;
both produce identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import (
    duckdb_hash64,
    duckdb_hash128,
)
from bugzilla_etl_spark.operators import dedup as D
from bugzilla_etl_spark.operators import similarity as SIM
from bugzilla_etl_spark.operators import text as T
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.sources import load_table

# --- shared DuckDB fragments -------------------------------------------------

_H = duckdb_hash64("{x}")  # portable hash template

DUCK_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
DUCK_SHINGLES = (
    "list_distinct(CASE WHEN len(tk) >= 3 THEN "
    "list_transform(range(1, len(tk)-1), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]) "
    "ELSE [] END)"
)
# minhash signature: 16 double-hashed mins over the shingle set
# (g_s = h1 + s*h2, mirroring minhash_signatures_agg)
_D_H1 = "(('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT)"
_D_H2 = "((('0x' || substr(md5(x), 17, 15))::UBIGINT::BIGINT) % 4294967296)"
DUCK_SIG = (
    "list_transform(range(0,16), s -> list_min(list_transform(sh, x -> "
    f"{_D_H1} + s * {_D_H2})))"
)
# 4 band keys of 4 signature slots each (1-based slices)
DUCK_BANDS = (
    "list_transform(range(0,4), b -> "
    "list_aggregate(list_slice(sig, 4*b+1, 4*b+4), 'string_agg', ','))"
)
DUCK_JAC = (
    "(len(list_intersect(sh_a, sh_b))::DOUBLE"
    " / greatest(len(list_distinct(list_concat(sh_a, sh_b))), 1))"
)


# full 128-bit md5 hex — exact dedup must not truncate (collision
# odds on 60 bits reach ~40% at 1e9 docs)
_DUCK_NORM_HASH = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"


@register(
    "dedup_exact",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, {_DUCK_NORM_HASH} AS text_hash
        FROM documents
    )
    SELECT doc_id, text_hash,
           min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id,
           count(*) OVER (PARTITION BY text_hash) AS group_size
    FROM keyed
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text hash (canonical id per group)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_groups(docs)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, tk[1] AS block, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round({DUCK_JAC.replace('sh_a', 'a.sh').replace('sh_b', 'b.sh')}, 4)
               AS jaccard
    FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE {DUCK_JAC.replace('sh_a', 'a.sh').replace('sh_b', 'b.sh')} >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs under first-token blocking."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents)
    ), sig AS (
        SELECT doc_id, sh, {DUCK_SIG} AS sig FROM t
    ), banded AS (
        SELECT doc_id, unnest(generate_series(0,3)) AS band_id,
               unnest(bands) AS band_key
        FROM (SELECT doc_id, {DUCK_BANDS} AS bands FROM sig)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round({DUCK_JAC.replace('sh_a','ta.sh').replace('sh_b','tb.sh')}, 4)
               AS jaccard
    FROM cand
    JOIN t ta ON ta.doc_id = cand.doc_a
    JOIN t tb ON tb.doc_id = cand.doc_b
    WHERE {DUCK_JAC.replace('sh_a','ta.sh').replace('sh_b','tb.sh')} >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidates, Jaccard-verified."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.5)


# hashed shingle set (sorted long array), mirroring _hashed_shingled
_DUCK_SHH = (
    "list_sort(list_transform(sh, s -> "
    + duckdb_hash64("s")
    + "))"
)
_DUCK_JACH = (
    "(len(list_intersect(sh_a, sh_b))::DOUBLE"
    " / greatest(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)), 1))"
)


@register(
    "dedup_jaccard_invindex",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_SHH} AS shh
        FROM (SELECT doc_id, {DUCK_SHINGLES} AS sh
              FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents))
    ), postings0 AS (
        SELECT doc_id, unnest(shh) AS sh FROM t
    ), hot AS (
        SELECT sh FROM postings0 GROUP BY sh HAVING count(*) > 64
    ), postings AS (
        SELECT doc_id, sh FROM postings0
        WHERE sh NOT IN (SELECT sh FROM hot)
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM postings a JOIN postings b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sizes AS (SELECT doc_id, count(*) AS sz FROM postings GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(c::DOUBLE / (sa.sz + sb.sz - c), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(c::DOUBLE / (sa.sz + sb.sz - c), 4) >= 0.5
    """,
)
def dedup_jaccard_invindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus EXACT Jaccard pairs via inverted index: |A∩B| by
    counting shared shingles — skinny-row shuffles only, no arrays in
    the pair phase, no blocking key.  max_df=64 is the hot-shingle
    guard (trigram df maxes at 25 on this corpus, so the cap verifies
    the guarded plan without changing results; sizes are derived from
    the FILTERED postings so a binding cap would stay exact)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.jaccard_pairs_invindex(docs, threshold=0.5, max_df=64)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH hs AS (
        SELECT doc_id,
               list_transform(list_distinct({DUCK_TOKENS}),
                              t -> {duckdb_hash64('t')}) AS hv
        FROM documents
        -- signature-op null contract: null text emits no fingerprint
        -- (matches the Spark explode, which emits no token rows)
        WHERE text IS NOT NULL
    )
    SELECT doc_id,
           list_sum(list_transform(range(0,32), b ->
               CASE WHEN list_sum(list_transform(hv, h ->
                        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT
               AS simhash
    FROM hs
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_fingerprints(docs)


_DUCK_SIMHASH = """
    list_sum(list_transform(range(0,32), b ->
        CASE WHEN list_sum(list_transform(hv, h ->
                 CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT
"""


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH hs AS (
        SELECT doc_id,
               list_transform(list_distinct({DUCK_TOKENS}),
                              t -> {duckdb_hash64('t')}) AS hv
        FROM documents
        -- signature-op null contract: null text emits no fingerprint
        -- (matches the Spark explode, which emits no token rows)
        WHERE text IS NOT NULL
    ), fp AS (
        SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM hs
    ), banded AS (
        SELECT doc_id, simhash,
               unnest(generate_series(0,3)) AS band_id,
               unnest(list_transform(range(0,4),
                      i -> (simhash >> (8*i)) & 255)) AS band_key
        FROM fp
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS fp_a, b.simhash AS fp_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 2
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: byte-band candidates + Hamming<=2 verify."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, max_hamming=2)


@register(
    "embedding_neardup",
    oracle="""
    WITH t AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 greatest(sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v)), 1e-12), 4)
               AS cos
    FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) /
                greatest(sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v)), 1e-12), 4) >= 0.35
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within IVF cells (label)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # max_cell=128 binds at sf0.1 (largest label cell: 218 vectors)
    # so the gate exercises the salted sub-cell plan; results are
    # provably identical to the unguarded join (oracle unchanged).
    return SIM.label_blocked_neardup(emb, threshold=0.35, max_cell=128)


@register(
    "dedup_components",
    conf={PARALLELISM_FIRST: "false"},
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents)
    ), sig AS (
        SELECT doc_id, sh, {DUCK_SIG} AS sig FROM t
    ), banded AS (
        SELECT doc_id, unnest(generate_series(0,3)) AS band_id,
               unnest(bands) AS band_key
        FROM (SELECT doc_id, {DUCK_BANDS} AS bands FROM sig)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN t ta ON ta.doc_id = cand.doc_a
        JOIN t tb ON tb.doc_id = cand.doc_b
        WHERE {DUCK_JAC.replace('sh_a','ta.sh').replace('sh_b','tb.sh')} >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ), l1 AS (
        SELECT s, least(s, min(d)) AS c FROM edges GROUP BY s
    ), l2 AS (
        SELECT e.s, least(min(l1s.c), min(l1d.c)) AS c
        FROM edges e
        JOIN l1 l1s ON l1s.s = e.s
        JOIN l1 l1d ON l1d.s = e.d
        GROUP BY e.s
    ), l3 AS (
        SELECT l2.s AS doc_id, coalesce(lx.c, l2.c) AS component
        FROM l2 LEFT JOIN l2 lx ON lx.s = l2.c
    )
    SELECT doc_id, component FROM l3
    UNION ALL
    SELECT doc_id, doc_id AS component FROM documents
    WHERE doc_id NOT IN (SELECT s FROM edges)
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> canonical dedup GROUPS (connected components
    by iterative min-label propagation with path halving) — the step
    that turns the minhash pair generator into a keep-one-per-group
    decision.  The Spark side loops to fixpoint (general diameter);
    the oracle is the 2-hop + compression closed form, exact here
    because LSH near-dup clusters are near-cliques (measured max
    diameter 1 at sf0.01/sf0.1; chain convergence is covered by unit
    tests with long paths).  Singletons map to themselves."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    return D.neardup_components(
        pairs, members=docs.select("doc_id")
    ).select("doc_id", "component")


@register(
    "decontam_neardup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents)
    ), sig AS (
        SELECT doc_id, sh, {DUCK_SIG} AS sig FROM t
    ), banded AS (
        SELECT doc_id, unnest(generate_series(0,3)) AS band_id,
               unnest(bands) AS band_key
        FROM (SELECT doc_id, {DUCK_BANDS} AS bands FROM sig)
    ), cand AS (
        SELECT DISTINCT c.doc_id AS doc_id, e.doc_id AS eval_id
        FROM banded c JOIN banded e
          ON c.band_id = e.band_id AND c.band_key = e.band_key
        WHERE c.doc_id % 5 <> 0 AND e.doc_id % 5 = 0
    )
    SELECT cand.doc_id, cand.eval_id,
           round({DUCK_JAC.replace('sh_a','tc.sh').replace('sh_b','te.sh')}, 4)
               AS jaccard
    FROM cand
    JOIN t tc ON tc.doc_id = cand.doc_id
    JOIN t te ON te.doc_id = cand.eval_id
    WHERE {DUCK_JAC.replace('sh_a','tc.sh').replace('sh_b','te.sh')} >= 0.5
    """,
)
def decontam_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination probe: corpus documents whose
    shingle set is Jaccard >= 0.5 to a held-out eval document
    (doc_id ≡ 0 mod 5 plays the eval set) — catches the paraphrased/
    lightly-edited leaks that decontam_overlap's exact-shingle probe
    misses.  MinHash/LSH banding generates candidates; the eval
    side's bands and shingle sets broadcast (MB-scale by
    construction), so the corpus pays one signature pass and zero
    extra shuffles (operators/dedup.py minhash_cross_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    evals = docs.where(F.col("doc_id") % 5 == 0)
    return D.minhash_cross_pairs(corpus, evals, threshold=0.5)


@register(
    "dedup_containment",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               array_to_string(list_slice(tk, 1, 16), ' ')
        FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents)
        WHERE doc_id % 9 = 0
    ),
    t AS (
        SELECT doc_id, {_DUCK_SHH} AS shh
        FROM (SELECT doc_id, {DUCK_SHINGLES} AS sh
              FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM corpus))
    ), postings0 AS (
        SELECT doc_id, unnest(shh) AS sh FROM t
    ), hot AS (
        SELECT sh FROM postings0 GROUP BY sh HAVING count(*) > 64
    ), postings AS (
        SELECT doc_id, sh FROM postings0
        WHERE sh NOT IN (SELECT sh FROM hot)
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM postings a JOIN postings b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sizes AS (SELECT doc_id, count(*) AS sz FROM postings GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(c::DOUBLE / least(sa.sz, sb.sz), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(c::DOUBLE / least(sa.sz, sb.sz), 4) >= 0.8
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc detection by shingle CONTAINMENT c/min(|A|,|B|) —
    the asymmetric overlap Jaccard misses: a 16-token snippet fully
    quoted inside a 150-token doc is ~1.0 containment but ~0.1
    Jaccard (union dominated by the long doc).  Every 9th doc gets a
    16-token excerpt planted as a synthetic short doc (id+100000,
    same expression both engines), the quote-detection case.  Plan
    identical to dedup_jaccard_invindex (counting inverted index,
    df-capped) — only the final arithmetic differs; see
    operators.dedup.jaccard_pairs_invindex(metric='containment')."""
    docs = load_table(spark, sf_dir, "documents")
    snip = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(T.tokens("text"), 1, 16)
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(snip)
    return D.jaccard_pairs_invindex(
        corpus, threshold=0.8, max_df=64, metric="containment"
    )


_DUCK_SPAN_K = 8

# Shared oracle fragments for the ExactSubstr span family — the
# gram census (t/occ), the island merge (isl), and the final span
# projection are textually ONE definition consumed by all three
# oracles (#182 detect, #185 apply, #186 ingest twin), so a change
# to the k handling, the <= k merge rule, or the hash expression
# cannot drift between the batch, apply, and streaming contracts.
# Only the hits derivation (what counts as a duplicated gram)
# differs per entry.


def duck_span_occ(hash_bits: int = 60) -> str:
    """The gram-census fragment at either gram-hash width — the
    oracle-side mirror of operators.dedup.gram_positions'
    ``hash_bits`` (60 = 8-byte truncated md5, 128 = full md5 hex;
    r14 verdict task 5).  Registered entries use 60; the 128-bit
    form is oracle-checked by tests at both widths."""
    h_gram = (
        duckdb_hash64("s.g") if hash_bits == 60 else duckdb_hash128("s.g")
    )
    return f"""t AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    occ AS (
        SELECT doc_id, s.pos AS pos, {h_gram} AS gh FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(tk) - {_DUCK_SPAN_K} + 2),
                       i -> {{pos: i - 1,
                             g: list_aggregate(
                                 list_slice(tk, i, i + {_DUCK_SPAN_K} - 1),
                                 'string_agg', ' ')}})) AS s
            FROM t WHERE len(tk) >= {_DUCK_SPAN_K})
    )"""


DUCK_SPAN_ISL = f"""isl AS (
        SELECT doc_id, pos,
               sum(CASE WHEN pos - prev <= {_DUCK_SPAN_K}
                        THEN 0 ELSE 1 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM (SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS prev
              FROM hits)
    )"""
DUCK_SPAN_SELECT = f"""SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + {_DUCK_SPAN_K} - 1 AS span_end,
           max(pos) - min(pos) + {_DUCK_SPAN_K} AS span_tokens,
           count(*) AS n_dup_grams
    FROM isl GROUP BY doc_id, island"""


def dedup_spans_oracle(hash_bits: int = 60) -> str:
    """#182's oracle at either gram-hash width (r14 verdict task 5)."""
    return f"""
    WITH {duck_span_occ(hash_bits)},
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) >= 2),
    hits AS (
        SELECT doc_id, pos FROM occ WHERE gh IN (SELECT gh FROM dup)
    ),
    {DUCK_SPAN_ISL}
    {DUCK_SPAN_SELECT}
    """


@register("dedup_spans", oracle=dedup_spans_oracle())
def dedup_spans(
    spark: SparkSession, sf_dir: str, hash_bits: int = 60
) -> DataFrame:
    """Exact duplicated-substring spans (ExactSubstr dedup, Lee et
    al. 2022): every maximal token range whose 8-gram windows all
    occur >= 2 times in the corpus — the removal list of
    substring-level dedup, which catches boilerplate repeated INSIDE
    otherwise-unique documents (the case whole-doc hashing and
    minhash both miss).  Suffix-array semantics at 8-token
    granularity via a positional gram inverted index + a
    gaps-and-islands merge; see operators.dedup.
    exact_substring_spans for the corpus-scale plan shape (one
    map-side-combinable gram-hash shuffle, one bloom-prunable
    semi-join, doc-bounded windows).  ``hash_bits``: 60 (registered
    default — 8-byte shuffle keys) or 128 (full md5 — the >= 1e9
    distinct-grams setting; oracle-checked at both widths via
    dedup_spans_oracle).
    reference scope: training-data pipeline extension."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_substring_spans(
        docs, k=_DUCK_SPAN_K, hash_bits=hash_bits
    )


def dedup_spans_apply_oracle(hash_bits: int = 60) -> str:
    """#185's oracle at either gram-hash width (r14 verdict task 5)."""
    return f"""
    WITH {duck_span_occ(hash_bits)},
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) >= 2),
    hits AS (
        SELECT doc_id, pos FROM occ WHERE gh IN (SELECT gh FROM dup)
    ),
    {DUCK_SPAN_ISL},
    sp AS (
        SELECT doc_id, min(pos) AS s,
               max(pos) + {_DUCK_SPAN_K} - 1 AS e
        FROM isl GROUP BY doc_id, island
    ),
    agg AS (
        SELECT doc_id, list({{s: s, e: e}}) AS spans,
               CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
        FROM sp GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(tk) AS n_tokens,
           coalesce(a.removed_tokens, 0) AS removed_tokens,
           CASE WHEN tk IS NULL THEN NULL
                WHEN a.spans IS NULL THEN array_to_string(tk, ' ')
                -- array_to_string([]) is NULL in DuckDB; the fully-
                -- removed doc must yield '' like Spark's concat_ws
                ELSE coalesce(array_to_string(
                    list_filter(
                        list_transform(range(1, len(tk) + 1),
                            i -> CASE WHEN len(list_filter(a.spans,
                                     sp -> i - 1 >= sp.s
                                       AND i - 1 <= sp.e)) = 0
                                 THEN tk[i] END),
                        x -> x IS NOT NULL), ' '), '')
           END AS kept_text
    FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """


@register("dedup_spans_apply", oracle=dedup_spans_apply_oracle())
def dedup_spans_apply(
    spark: SparkSession, sf_dir: str, hash_bits: int = 60
) -> DataFrame:
    """ExactSubstr span REMOVAL applied (#182's removal list executed):
    every token covered by a duplicated span drops — all occurrences,
    the Lee et al. 2022 policy — and the cleaned text is rebuilt;
    span-free docs pass through byte-identical, null text stays null.
    The spans aggregate is tiny (span-bearing docs only) so the
    join back is AQE-broadcast; the rebuild is codegen column algebra
    (position-indexed token filter, O(spans) probe per token).  See
    operators.dedup.apply_span_removal.  ``hash_bits``: 60 or 128,
    as #182 (oracle-checked at both via dedup_spans_apply_oracle).
    reference scope: training-data pipeline extension."""
    docs = load_table(spark, sf_dir, "documents")
    return D.apply_span_removal(
        docs, k=_DUCK_SPAN_K, hash_bits=hash_bits
    )
