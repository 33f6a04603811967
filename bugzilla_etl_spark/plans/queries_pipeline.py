"""Training-data pipeline extensions beyond the reference's own
surface (same family as the dedup/text blocks): benchmark
decontamination, repetition-based quality rules, substring-chunk
boilerplate detection, and IVF approximate nearest neighbour —
the four ops a 100 TB pre-training corpus pipeline runs between
raw crawl and tokenizer that SURVEY §2 #26-#36 didn't already cover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import duckdb_hash64
from bugzilla_etl_spark.operators import dedup as D
from bugzilla_etl_spark.operators import sampling as S2
from bugzilla_etl_spark.operators import similarity as SIM
from bugzilla_etl_spark.operators import text as T
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.plans.queries_dedup import (
    DUCK_SHINGLES,
    DUCK_TOKENS,
)
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.tmpdirs import tracked_mkdtemp

# hashed shingle sets (mirrors dedup._hashed_shingled, order-free)
_DUCK_SHH = "list_transform(sh, s -> " + duckdb_hash64("s") + ")"


@register(
    "decontam_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_SHH} AS shh
        FROM (SELECT doc_id, {DUCK_SHINGLES} AS sh
              FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents))
    ), ev AS (
        SELECT DISTINCT unnest(shh) AS sh FROM t WHERE doc_id % 20 = 0
    ), tr AS (
        SELECT doc_id, unnest(shh) AS sh FROM t WHERE doc_id % 20 <> 0
    ), hits AS (
        SELECT doc_id, count(*) AS n_overlap
        FROM tr JOIN ev USING (sh) GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
           CASE WHEN coalesce(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END
               AS contaminated
    FROM t LEFT JOIN hits h USING (doc_id)
    WHERE t.doc_id % 20 <> 0
    """,
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 20th doc plays the held-out
    eval set; training docs report how many distinct 3-gram shingles
    they share with it.  The eval shingle set ships sorted in the
    task closure (benchmarks are MB against a 100 TB corpus), so the
    corpus probe is map-only with zero shuffles — see
    operators.dedup.decontam_overlap."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 20 == 0)
    tr = docs.where(F.col("doc_id") % 20 != 0)
    return D.decontam_overlap(tr, ev)


@register(
    "quality_repetition",
    oracle=f"""
    WITH tkt AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    base AS (
        SELECT doc_id, len(tk) AS n_tokens,
               len(list_distinct(tk)) AS n_uniq
        FROM tkt
    ), grams AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                              i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM tkt
    ), gc AS (
        SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    ), gs AS (
        SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams,
               count(*) AS n_uniq_grams
        FROM gc GROUP BY 1
    )
    SELECT b.doc_id,
           round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4)
               AS uniq_token_ratio,
           round(coalesce(top_c, 0)::DOUBLE
                 / greatest(coalesce(n_grams, 0), 1), 4) AS top_bigram_frac,
           round(1.0 - coalesce(n_uniq_grams, 0)::DOUBLE
                 / greatest(coalesce(n_grams, 1), 1), 4) AS dup_bigram_frac,
           CASE WHEN round(1.0 - coalesce(n_uniq_grams, 0)::DOUBLE
                      / greatest(coalesce(n_grams, 1), 1), 4) <= 0.05
                 AND round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4) >= 0.35
                THEN 1 ELSE 0 END AS repetition_keep
    FROM base b LEFT JOIN gs USING (doc_id)
    """,
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules (the Gopher-rule family):
    distinct-token ratio, most-frequent-bigram mass, duplicated-
    bigram mass, and a keep flag.  Per-doc base stats are pure array
    expressions; bigram multiplicity stats go through explode + two
    partial-aggregated groupBys (count shuffles only touch skinny
    (doc_id, gram) rows)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = T.tokens("text")
    base = docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_uniq"),
    )
    gc = (
        docs.select("doc_id", F.explode(T.bigrams(tok)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gs = gc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_uniq_grams"),
    )
    uniq_ratio = F.round(
        F.col("n_uniq") / F.greatest(F.col("n_tokens"), F.lit(1)), 4
    )
    top_frac = F.round(
        F.coalesce(F.col("top_c"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
        4,
    )
    dup_frac = F.round(
        1.0
        - F.coalesce(F.col("n_uniq_grams"), F.lit(0))
        / F.greatest(F.coalesce(F.col("n_grams"), F.lit(1)), F.lit(1)),
        4,
    )
    return base.join(gs, on="doc_id", how="left").select(
        "doc_id",
        uniq_ratio.alias("uniq_token_ratio"),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        F.when((dup_frac <= 0.05) & (uniq_ratio >= 0.35), 1)
        .otherwise(0)
        .alias("repetition_keep"),
    )


# Exactly one chunk WIDTH of boilerplate so every 3rd doc shares its
# chunk 0 (the license-header / nav-bar case chunk dedup exists for).
_BOILER = (
    "subscribe to our newsletter | copyright acme corp | all rights x"
)
assert len(_BOILER) == 64, len(_BOILER)
_CHUNK_H = duckdb_hash64("substr(text, i*32+1, 64)")


@register(
    "dedup_chunk",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN '{_BOILER}' || text
                    ELSE text END AS text
        FROM documents
    ), ch AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(0, (greatest(length(text) - 64, 0) // 32) + 1),
                   i -> {_CHUNK_H}))) AS chash
        FROM d
    ), df AS (SELECT chash, count(*) AS df FROM ch GROUP BY 1)
    SELECT doc_id, count(*) AS n_chunks,
           count(CASE WHEN df >= 2 THEN 1 END) AS n_shared,
           round(count(CASE WHEN df >= 2 THEN 1 END)::DOUBLE / count(*), 4)
               AS shared_frac
    FROM ch JOIN df USING (chash)
    GROUP BY doc_id
    """,
)
def dedup_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-chunk boilerplate detection (64-char window, stride
    32): per doc, the fraction of its distinct chunks appearing in
    >= 2 documents.  Every 3rd doc gets a one-chunk boilerplate
    header prepended (same expression both engines) so the operator
    has passage-level sharing to find on top of the corpus's planted
    whole-doc dups.  See operators.dedup.chunk_shared_stats for the
    count-don't-enumerate scale shape."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BOILER), F.col("text")),
        ).otherwise(F.col("text")),
    )
    return D.chunk_shared_stats(docs, width=64, stride=32, min_df=2)


_DUCK_VCOS = (
    "round(list_dot_product({a}.v, {b}.v) / greatest({a}.nr * {b}.nr,"
    " 1e-12), 4)"
)


@register(
    "ann_ivf",
    oracle=f"""
    WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nr FROM t),
    c AS (SELECT vec_id AS cid, v, nr FROM n WHERE vec_id % 25 = 0),
    scored AS (
        SELECT n.vec_id, c.cid, {_DUCK_VCOS.format(a='n', b='c')} AS cos
        FROM n CROSS JOIN c
    ), asg AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos DESC, cid ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    ), cand AS (
        SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
               {_DUCK_VCOS.format(a='nq', b='na')} AS cos
        FROM asg q
        JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.vec_id
        JOIN n nq ON nq.vec_id = q.vec_id
        JOIN n na ON na.vec_id = a.vec_id
        WHERE q.vec_id % 50 = 0
    )
    SELECT query_id, cand_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id ASC) AS rank
        FROM cand
    ) WHERE rank <= 3
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: every 25th vector is a centroid (the k-means step is
    a training-time concern; any centroid table slots in), assignment
    is a map-only broadcast fold (no corpus shuffle — see
    operators.similarity.ivf_assign), search ranks exact cosine
    within the query's cell only (nprobe=1).  Complements ann_topk
    (exact baseline) and ann_lsh_buckets (hyperplane path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") % 25 == 0)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.ivf_search_topk(emb, cents, queries, k=3)


@register(
    "ann_ivf_nprobe",
    oracle=f"""
    WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nr FROM t),
    c AS (SELECT vec_id AS cid, v, nr FROM n WHERE vec_id % 25 = 0),
    scored AS (
        SELECT n.vec_id, c.cid, {_DUCK_VCOS.format(a='n', b='c')} AS cos
        FROM n CROSS JOIN c
    ), asg AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos DESC, cid ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    ), qp AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos DESC, cid ASC) AS rn
            FROM scored WHERE vec_id % 50 = 0
        ) WHERE rn <= 2
    ), cand AS (
        SELECT q.vec_id AS query_id, a.vec_id AS cand_id,
               {_DUCK_VCOS.format(a='nq', b='na')} AS cos
        FROM qp q
        JOIN asg a ON a.cell = q.cell AND a.vec_id <> q.vec_id
        JOIN n nq ON nq.vec_id = q.vec_id
        JOIN n na ON na.vec_id = a.vec_id
    )
    SELECT query_id, cand_id, cos, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id ASC) AS rank
        FROM cand
    ) WHERE rank <= 3
    """,
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with multi-probe (nprobe=2): each query searches its
    TWO nearest cells, recovering neighbors that fell on the far side
    of a cell boundary — the standard recall knob (recall matrix in
    SCALING.md).  Corpus-side cost is unchanged (one cell per corpus
    vector); only the broadcast query fan-out doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") % 25 == 0)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    return SIM.ivf_search_topk(emb, cents, queries, k=3, nprobe=2)


# ---- end-to-end corpus curation ---------------------------------------------

_DUCK_NORM_HASH = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_PHONE = r"\d{3}-\d{4}(-\d+)?"
_RE_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_H_CURATE = duckdb_hash64("('q:' || CAST(doc_id AS VARCHAR))")


@register(
    "curate_corpus",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, {_DUCK_NORM_HASH} AS h FROM documents
    ), canon AS (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS canonical_id,
               count(*) OVER (PARTITION BY h) AS group_size
        FROM keyed
    ), kept1 AS (
        SELECT d.doc_id, d.text, d.lang, d.source, c.group_size
        FROM documents d JOIN canon c USING (doc_id)
        WHERE c.doc_id = c.canonical_id
    ), tkt AS (
        SELECT doc_id, {DUCK_TOKENS} AS tk FROM kept1
    ), base AS (
        SELECT doc_id, len(tk) AS n_tokens,
               len(list_distinct(tk)) AS n_uniq
        FROM tkt
    ), grams AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                              i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM tkt
    ), gc AS (
        SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    ), gs AS (
        SELECT doc_id, count(*) AS n_uniq_grams, sum(c) AS n_grams
        FROM gc GROUP BY 1
    ), qual AS (
        SELECT b.doc_id,
               round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4)
                   AS uniq_token_ratio,
               CASE WHEN round(1.0 - coalesce(n_uniq_grams, 0)::DOUBLE
                          / greatest(coalesce(n_grams, 1), 1), 4) <= 0.05
                     AND round(n_uniq::DOUBLE / greatest(n_tokens, 1), 4)
                          >= 0.35
                    THEN 1 ELSE 0 END AS keep
        FROM base b LEFT JOIN gs USING (doc_id)
    ), pii AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_RE_EMAIL}'))
               + len(regexp_extract_all(text, '{_RE_PHONE}'))
               + len(regexp_extract_all(text, '{_RE_IP}')) AS n_pii,
               length(regexp_replace(regexp_replace(regexp_replace(text,
                   '{_RE_EMAIL}', '<EMAIL>', 'g'),
                   '{_RE_IP}', '<IP>', 'g'),
                   '{_RE_PHONE}', '<PHONE>', 'g')) AS red_len
        FROM kept1
    )
    SELECT doc_id, source, lang, group_size, uniq_token_ratio,
           n_pii, red_len, rk
    FROM (
        SELECT k.doc_id, k.source, k.lang, k.group_size,
               q.uniq_token_ratio, p.n_pii, p.red_len,
               row_number() OVER (PARTITION BY k.source
                                  ORDER BY {_H_CURATE} ASC, doc_id ASC)
                   AS rk
        FROM kept1 k JOIN qual q USING (doc_id) JOIN pii p USING (doc_id)
        WHERE q.keep = 1
    ) WHERE rk <= 15
    """,
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed plan: exact dedup
    (keep each normalized-text group's min-id doc) -> repetition-
    quality gate -> PII count + redacted length -> per-source quota.
    Every stage is an existing operator (exact_groups,
    quality_repetition's rule, pii regexes, quota_sample) — the point
    is that they COMPOSE into a single Catalyst plan with nothing
    materialized between stages.  Plan shape (asserted in
    tests/test_plan_shape.py): four column-pruned scans of
    (doc_id, text) — one per stage branch; per-doc stages join back
    on doc_id (broadcast at test SF, hash co-partitioned at scale);
    beyond the quality rule's own two bigram aggregations, the
    composition adds exactly ONE shuffle (the per-source quota
    window) on the already-filtered survivor set.  This is the pass
    a 100 TB pretraining corpus takes before packing/sharding
    (seq_packing / shuffle_shards downstream)."""
    from bugzilla_etl_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents")

    g = D.exact_groups(docs)
    kept = docs.join(
        g.where(F.col("doc_id") == F.col("canonical_id")).select(
            "doc_id", "group_size"
        ),
        on="doc_id",
    )

    qm = quality_repetition(spark, sf_dir).select(
        "doc_id", "uniq_token_ratio", "repetition_keep"
    )
    kept = kept.join(qm, on="doc_id").where(F.col("repetition_keep") == 1)

    text = F.col("text")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _RE_EMAIL, "<EMAIL>"),
            _RE_IP,
            "<IP>",
        ),
        _RE_PHONE,
        "<PHONE>",
    )
    n_pii = (
        F.size(F.regexp_extract_all(text, F.lit(_RE_EMAIL), F.lit(0)))
        + F.size(F.regexp_extract_all(text, F.lit(_RE_PHONE), F.lit(0)))
        + F.size(F.regexp_extract_all(text, F.lit(_RE_IP), F.lit(0)))
    )
    kept = kept.select(
        "doc_id",
        "source",
        "lang",
        "group_size",
        "uniq_token_ratio",
        n_pii.alias("n_pii"),
        F.length(redacted).alias("red_len"),
    )

    return S.quota_sample(kept, group="source", key="doc_id", quota=15).select(
        "doc_id", "source", "lang", "group_size", "uniq_token_ratio",
        "n_pii", "red_len", "rk",
    )


def _kmeans_oracle() -> str:
    """DuckDB mirror of operators/clustering.kmeans_lloyd (2 Lloyd
    iterations, seeds = every 25th vector): integer-quantized vectors,
    exact-integer centroid sums, 1e4-grid distance rounding — the
    determinism contract that makes an iterative float algorithm
    hash-comparable across engines.  Returns the WITH-chain ending at
    ``a2`` (the final labeling) so kmeans_embeddings AND semdedup
    compose their own final SELECT on top."""
    q = (
        "list_transform(embedding::DOUBLE[], "
        "x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"
    )
    d2 = (
        "CAST(floor(list_sum(list_transform(range(1, 65), "
        "d -> (CAST(t.iv[d] AS DOUBLE) - c.cv[d]) "
        "* (CAST(t.iv[d] AS DOUBLE) - c.cv[d]))) / 10000.0 + 0.5) "
        "AS BIGINT)"
    )
    return f"""
    WITH t AS (SELECT vec_id, {q} AS iv FROM embeddings),
    c0 AS (
        SELECT vec_id AS cid,
               list_transform(iv, x -> CAST(x AS DOUBLE)) AS cv
        FROM t WHERE vec_id % 25 = 0 AND vec_id < 25 * 4096
    ),
    d1 AS (
        SELECT t.vec_id, c.cid, {d2} AS rd2
        FROM t CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY rd2 ASC, cid ASC) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    m1 AS (
        SELECT a1.cluster, r.d,
               CAST(sum(t.iv[r.d]) AS DOUBLE) / count(*) AS m
        FROM t JOIN a1 USING (vec_id) CROSS JOIN range(1, 65) r(d)
        GROUP BY a1.cluster, r.d
    ),
    c1 AS (
        SELECT cluster AS cid, list(m ORDER BY d) AS cv
        FROM m1 GROUP BY cluster
    ),
    d2f AS (
        SELECT t.vec_id, c.cid, {d2} AS rd2
        FROM t CROSS JOIN c1 c
    ),
    a2 AS (
        SELECT vec_id, cid AS cluster, rd2 AS d2s FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY rd2 ASC, cid ASC) AS rn
            FROM d2f
        ) WHERE rn = 1
    )"""


@register("kmeans_embeddings", oracle=_kmeans_oracle() + "\n    SELECT vec_id, cluster, d2s FROM a2")
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (2 iterations,
    deterministic seeds) — the clustering pass of corpus curation /
    semantic sharding.  Per iteration: ONE map-only Arrow pass
    emitting bounded per-batch partial sums; the centroid fold is
    driver-side over k x n_batches rows (the model, like the IVF
    index).  n_iter+1 linear scans, zero corpus shuffles.  See
    operators/clustering.py for the integer-quantization determinism
    contract that keeps an iterative float algorithm oracle-exact."""
    from bugzilla_etl_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    # max_k caps the driver-held model at 4096 centroids (~2 MB)
    # regardless of corpus size; below the cap at every test SF, so
    # the labeling is identical to the uncapped form.
    return kmeans_lloyd(emb, seed_every=25, n_iter=2, max_k=4096)


_COS = (
    "round(list_dot_product(ea.v, eb.v) /"
    " greatest(sqrt(list_dot_product(ea.v, ea.v))"
    " * sqrt(list_dot_product(eb.v, eb.v)), 1e-12), 4)"
)


@register(
    "semdedup",
    oracle=_kmeans_oracle()
    + f""",
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM a2 a JOIN a2 b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        WHERE {_COS} >= 0.35
    ),
    d AS (
        SELECT id_b AS vec_id, min(id_a) AS dup_of
        FROM p GROUP BY id_b
    )
    SELECT a2.vec_id, a2.cluster, d.dup_of,
           d.dup_of IS NULL AS kept
    FROM a2 LEFT JOIN d USING (vec_id)
    """,
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public
    arXiv:2303.09540 — cluster first, then prune near-identical
    embeddings WITHIN clusters): k-means assigns each vector to a
    cell, cosine pairs are generated only inside a cell, and a
    vector is pruned when a lower-id cell-mate is >= 0.35 similar
    (keep-first, deterministic; dup_of = the smallest such id).

    This is the published scale path for embedding dedup: the
    all-pairs O(n²) collapses to sum-over-cells O(Σ s_i²), with
    label_blocked_neardup's max_cell salting bounding any skewed
    cell's task size.  Cluster assignment is kmeans_lloyd's map-only
    Arrow pass (oracle-exact via integer quantization), so the only
    corpus shuffles are the embedding⋈assignment id join and the
    per-cell pair join — both on keys, never cartesian."""
    from bugzilla_etl_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(
        emb, seed_every=25, n_iter=2, max_k=4096
    ).select("vec_id", "cluster")
    t = emb.select("vec_id", "embedding").join(assign, on="vec_id")
    pairs = SIM.label_blocked_neardup(
        t, threshold=0.35, label_col="cluster", max_cell=128
    )
    dups = pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        assign.join(dups, on="vec_id", how="left")
        .select(
            "vec_id",
            "cluster",
            "dup_of",
            F.col("dup_of").isNull().alias("kept"),
        )
    )


_H_DSIR_B = duckdb_hash64("('f:' || gram)") + " % 1024"


@register(
    "dsir_weights",
    oracle=f"""
    WITH tkt AS (SELECT doc_id, source, {DUCK_TOKENS} AS tk
                 FROM documents),
    g AS (
        SELECT doc_id, source,
               unnest(tk || CASE WHEN len(tk) >= 2
                   THEN list_transform(range(1, len(tk)),
                                       i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END) AS gram
        FROM tkt
    ),
    b AS (SELECT doc_id, source, {_H_DSIR_B} AS b FROM g),
    t AS (SELECT b, count(*) AS c FROM b WHERE source = 'src0'
          GROUP BY b),
    r AS (SELECT b, count(*) AS c FROM b GROUP BY b),
    tt AS (SELECT sum(c) + 1024 AS tot FROM t),
    rt AS (SELECT sum(c) + 1024 AS tot FROM r),
    lr AS (
        SELECT r.b,
               ln((coalesce(t.c, 0) + 1) / tt.tot)
               - ln((r.c + 1) / rt.tot) AS lr
        FROM r LEFT JOIN t USING (b), tt, rt
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           round(sum(lr), 4) AS weight
    FROM b JOIN lr USING (b)
    GROUP BY doc_id
    """,
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: every document scored by the
    log-likelihood ratio of two hashed-ngram bucket distributions —
    the TARGET domain's (source='src0' plays the high-quality
    reference) vs the RAW corpus's.  See
    operators.sampling.dsir_weights: the distributions are bounded
    1024-bucket models collected like IVF centroids, and scoring is
    ONE map-only pass folding each doc's gram stream against the
    broadcast log-ratio array — zero fact shuffles, no corpus
    explode (the oracle explodes because SQL has no such fold)."""
    docs = load_table(spark, sf_dir, "documents")
    return S2.dsir_weights(
        docs, F.col("source") == "src0", key="doc_id"
    )


@register(
    "char_lm_perplexity",
    oracle="""
    WITH ref AS (
        SELECT lower(trim(text)) AS t FROM documents
        WHERE source = 'src0'
    ),
    big AS (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> substr(t, i, 2))) AS ab
        FROM ref WHERE len(t) >= 2
    ),
    bc AS (SELECT ab, count(*) AS c FROM big GROUP BY ab),
    ctx AS (SELECT substr(ab, 1, 1) AS a, sum(c) AS ca
            FROM bc GROUP BY 1),
    v AS (
        SELECT count(DISTINCT ch) AS v FROM (
            SELECT substr(ab, 1, 1) AS ch FROM bc
            UNION ALL
            SELECT substr(ab, 2, 1) AS ch FROM bc
        )
    ),
    d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    trans AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
                                             i -> substr(t, i, 2))) AS ab
        FROM d WHERE len(t) >= 2
    ),
    scored AS (
        SELECT doc_id,
               ln((coalesce(bc.c, 0) + 1)
                  / (coalesce(ctx.ca, 0) + v.v)) AS lp
        FROM trans
        LEFT JOIN bc  USING (ab)
        LEFT JOIN ctx ON substr(trans.ab, 1, 1) = ctx.a, v
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
           round(-avg(lp), 4) AS nll
    FROM scored GROUP BY doc_id
    """,
)
def char_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter (the CCNet recipe with an
    in-engine model): a Laplace-smoothed char-bigram LM fitted on the
    source='src0' slice (the curated-reference stand-in), every doc
    scored by mean negative log-likelihood — high nll = unlike the
    reference.  The model is BOUNDED (V² ≈ a few k entries) and
    collected like IVF centroids; scoring is one map-only Arrow pass
    with a numpy log-prob gather — zero shuffles over the scored
    corpus (the oracle explodes transitions because SQL has no
    closure-shipped model)."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("source") == "src0")
    bc, ctx, v = T.char_bigram_lm(ref)
    scored = T.char_lm_score(docs, bc, ctx, v)
    return scored.select(
        "doc_id", "n_trans", F.round("nll", 4).alias("nll")
    )


@register(
    "embedding_outliers",
    oracle="""
    WITH t AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS iv
        FROM embeddings
    ),
    sums AS (SELECT label, count(*) AS n FROM t GROUP BY label),
    dimsums AS (
        SELECT label, d, sum(iv[d]) AS s
        FROM t, (SELECT unnest(range(1, 65)) AS d) g
        GROUP BY label, d
    ),
    num AS (
        SELECT t.vec_id, t.label,
               sum((t.iv[ds.d] * sc.n - ds.s)
                   * (t.iv[ds.d] * sc.n - ds.s)) AS num,
               any_value(sc.n) AS n
        FROM t
        JOIN dimsums ds USING (label)
        JOIN sums sc USING (label)
        GROUP BY t.vec_id, t.label
    ),
    dist AS (
        SELECT vec_id, label,
               sqrt(CAST(num AS DOUBLE)) / (n * 10000.0) AS dist
        FROM num
    ),
    stats AS (
        SELECT label, avg(dist) AS m, stddev_samp(dist) AS sd
        FROM dist GROUP BY label
    )
    SELECT vec_id, d.label, round(dist, 6) AS dist,
           round((dist - m) / sd, 4) AS z,
           CASE WHEN round((dist - m) / sd, 4) > 2.0 THEN 1 ELSE 0 END
               AS is_outlier
    FROM dist d JOIN stats USING (label)
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-distance outlier flags over the embedding
    corpus — the embedding-space quality filter (off-manifold /
    mislabeled vectors).  See operators.clustering.embedding_outliers
    for the exact-integer distance contract and the bounded
    partial-sum model fold (no per-dim explode of the corpus — the
    oracle explodes dims because SQL has no closure-shipped
    model)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from bugzilla_etl_spark.operators.clustering import (
        embedding_outliers as _op,
    )

    return _op(emb)


@register(
    "filter_funnel",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 4 = 0 THEN
                 ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END AS text
        FROM documents
    ),
    t AS (SELECT doc_id, text, {DUCK_TOKENS} AS tk FROM d),
    f AS (
        SELECT
            CASE WHEN len(list_filter(tk,
                     x -> list_contains(['the','a','of','and','to','in','is'], x)))
                     / greatest(len(tk), 1) >= 0.05
                 THEN 1 ELSE 0 END AS f1,
            CASE WHEN len(tk) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END AS f2,
            CASE WHEN len(list_distinct(tk)) / greatest(len(tk), 1) >= 0.35
                  AND 1.0 - len(list_distinct(
                          list_transform(range(1, len(tk)),
                                         i -> tk[i] || ' ' || tk[i+1])))
                      / greatest(len(tk) - 1, 1) <= 0.05
                 THEN 1 ELSE 0 END AS f3,
            CASE WHEN len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) = 0
                 THEN 1 ELSE 0 END AS f4
        FROM t
    ),
    agg AS (
        SELECT count(*) AS total,
               sum(f1) AS k1, sum(f1*f2) AS k2,
               sum(f1*f2*f3) AS k3, sum(f1*f2*f3*f4) AS k4
        FROM f
    )
    SELECT * FROM (
        SELECT 1 AS stage_idx, 'lang' AS stage,
               CAST(total AS BIGINT) AS n_in, CAST(k1 AS BIGINT) AS n_kept,
               round(1.0 - k1 / greatest(total, 1), 4) AS drop_frac
        FROM agg
        UNION ALL
        SELECT 2, 'length', CAST(k1 AS BIGINT), CAST(k2 AS BIGINT),
               round(1.0 - k2 / greatest(k1, 1), 4) FROM agg
        UNION ALL
        SELECT 3, 'repetition', CAST(k2 AS BIGINT), CAST(k3 AS BIGINT),
               round(1.0 - k3 / greatest(k2, 1), 4) FROM agg
        UNION ALL
        SELECT 4, 'pii', CAST(k3 AS BIGINT), CAST(k4 AS BIGINT),
               round(1.0 - k4 / greatest(k3, 1), 4) FROM agg
    ) ORDER BY stage_idx
    """,
)
def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline attrition report: how many docs each quality
    filter removes, applied in sequence (lang -> length -> repetition
    -> planted-PII), as every curation run logs before committing a
    recipe.  Every 4th doc gets a planted email so the PII stage has
    real attrition.

    Shape: ALL stage flags are row-local column expressions computed
    in ONE projection over ONE scan (stopword density, token bounds,
    distinct-token and distinct-bigram ratios via array functions, a
    regexp probe) folded by a single 1-row aggregate, then unpivoted
    to 4 rows with stack() — at 100 TB this is a scan-bound map +
    one 5-number reduce, the cheapest possible audit of a filter
    recipe.  Cumulative AND semantics (stage i sees stage i-1's
    survivors), matching how the filters run in production."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
    )
    tk = T.tokens(text)
    n = F.size(tk)
    bg = T.bigrams(tk)
    f1 = (
        T.stopword_hits(tk) / F.greatest(n, F.lit(1)) >= 0.05
    ).cast("long")
    f2 = n.between(10, 5000).cast("long")
    f3 = (
        (F.size(F.array_distinct(tk)) / F.greatest(n, F.lit(1)) >= 0.35)
        & (
            1.0
            - F.size(F.array_distinct(bg))
            / F.greatest(n - 1, F.lit(1))
            <= 0.05
        )
    ).cast("long")
    f4 = (
        F.size(
            F.regexp_extract_all(
                text,
                F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
                F.lit(0),
            )
        )
        == 0
    ).cast("long")
    agg = docs.select(
        f1.alias("f1"), f2.alias("f2"), f3.alias("f3"), f4.alias("f4")
    ).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("f1").alias("k1"),
        F.sum(F.col("f1") * F.col("f2")).alias("k2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3")).alias("k3"),
        F.sum(
            F.col("f1") * F.col("f2") * F.col("f3") * F.col("f4")
        ).alias("k4"),
    )
    stages = agg.selectExpr(
        "stack(4,"
        " 1, 'lang',       total, k1,"
        " 2, 'length',     k1,    k2,"
        " 3, 'repetition', k2,    k3,"
        " 4, 'pii',        k3,    k4"
        ") AS (stage_idx, stage, n_in, n_kept)"
    )
    return stages.select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("n_in").cast("long").alias("n_in"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.round(
            1.0 - F.col("n_kept") / F.greatest(F.col("n_in"), F.lit(1)), 4
        ).alias("drop_frac"),
    ).orderBy("stage_idx")


@register(
    "ngram_novelty",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_DUCK_SHH} AS shh
        FROM (SELECT doc_id, {DUCK_SHINGLES} AS sh
              FROM (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents))
    ),
    p AS (SELECT doc_id, unnest(shh) AS sh FROM t),
    firsts AS (SELECT sh, min(doc_id) AS first_doc FROM p GROUP BY sh)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(CASE WHEN first_doc = p.doc_id THEN 1 END)
                AS BIGINT) AS n_novel,
           round(count(CASE WHEN first_doc = p.doc_id THEN 1 END)::DOUBLE
                 / count(*), 4) AS novelty
    FROM p JOIN firsts USING (sh)
    GROUP BY p.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc content novelty: the fraction of a document's distinct
    3-gram shingles FIRST seen in that document (arrival order =
    doc_id here; a production pipeline uses ingest time) — the
    contribution metric dedup recipes use to rank which near-dup of
    a cluster to keep and to measure how much new content a crawl
    added.  Plan: the inverted-index skeleton (skinny (sh, doc)
    postings, one first-seen aggregation with map-side combine, one
    count-back join) — no arrays cross the shuffle, same shape as
    dedup_jaccard_invindex's df stats."""
    from bugzilla_etl_spark.tmpdirs import pin

    docs = load_table(spark, sf_dir, "documents")
    # two consumers (first-seen agg + count-back side) would each
    # recompute scan -> tokenize -> shingle -> md5: pin the skinny
    # postings for the invocation, the inverted-index pattern
    # (measured 3.01 -> 0.74 s at sf0.1; nonce-guarded + registry)
    postings = pin(
        D._hashed_shingled(docs, "text", "doc_id").select(
            "doc_id", F.explode("shh").alias("sh")
        )
    )
    firsts = postings.groupBy("sh").agg(
        F.min("doc_id").alias("first_doc")
    )
    return (
        postings.join(firsts, on="sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(
                F.col("first_doc") == F.col("doc_id")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_shingles"), 4
            ).alias("novelty"),
        )
    )


# Shared by bloom_decontam (batch) and stream_decontam (streaming ==
# batch equivalence): the full integer Bloom build + probe in SQL.
_BLOOM_ORACLE = f"""
    WITH tkt AS (SELECT doc_id, {DUCK_TOKENS} AS tk FROM documents),
    t AS (
        SELECT doc_id, {DUCK_SHINGLES} AS sh FROM tkt
    ),
    ev AS (
        SELECT DISTINCT unnest(sh) AS s FROM t WHERE doc_id % 20 = 0
    ),
    seeds AS (SELECT unnest(range(0, 4)) AS j),
    pos AS (
        SELECT CASE j WHEN 0 THEN ((('0x' || substr(md5(CAST(('100:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 1 THEN ((('0x' || substr(md5(CAST(('101:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 2 THEN ((('0x' || substr(md5(CAST(('102:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 3 THEN ((('0x' || substr(md5(CAST(('103:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) END AS pos
        FROM ev, seeds
    ),
    words AS (
        SELECT pos // 32 AS w,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        FROM pos GROUP BY 1
    ),
    tr AS (
        SELECT doc_id, unnest(sh) AS s FROM t WHERE doc_id % 20 <> 0
    ),
    trpos AS (
        SELECT doc_id, s, j,
               CASE j WHEN 0 THEN ((('0x' || substr(md5(CAST(('100:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 1 THEN ((('0x' || substr(md5(CAST(('101:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 2 THEN ((('0x' || substr(md5(CAST(('102:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) WHEN 3 THEN ((('0x' || substr(md5(CAST(('103:' || CAST(s AS VARCHAR)) AS VARCHAR)), 1, 15))::UBIGINT::BIGINT) % 65536) END AS pos
        FROM tr, seeds
    ),
    hit_sh AS (
        SELECT doc_id, s
        FROM trpos JOIN words ON words.w = trpos.pos // 32
        WHERE (bits & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0
        GROUP BY doc_id, s HAVING count(*) = 4
    ),
    perdoc AS (
        SELECT doc_id, count(*) AS n_hits FROM hit_sh GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id, len(sh) AS n_shingles FROM t
        WHERE doc_id % 20 <> 0
    )
    SELECT b.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN coalesce(n_hits, 0) > 0 THEN 1 ELSE 0 END
               AS flagged
    FROM base b LEFT JOIN perdoc USING (doc_id)
"""


@register(
    "bloom_decontam",
    oracle=_BLOOM_ORACLE,
)
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom MEMBERSHIP sketch: the eval
    set's shingles fold into a 65536-bit / k=4 filter (2048 32-bit words) (integer-exact,
    engine-identical — see operators.dedup.bloom_build) and the
    corpus probe is ONE map-only Arrow pass against the 8 KB model.
    This is decontam_overlap's contract when the eval side outgrows
    the task closure: O(m) sketch memory instead of the full sorted
    hash array, at the price of deterministic false positives (the
    oracle computes the same bits, so the gate is exact either
    way).  Zero corpus shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 20 == 0)
    tr = docs.where(F.col("doc_id") % 20 != 0)
    words = D.bloom_build(ev)
    return D.bloom_probe(tr, words)


@register("stream_decontam", oracle=_BLOOM_ORACLE)
def stream_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at INGEST time: the Bloom model of the eval
    set is built once (batch, 8 KB), then every arriving micro-batch
    of corpus docs is probed against it in-stream — the gate that
    keeps benchmark text out of a training corpus as it lands,
    rather than by periodic batch sweeps.  Real 2-micro-batch run
    (file source, maxFilesPerTrigger=1); batch-keyed output dirs
    make checkpoint replays idempotent (the stream_bug_versions /
    neardup-ingest discipline).

    streaming == batch by construction: the probe inside
    foreachBatch IS operators.dedup.bloom_probe — the same Arrow
    pass the batch operator runs — and the 8 KB word list is a
    task-closure constant for every batch, so the oracle is
    bloom_decontam's exact SQL.  At 100 TB the model stays
    broadcast-sized by the sketch contract (2048 words regardless
    of eval size), and per-batch work is map-only: zero shuffles,
    zero stream state beyond the source offsets."""
    import shutil

    from bugzilla_etl_spark.streaming.landing import land_parts

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 20 == 0)
    tr = docs.where(F.col("doc_id") % 20 != 0)
    words = D.bloom_build(ev)

    landing = tracked_mkdtemp(prefix="bes_sdc_")
    out_dir = tracked_mkdtemp(prefix="bes_sdo_")
    ckpt = tracked_mkdtemp(prefix="bes_sdk_")
    shutil.rmtree(out_dir)
    land_parts(
        landing,
        [
            ("incoming_a", tr.where(F.col("doc_id") % 2 == 0)),
            ("incoming_b", tr.where(F.col("doc_id") % 2 == 1)),
        ],
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        D.bloom_probe(batch_df, words).write.mode("overwrite").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from bugzilla_etl_spark.streaming.landing import read_store_or_empty

    return read_store_or_empty(
        spark,
        out_dir,
        "doc_id long, n_shingles long, n_hits long, flagged int",
    ).select("doc_id", "n_shingles", "n_hits", "flagged")


# Sign-safe integer division shared by both engines: DuckDB's // is
# FLOOR division and Spark's div TRUNCATES toward zero — they agree
# only on non-negative operands, so every rescale divides |x| and
# reapplies the sign explicitly.
def _sdiv(expr: str, den: str) -> str:
    return (
        f"CASE WHEN ({expr}) < 0 THEN -((-({expr})) {{op}} ({den}))"
        f" ELSE (({expr}) {{op}} ({den})) END"
    )


# Quantize in DOUBLE explicitly: Spark coerces float*int to FLOAT
# (float32 rounding shifts the grid cell), DuckDB promotes to DOUBLE.
_PCA_Q = "CAST(floor(CAST(a AS DOUBLE) * 10000 + 0.5) AS BIGINT)"

_PCA_ITERS = 5


def _pca_iter_sql(i: int) -> str:
    """One between-class power-iteration CTE chain (s/w/m/v) from
    v{i-1}.  From iteration 2 on, the class-projection s is shifted
    down 2^10 before the back-projection so chained products stay
    far inside int64 (measured max intermediate ~4e9)."""
    shift = (
        f"s{i}raw.s"
        if i == 1
        else _sdiv(f"s{i}raw.s", "1024").format(op="//")
    )
    return f"""
    s{i}raw AS (
        SELECT d.label, sum(d.d * v.v) AS s
        FROM d JOIN v{i-1} v USING (j) GROUP BY d.label
    ),
    s{i} AS (SELECT label, {shift} AS s FROM s{i}raw),
    w{i} AS (
        SELECT d.j, sum(d.d * s.s) AS w
        FROM d JOIN s{i} s USING (label) GROUP BY d.j
    ),
    m{i} AS (SELECT greatest(max(abs(w)), 1) AS m FROM w{i}),
    v{i} AS (
        SELECT j, {_sdiv("w * 1000000", "m").format(op="//")} AS v
        FROM w{i}, m{i}
    )"""


@register(
    "embedding_pca",
    conf={PARALLELISM_FIRST: "false"},
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, j,
               CAST(floor(CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE)
                          * 10000 + 0.5) AS BIGINT) AS q
        FROM embeddings, (SELECT unnest(range(0, 64)) AS j)
        -- unlabeled vectors are a catch-all mixture, not a class:
        -- they contribute no centroid to the between-class matrix
        -- (and the iteration's USING(label) joins could never carry
        -- a null class anyway — SQL equi-joins drop null keys)
        WHERE label IS NOT NULL
    ),
    cent AS (
        SELECT label, j,
               {_sdiv("sum(q)", "count(*)").format(op="//")} AS c
        FROM q GROUP BY label, j
    ),
    g AS (
        SELECT j,
               {_sdiv("sum(c)", "count(*)").format(op="//")} AS g
        FROM cent GROUP BY j
    ),
    d AS (
        SELECT label, cent.j, c - g AS d FROM cent JOIN g USING (j)
    ),
    v0 AS (
        SELECT DISTINCT j, CAST(1 AS BIGINT) AS v FROM d
    ),
    {",".join(_pca_iter_sql(i) for i in range(1, _PCA_ITERS + 1))}
    SELECT j AS dim,
           CAST(v AS BIGINT) AS weight
    FROM v{_PCA_ITERS} ORDER BY dim
    """,
)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN-CLASS principal direction of the embedding space:
    power iteration of v ← DᵀD v over the centered label-centroid
    matrix D — the direction along which the classes separate most,
    the probe behind LDA-style curation (which sources/clusters pull
    the space apart) and semantic-shard axis selection.

    Why centroids and not raw vectors: the raw corpus spectrum of
    synthetic/near-isotropic embeddings is FLAT (measured here:
    top singular values 3.72 vs 3.69 — power iteration still at
    cos 0.24 to PC1 after 2 steps and 0.52 after 6), while the
    between-class spectrum has a real gap (cos ≥ 0.88 to the true
    direction after the 5 unrolled iterations at every SF, 0.99 at
    the test scales).  Convergence depends on the eigengap by the
    power-method contract — the iteration count is the static knob.

    The kmeans/pagerank determinism rule applied to a third
    iterative float algorithm: embeddings quantize to the 1e4
    integer grid, centroid and center are sign-safe integer
    divisions (DuckDB // floors, Spark div truncates — they agree
    only on non-negatives, so every division decomposes through
    abs), each half-step is an order-independent integer
    sum-of-products, and renormalization is L∞ on a 1e6 grid (max,
    not sqrt — stays integer).  Bit-identical across engines by
    construction; intermediates measured ≤ 4e9, far inside int64.

    Scale shape: the ONLY corpus-scale work is the first
    aggregation (label × dim integer sums — map-side combined, one
    exchange); the k×64 centered-centroid model then folds on the
    DRIVER through the 5 iterations (the kmeans contract — collapse
    the corpus to the bounded model in one aggregation, iterate on
    the model), with numpy mirroring the oracle's integer semantics
    exactly (truncating division via sign decomposition).  The
    all-DataFrame iteration was measured at 7-10 s at sf0.1 —
    thirty model-sized stages of scheduling overhead for 640 rows
    of integer math — and rejected; the collect is bounded by label
    cardinality, never corpus-sized."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    # unlabeled vectors form no class (see the oracle's WHERE and
    # embedding_outliers' identical contract)
    q = emb.where(F.col("label").isNotNull()).select(
        "vec_id", "label", F.posexplode("embedding").alias("j", "a")
    ).select("label", "j", F.expr(_PCA_Q).alias("q"))

    # The ONLY corpus-scale stage: label x dim integer sums +
    # counts, map-side combined, one exchange.
    cent = q.groupBy("label", "j").agg(
        F.expr(_sdiv("sum(q)", "count(*)").format(op="div")).alias("c")
    )

    # Fold the bounded k x 64 model on the DRIVER (the kmeans
    # contract: collapse the corpus to the model in one aggregation,
    # iterate on the model driver-side).  An all-DataFrame iteration
    # was measured at 7-10 s at sf0.1 — thirty model-sized stages of
    # pure scheduling overhead for 640 rows of integer math.
    rows = cent.collect()  # bounded: k * 64
    labels = sorted({r["label"] for r in rows})
    lab_ix = {l: i for i, l in enumerate(labels)}
    C = np.zeros((len(labels), 64), dtype=np.int64)
    for r in rows:
        C[lab_ix[r["label"]], r["j"]] = r["c"]

    def sdiv(x, den):  # truncating division via sign decomposition
        return np.sign(x) * (np.abs(x) // den)

    def guard(arr, headroom):
        # numpy int64 WRAPS on overflow where the DuckDB oracle
        # computes in 128-bit — fail loud long before the wrap so a
        # bound violation can never become a silent bit-divergence
        assert int(np.abs(arr).max(initial=0)) < (2**62) // headroom, (
            "embedding_pca intermediate exceeds the int64 budget"
        )
        return arr

    g = sdiv(C.sum(axis=0), len(labels))
    d = C - g
    v = np.ones(64, dtype=np.int64)
    for i in range(1, _PCA_ITERS + 1):
        sv = guard(d @ v, 64 * 20000)
        if i > 1:
            sv = sdiv(sv, 1024)
        w = guard(d.T @ sv, 1000000)
        m = max(int(np.abs(w).max()), 1)
        v = sdiv(w * 1000000, m)

    out = [(int(j), int(v[j])) for j in range(64)]
    return spark.createDataFrame(
        out, schema="dim BIGINT, weight BIGINT"
    ).orderBy("dim")


# ---------------------------------------------------------------------
# Passage chunking (#179)

_CHUNK_W = 64   # tokens per chunk
_CHUNK_S = 48   # stride (16-token overlap)


# shared by the batch entry and the stream_doc_chunks ingest twin
# (queries_history) — streaming == batch is the twin's whole claim,
# so they must compare against the SAME oracle text
DOC_CHUNKS_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), n AS (
        SELECT doc_id, toks, len(toks) AS n_tok,
               1 + greatest(0, ceil((len(toks) - {_CHUNK_W})
                                    / {_CHUNK_S}.0))::BIGINT AS n_chunks
        FROM d
    ), e AS (
        SELECT doc_id, toks, n_tok,
               unnest(range(0, n_chunks)) AS i
        FROM n
    )
    SELECT doc_id, i AS chunk_idx,
           (i * {_CHUNK_S} + 1)::BIGINT AS tok_start,
           least(i * {_CHUNK_S} + {_CHUNK_W}, n_tok)::BIGINT AS tok_end,
           array_to_string(
               list_slice(toks, i * {_CHUNK_S} + 1,
                          i * {_CHUNK_S} + {_CHUNK_W}), ' ')
               AS chunk_text
    FROM e
    """


@register("doc_chunks", oracle=DOC_CHUNKS_ORACLE)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage chunking (#179): split each document into 64-token
    windows at stride 48 (16-token overlap), emitting chunk ordinal,
    1-based token offsets, and the chunk text — the materialization
    step between cleaning and packing in a training/RAG pipeline
    (dedup_chunk scores chunk sharing, seq_packing bins token
    counts; this op EMITS the passages).  Entirely codegen column
    algebra: tokenize once, explode a sequence of chunk ordinals,
    slice the token array per ordinal — no Python, no shuffle at
    all (the plan is scan → project → generate), so it scales as a
    pure map over the corpus; output size is input x (1 + overlap
    fraction), the honest cost of overlapping windows.  Null text
    chunks to nothing (null contract rule 3: a missing document has
    no passages).  The projection itself lives in
    operators.text.chunk_passages, shared verbatim with
    chunk_dedup_pack and the stream_doc_chunks ingest twin."""
    docs = load_table(spark, sf_dir, "documents")
    return T.chunk_passages(docs, width=_CHUNK_W, stride=_CHUNK_S)


_H_CKEY = duckdb_hash64("('p:' || ckey)")
_CHUNK_BUDGET = 256


@register(
    "chunk_dedup_pack",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), n AS (
        SELECT doc_id, source, toks, len(toks) AS n_tok,
               1 + greatest(0, ceil((len(toks) - {_CHUNK_W})
                                    / {_CHUNK_S}.0))::BIGINT AS n_chunks
        FROM d
    ), e AS (
        SELECT doc_id, source, toks, n_tok,
               unnest(range(0, n_chunks)) AS i
        FROM n
    ), ch AS (
        SELECT doc_id, source, i AS chunk_idx,
               (least(i * {_CHUNK_S} + {_CHUNK_W}, n_tok)
                - i * {_CHUNK_S})::BIGINT AS n_tokens,
               {duckdb_hash64(
                   "array_to_string(list_slice(toks,"
                   f" i * {_CHUNK_S} + 1, i * {_CHUNK_S} + {_CHUNK_W}),"
                   " ' ')"
               )} AS chash
        FROM e
    ), canon AS (
        SELECT doc_id, source, chunk_idx, n_tokens, n_dups FROM (
            SELECT doc_id, source, chunk_idx, n_tokens,
                   count(*) OVER (PARTITION BY chash) AS n_dups,
                   row_number() OVER (PARTITION BY chash
                       ORDER BY doc_id ASC, chunk_idx ASC) AS rn
            FROM ch
        ) WHERE rn = 1
    ), k AS (
        SELECT *, CAST(doc_id AS VARCHAR) || ':'
                  || CAST(chunk_idx AS VARCHAR) AS ckey
        FROM canon
    )
    SELECT doc_id, chunk_idx, source, n_tokens,
           CAST(n_dups AS BIGINT) AS n_dups,
           CAST((cum - n_tokens) // {_CHUNK_BUDGET} AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % {_CHUNK_BUDGET} AS BIGINT)
               AS offset_in_seq
    FROM (
        SELECT *, sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY {_H_CKEY} ASC, ckey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
        FROM k
    )
    """,
)
def chunk_dedup_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk -> chunk-level dedup -> pack, composed end-to-end in ONE
    Catalyst plan (#180) — the RAG/pretrain analogue of
    curate_corpus: documents are split into passages (the identical
    operators.text.chunk_passages projection doc_chunks materializes),
    exact-duplicate passages collapse to their canonical first
    occurrence (keeping the duplicate count as the sharing stat
    dedup_chunk reports), and the survivors are packed into
    256-token training sequences per source stream (the identical
    operators.sampling.pack_sequences layout seq_packing uses).

    Scale shape: the chunk stage is a pure map sharing one corpus
    scan; dedup is ONE hash-groupBy on the portable 60-bit chunk
    fingerprint (map-side combinable min/count — never an all-pairs
    or windowed pass over chunk text, and the canonical row's fields
    ride the min-struct so there is no join back to the chunk
    stream); packing is one window cumsum per source partition.  Two
    shuffles total (chash, then source), both on keys the data is
    about to be consumed by.  Duplicate-chunk skew concentrates into
    single chash groups, but a group costs O(1) state (min + count),
    so a 10^6-way boilerplate chunk is one combiner cell, not a
    straggler."""
    docs = load_table(spark, sf_dir, "documents")
    ch = T.chunk_passages(
        docs, width=_CHUNK_W, stride=_CHUNK_S, carry=("source",)
    )
    from bugzilla_etl_spark.functions.hashing import hash64
    from bugzilla_etl_spark.operators import sampling as S

    canon = (
        ch.select(
            "doc_id",
            "source",
            "chunk_idx",
            (F.col("tok_end") - F.col("tok_start") + 1).alias("n_tokens"),
            hash64(F.col("chunk_text")).alias("chash"),
        )
        .groupBy("chash")
        .agg(
            F.min(
                F.struct("doc_id", "chunk_idx", "source", "n_tokens")
            ).alias("c"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("c.*", "n_dups")
        .withColumn(
            "ckey",
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("chunk_idx").cast("string"),
            ),
        )
    )
    packed = S.pack_sequences(
        canon,
        stream="source",
        key="ckey",
        n_tokens="n_tokens",
        budget=_CHUNK_BUDGET,
    )
    return packed.select(
        "doc_id",
        "chunk_idx",
        "source",
        "n_tokens",
        "n_dups",
        "seq_id",
        F.col("offset_in_seq").cast("long").alias("offset_in_seq"),
    )
