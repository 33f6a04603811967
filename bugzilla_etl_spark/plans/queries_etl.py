"""ETL / normalization queries (SURVEY §2 #8-#12, #14-#16).

Null-token scrubbing, flag parsing, JSON props extraction, alias
resolution/analysis, private-entity screening, ES document shaping,
comments pipeline.  Where the test tables lack the reference's dirty
inputs (null tokens, flag strings), we derive them DETERMINISTICALLY
from existing columns with identical expressions on both engines —
the operator under test is the cleanup/parse logic, not the synth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bugzilla_etl_spark.operators import alias as A
from bugzilla_etl_spark.operators import normalize as N
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.tmpdirs import tracked_mkdtemp


@register(
    "normalize_scrub",
    oracle="""
    SELECT event_id,
           nullif(nullif(nullif(raw, '--'), '---'), '') AS scrubbed,
           nullif(value * (event_id % 2), 0.0) AS val_zero_null,
           TRY_CAST(nullif(nullif(nullif(raw, '--'), '---'), '') AS DOUBLE)
               AS val_num
    FROM (
        SELECT event_id, value,
               CASE event_id % 5
                   WHEN 0 THEN '--'   WHEN 1 THEN '---'
                   WHEN 2 THEN ''     WHEN 3 THEN CAST(value AS VARCHAR)
                   ELSE 'n/a'
               END AS raw
        FROM events
    )
    """,
)
def normalize_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-token scrub + zero-is-null + numeric coercion.
    reference: transform_bugzilla.py:53 normalize(), :42 NULL_VALUES."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        F.expr(
            "CASE event_id % 5 WHEN 0 THEN '--' WHEN 1 THEN '---' "
            "WHEN 2 THEN '' WHEN 3 THEN CAST(value AS STRING) ELSE 'n/a' END"
        ).alias("raw"),
    )
    return ev.select(
        "event_id",
        N.scrub_nulls("raw").alias("scrubbed"),
        N.zero_to_null(F.col("value") * (F.col("event_id") % 2)).alias(
            "val_zero_null"
        ),
        N.numeric_coerce(N.scrub_nulls("raw")).alias("val_num"),
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from semi-structured payloads.
    reference: extract_bugzilla.py:330 flatten_bugs_record."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "flag_parse",
    oracle="""
    SELECT event_id, flag,
           nullif(regexp_extract(flag, '^(.*)([?+-])(\\([^)]*\\))?$', 1), '')
               AS flag_name,
           nullif(regexp_extract(flag, '^(.*)([?+-])(\\([^)]*\\))?$', 2), '')
               AS flag_status,
           nullif(replace(replace(
               regexp_extract(flag, '^(.*)([?+-])(\\([^)]*\\))?$', 3),
               '(', ''), ')', ''), '') AS requestee
    FROM (
        SELECT event_id,
               event_type ||
               CASE event_id % 3 WHEN 0 THEN '?' WHEN 1 THEN '+' ELSE '-' END ||
               CASE WHEN event_id % 2 = 0
                    THEN '(u' || CAST(user_id AS VARCHAR) || '@example.com)'
                    ELSE '' END AS flag
        FROM events
    )
    """,
)
def flag_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag string -> (name, status, requestee).
    reference: parse_bug_history.py:70 FLAG_PATTERN, :1052 parse_flag."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(
            "event_type || CASE event_id % 3 WHEN 0 THEN '?' WHEN 1 THEN '+' "
            "ELSE '-' END || CASE WHEN event_id % 2 = 0 "
            "THEN '(u' || CAST(user_id AS STRING) || '@example.com)' ELSE '' END"
        ).alias("flag"),
    )
    parsed = ev.select("event_id", "flag", N.parse_flag("flag").alias("p"))
    return parsed.select(
        "event_id",
        "flag",
        F.col("p.name").alias("flag_name"),
        F.col("p.status").alias("flag_status"),
        F.col("p.requestee").alias("requestee"),
    )


# Deterministic synthetic "email" per actor, plus an alias dim where
# every odd user's mail is an old address of user-1's canonical mail.
_SPARK_EMAIL = "concat('u', CAST(user_id AS STRING), '@example.com')"
_DUCK_EMAIL = "('u' || CAST(user_id AS VARCHAR) || '@example.com')"


@register(
    "alias_resolve",
    oracle=f"""
    WITH ev AS (SELECT event_id, user_id, {_DUCK_EMAIL} AS email FROM events),
    mapping AS (
        SELECT DISTINCT {_DUCK_EMAIL} AS alias,
               ('u' || CAST(user_id - 1 AS VARCHAR) || '@example.com') AS canonical
        FROM events WHERE user_id % 2 = 1
    )
    SELECT ev.event_id, ev.user_id,
           coalesce(mapping.canonical, ev.email) AS email
    FROM ev LEFT JOIN mapping ON ev.email = mapping.alias
    """,
)
def alias_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-identity rewrite through a broadcast mapping dim.
    reference: alias_analysis.py:172 get_canonical,
    parse_bug_history.py:1048 email_alias."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.expr(_SPARK_EMAIL).alias("email")
    )
    mapping = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 2 == 1)
        .select(
            F.expr(_SPARK_EMAIL).alias("alias"),
            F.expr(
                "concat('u', CAST(user_id - 1 AS STRING), '@example.com')"
            ).alias("canonical"),
        )
        .distinct()
    )
    out = A.resolve_aliases(ev, mapping, cols=["email"])
    return out.select("event_id", "user_id", "email")


@register(
    "alias_analysis",
    oracle="""
    WITH pairs AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS lost,
               event_type AS found
        FROM events
    ), counts AS (
        SELECT lost, found, count(*) AS n_matches
        FROM pairs WHERE lost IS NOT NULL AND lost <> found
        GROUP BY lost, found
    )
    SELECT lost AS alias, found AS canonical, n_matches
    FROM (
        SELECT *, row_number() OVER (PARTITION BY lost
                                     ORDER BY n_matches DESC, found ASC) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
)
def alias_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the canonical mapping from transition evidence.
    reference: alias_analysis.py:114 analysis, :184 add_alias."""
    ev = load_table(spark, sf_dir, "events")
    pairs = A.transition_pairs(ev, value_col="event_type")
    return A.best_canonical(pairs)


@register(
    "alias_compact",
    conf={PARALLELISM_FIRST: "false"},
    oracle="""
    WITH u AS (SELECT DISTINCT user_id AS id FROM events),
    m AS (
        SELECT 'u' || CAST(id AS VARCHAR) || '@example.com' AS alias,
               CASE
                 WHEN id % 2 = 1 AND (id - 1) % 4 = 2
                   THEN 'u' || CAST(id - 3 AS VARCHAR) || '@example.com'
                 WHEN id % 2 = 1
                   THEN 'u' || CAST(id - 1 AS VARCHAR) || '@example.com'
                 ELSE 'u' || CAST(id - 2 AS VARCHAR) || '@example.com'
               END AS canonical
        FROM u WHERE id % 2 = 1 OR id % 4 = 2
    )
    SELECT alias, canonical FROM m WHERE alias <> canonical
    """,
)
def alias_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias persistence round-trip + compaction + chain remap — the
    reference's cross-run alias file lifecycle (alias_analysis.py:232
    load_aliases, :306 save_aliases, :322 compact, :225 reassign).

    A stored mapping (odd users -> their predecessor, plus identity
    rows that compaction must drop) is SAVED to a parquet store,
    LOADED back, and merged with a fresh round (users ≡2 mod 4 ->
    two back).  The merge collapses the resulting chains
    (u{4k+3} -> u{4k+2} -> u{4k}), so the oracle's closed-form CASE is
    exactly the chain-followed mapping.  The store write/read is the
    point of the query; the oracle checks the surviving values."""
    from bugzilla_etl_spark.sinks.alias_store import (
        load_aliases,
        merge_aliases,
        save_aliases,
    )

    def em(c):
        return F.concat(F.lit("u"), c.cast("string"), F.lit("@example.com"))

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    stored = (
        users.where(F.col("user_id") % 2 == 1)
        .select(
            em(F.col("user_id")).alias("alias"),
            em(F.col("user_id") - 1).alias("canonical"),
        )
        .unionByName(
            users.where(F.col("user_id") % 4 == 0).select(
                em(F.col("user_id")).alias("alias"),
                em(F.col("user_id")).alias("canonical"),
            )
        )
    )
    fresh = users.where(F.col("user_id") % 4 == 2).select(
        em(F.col("user_id")).alias("alias"),
        em(F.col("user_id") - 2).alias("canonical"),
    )
    path = tracked_mkdtemp(prefix="bes_alias_") + "/store"
    save_aliases(stored, path)
    loaded, _ = load_aliases(spark, path)
    return merge_aliases(loaded, fresh)


@register(
    "private_screen",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE user_id NOT IN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error' AND value > 190
    )
    """,
)
def private_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove every row of screened entities (anti-join).
    reference: extract_bugzilla.py:151 get_private_bugs_for_delete,
    bz_etl.py incremental private-bug delete propagation."""
    ev = load_table(spark, sf_dir, "events")
    private = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 190))
        .select("user_id")
        .distinct()
    )
    out = ev.join(F.broadcast(private), on="user_id", how="left_anti")
    return out.select("event_id", "user_id", "event_type")


@register(
    "private_retract",
    oracle="""
    WITH err AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'error'
    ),
    state AS (
        SELECT user_id, value > 190 AS is_private FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn FROM err
        ) WHERE rn = 1
    ),
    wm AS (
        SELECT max(floor(epoch(ts))::BIGINT) - 604800 AS cut FROM events
    ),
    recent AS (
        SELECT DISTINCT user_id FROM err, wm
        WHERE floor(epoch(ts))::BIGINT >= wm.cut
    ),
    priv AS (SELECT user_id FROM state WHERE is_private)
    SELECT user_id, 'delete' AS action FROM priv
    UNION ALL
    SELECT r.user_id, 'refresh' AS action FROM recent r
    WHERE r.user_id NOT IN (SELECT user_id FROM priv)
    """,
)
def private_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental privacy-propagation cycle (bz_etl.py:179-209):
    entities whose CURRENT privacy state is private get their stored
    docs DELETED; entities whose privacy was touched recently but are
    not private now (possible_public_bugs - private_bugs) get a
    REFRESH — a full re-ETL overwriting any stale private-era docs.

    Privacy state = the latest 'error' marker's value (>190 ⇒
    private); "recent" = markers inside a 7-day watermark off the log
    head.  Plan: one window over the skinny marker subset + broadcast
    anti/semi joins — the delete/refresh lists are dim-sized by
    construction (privacy changes are rare events), which is what
    makes the cycle cheap to run every increment at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    state = (
        err.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", (F.col("value") > 190).alias("is_private"))
    )
    priv = state.where(F.col("is_private")).select("user_id")
    wm = ev.agg(
        (F.max(F.col("ts").cast("long")) - F.lit(604800)).alias("cut")
    )
    recent = (
        err.crossJoin(F.broadcast(wm))
        .where(F.col("ts").cast("long") >= F.col("cut"))
        .select("user_id")
        .distinct()
    )
    deletes = priv.select("user_id", F.lit("delete").alias("action"))
    refresh = recent.join(
        F.broadcast(priv), on="user_id", how="left_anti"
    ).select("user_id", F.lit("refresh").alias("action"))
    return deletes.unionByName(refresh)


@register(
    "private_subentity",
    oracle="""
    WITH m AS (
        SELECT user_id, 1 + (event_id % 5) AS sub_id,
               event_id, ts, value
        FROM events
        WHERE event_id % 2 = 0 AND event_type = 'error'
    ),
    state AS (
        SELECT user_id, sub_id, value > 150 AS is_private FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, sub_id
                ORDER BY ts DESC, event_id DESC
            ) AS rn FROM m
        ) WHERE rn = 1
    ),
    wm AS (
        SELECT max(floor(epoch(ts))::BIGINT) - 604800 AS cut
        FROM events
    ),
    recent AS (
        SELECT DISTINCT user_id, sub_id FROM m, wm
        WHERE floor(epoch(ts))::BIGINT >= wm.cut
    ),
    priv AS (SELECT user_id, sub_id FROM state WHERE is_private)
    SELECT user_id, sub_id, 'screen_sub' AS action FROM priv
    UNION ALL
    SELECT DISTINCT r.user_id, CAST(NULL AS BIGINT) AS sub_id,
           'refresh_entity' AS action
    FROM recent r
    WHERE NOT EXISTS (
        SELECT 1 FROM priv p
        WHERE p.user_id = r.user_id AND p.sub_id = r.sub_id
    )
    """,
)
def private_subentity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-ENTITY privacy propagation — the reference screens
    attachment- and comment-LEVEL isprivate flips as their own
    re-ETL signals, distinct from bug-level privacy
    (extract_bugzilla.py:187 get_recent_private_attachments, :212
    get_recent_private_comments, consumed at bz_etl.py:179-209):
    a single attachment going private must scrub THAT sub-document
    everywhere, and one going public again must refresh its parent
    entity to restore it.

    Model (the attachment_versions domain): even event_ids are
    attachment mutations (sub_id = 1 + event_id % 5); the 'error'
    markers among them are isprivate flips, current state = latest
    marker per (entity, sub), private iff value > 150.  Output:
    ``screen_sub`` per currently-private (entity, sub) — the
    sub-document delete list — plus ``refresh_entity`` for entities
    with a RECENT flip on a now-public sub (private_retract's
    possible_public analogue one level down: the stale private-era
    doc must be rebuilt).

    Plan: one window over the skinny marker subset + broadcast
    anti-join — flip lists are dim-sized by construction (privacy
    flips are rare events), so the cycle costs nothing per
    increment at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.where(
        (F.col("event_id") % 2 == 0)
        & (F.col("event_type") == "error")
    ).select(
        "user_id",
        (F.lit(1) + F.col("event_id") % 5).alias("sub_id"),
        "event_id",
        "ts",
        "value",
    )
    w = Window.partitionBy("user_id", "sub_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    state = (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            "sub_id",
            (F.col("value") > 150).alias("is_private"),
        )
    )
    priv = state.where(F.col("is_private")).select(
        "user_id", "sub_id"
    )
    wm = ev.agg(
        (F.max(F.col("ts").cast("long")) - F.lit(604800)).alias("cut")
    )
    recent = (
        m.crossJoin(F.broadcast(wm))
        .where(F.col("ts").cast("long") >= F.col("cut"))
        .select("user_id", "sub_id")
        .distinct()
    )
    screen = priv.select(
        "user_id", "sub_id", F.lit("screen_sub").alias("action")
    )
    refresh = (
        recent.join(
            F.broadcast(priv), on=["user_id", "sub_id"], how="left_anti"
        )
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(None).cast("long").alias("sub_id"),
            F.lit("refresh_entity").alias("action"),
        )
    )
    return screen.unionByName(refresh)


@register(
    "es_docs",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) || '_' ||
           CAST(floor(epoch(ts))::BIGINT AS VARCHAR) AS _id,
           user_id, event_type,
           floor(epoch(ts))::BIGINT AS modified_ts
    FROM (
        SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id, floor(epoch(ts))::BIGINT
                                  ORDER BY event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def es_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bulk-document shaping: id = entity_epochseconds; one doc per
    (entity, second) — exactly the reference's overwrite granularity,
    where versions in the same second collapse to the last one.
    reference: transform_bugzilla.py:55 (id), bz_etl.py ES sink."""
    ev = load_table(spark, sf_dir, "events")
    w_sec = F.col("ts").cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", w_sec).orderBy(F.col("event_id").desc())
    latest = (
        ev.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    )
    return latest.select(
        N.doc_id("user_id", "ts").alias("_id"),
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("modified_ts"),
    )


@register(
    "es_file_extract",
    oracle="""
    SELECT doc_id, source, n_chars,
           nullif(nullif(nullif(
               CASE doc_id % 5
                   WHEN 0 THEN '--'   WHEN 1 THEN '---'
                   WHEN 2 THEN ''     WHEN 3 THEN CAST(n_chars AS VARCHAR)
                   ELSE 'n/a'
               END, '--'), '---'), '') AS scrubbed
    FROM documents
    """,
)
def es_file_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-DUMP extraction — the reference's alternate source path
    (replicate.py:46 extract_from_file): an ES bulk-dump text file
    of JSON records is parsed line-by-line, each record normalized
    (the null-token scrub), and loaded as typed docs.

    Executed for real: the dump is WRITTEN as newline-delimited
    JSON text files (executor-side ``to_json``, one dump part per
    partition — the shape an ES snapshot dump has), read back with
    the TEXT source, parsed with schema-typed ``from_json``, and
    scrubbed.  The oracle checks parsed CONTENT, not dump bytes —
    each engine round-trips its own JSON encoding, which is the
    extraction contract (and why string-escaping differences
    between engines cannot matter).

    Scale shape: write and parse are both map-only (no exchange
    anywhere); a malformed line yields a NULL struct rather than a
    task failure (PERMISSIVE from_json), the per-block error-file
    behavior of the reference collapsed to the engine's native
    bad-record channel."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.expr(
        "CASE doc_id % 5 WHEN 0 THEN '--' WHEN 1 THEN '---'"
        " WHEN 2 THEN '' WHEN 3 THEN CAST(n_chars AS STRING)"
        " ELSE 'n/a' END"
    )
    dump_dir = os.path.join(tracked_mkdtemp("bes_esfx_"), "dump")
    (
        docs.select(
            F.to_json(
                F.struct(
                    F.col("doc_id").alias("id"),
                    F.col("source"),
                    F.col("n_chars"),
                    dirty.alias("raw"),
                )
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(dump_dir)
    )
    schema = "id BIGINT, source STRING, n_chars BIGINT, raw STRING"
    parsed = (
        spark.read.text(dump_dir)
        .select(F.from_json("value", schema).alias("r"))
        .select("r.id", "r.source", "r.n_chars", "r.raw")
    )
    return parsed.select(
        F.col("id").alias("doc_id"),
        "source",
        "n_chars",
        N.scrub_nulls("raw").alias("scrubbed"),
    )


def _alias_path(base: str) -> str:
    import os

    return os.path.join(base, "alias.json")


def _set_alias(base: str, index: str) -> None:
    """Atomic alias swap: write-then-rename, the crash-safe cut-over
    (a reader either sees the old index or the new one, never a
    torn pointer) — the filesystem model of ES's atomic
    update-aliases API."""
    import json
    import os

    tmp = _alias_path(base) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"index": index}, f)
    os.replace(tmp, _alias_path(base))


def _get_alias(base: str) -> str:
    import json

    with open(_alias_path(base)) as f:
        return json.load(f)["index"]


@register(
    "es_alias_cutover",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS _id, source,
           CASE WHEN doc_id % 10 = 0 THEN n_chars + 1
                ELSE n_chars END AS n_chars,
           CAST(2 AS BIGINT) AS index_run
    FROM documents
    """,
)
def es_alias_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX LIFECYCLE / alias cut-over — the reference's
    index-per-run + alias-swap-at-completion pattern
    (replicate.py:147 get_or_create_index, bz_etl.py:131 setup_es,
    replicate.py:210-211 delete_all_but + add_alias), executed
    against a real store: run 1 lands the corpus in its own index
    dir and takes the alias; run 2 (a re-ETL with 10%% of docs
    changed) lands in a NEW index dir, swaps the alias atomically
    only after its write completes, then retires the old index —
    readers always resolve the alias to exactly one complete
    index, so a crash anywhere leaves the previous run serving.

    The returned frame reads THROUGH the alias, and the oracle is
    run 2's expected content: a hash match proves the swap happened
    after completion and the reader never saw a blend.  The unit
    test additionally pins the crash-window semantics (alias still
    serves run 1 until the swap line) and old-index retirement.

    Scale shape: each run's write is one map-only job; the alias
    swap is O(1) metadata, never data movement — which is the whole
    point of the pattern at 100 TB (cut-over cost is independent of
    index size)."""
    import os
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    base = tracked_mkdtemp("bes_esx_")
    run1 = os.path.join(base, "idx_run1")
    run2 = os.path.join(base, "idx_run2")
    v1 = docs.select(
        F.col("doc_id").cast("string").alias("_id"),
        "source",
        "n_chars",
        F.lit(1).cast("long").alias("index_run"),
    )
    v2 = docs.select(
        F.col("doc_id").cast("string").alias("_id"),
        "source",
        F.when(
            F.col("doc_id") % 10 == 0, F.col("n_chars") + 1
        )
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
        F.lit(2).cast("long").alias("index_run"),
    )
    v1.write.mode("overwrite").parquet(run1)
    _set_alias(base, "idx_run1")  # run 1 completes, takes the alias
    v2.write.mode("overwrite").parquet(run2)  # new index per run
    _set_alias(base, "idx_run2")  # swap ONLY after write completes
    shutil.rmtree(run1)  # delete_all_but(alias, current)
    return spark.read.parquet(os.path.join(base, _get_alias(base)))


def _set_dual_alias(base: str, bugs_idx: str, comments_idx: str) -> None:
    """BOTH pipeline pointers live in ONE alias file, flipped by one
    atomic rename — the filesystem model of the reference's
    run-both-then-cutover contract (bz_etl.py:123 run_both_etl joins
    both threads before the run is considered complete): a reader
    can never observe run N bugs beside run N-1 comments."""
    import json
    import os

    tmp = _alias_path(base) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"bugs": bugs_idx, "comments": comments_idx}, f)
    os.replace(tmp, _alias_path(base))


def _get_dual_alias(base: str) -> dict:
    import json

    with open(_alias_path(base)) as f:
        return json.load(f)


def dual_cutover_run(
    base: str,
    bugs_df: DataFrame,
    comments_df: DataFrame,
    run_no: int,
    crash_before: str | None = None,
) -> None:
    """One ETL run of BOTH pipelines with the single cut-over:
    write bugs index, write comments index, then flip both alias
    pointers in one atomic rename and retire the previous run's
    indexes.  ``crash_before`` ∈ {"comments_write", "swap"} injects
    the two crash windows the unit test pins: in either one the
    alias still serves the COMPLETE previous run for both
    pipelines."""
    import os
    import shutil

    if crash_before is None:
        # The reference runs the two pipelines in PARALLEL THREADS
        # and joins both before the cut-over (bz_etl.py:123-130
        # run_both_etl) — mirror it: the two index writes are
        # independent jobs, so overlapping them lets each job's
        # stage tails back-fill the other's freed executors; the
        # alias flip below still waits on BOTH.  The sequential arm
        # stays for the injected-crash windows, which are defined in
        # terms of the bugs-then-comments order.
        from concurrent.futures import ThreadPoolExecutor

        def _write(df: DataFrame, name: str) -> None:
            df.write.mode("overwrite").parquet(os.path.join(base, name))

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(_write, bugs_df, f"bugs_run{run_no}")
            fc = pool.submit(_write, comments_df, f"comments_run{run_no}")
            fb.result()
            fc.result()
    else:
        bugs_df.write.mode("overwrite").parquet(
            os.path.join(base, f"bugs_run{run_no}")
        )
        if crash_before == "comments_write":
            return
        comments_df.write.mode("overwrite").parquet(
            os.path.join(base, f"comments_run{run_no}")
        )
        if crash_before == "swap":
            return
    _set_dual_alias(base, f"bugs_run{run_no}", f"comments_run{run_no}")
    # delete_all_but (replicate.py:210): retire every index the
    # alias no longer references
    keep = set(_get_dual_alias(base).values())
    for d in os.listdir(base):
        full = os.path.join(base, d)
        if os.path.isdir(full) and d not in keep:
            shutil.rmtree(full)


def _dual_frames(
    ev: DataFrame, docs: DataFrame, run_no: int
) -> tuple[DataFrame, DataFrame]:
    """One run of BOTH REAL pipelines, projected to the COMMON sink
    schema (_id, kind, n_val, index_run): the bugs side is the full
    versioned-document build (the same ``build_full_docs`` as
    ``bug_version_full`` — _id and version straight from its spine),
    the comments side is the ``comments_etl`` screen+project.  Run 1
    processes a PARTIAL history (the previous scheduled run's
    horizon: events with event_id % 3 != 0, even doc_ids); run 2 is
    the full re-ETL — so the cut-over swaps in visibly different
    content on both sides, the way consecutive scheduled runs do."""
    from bugzilla_etl_spark.plans.queries_history import (
        build_full_docs,
    )

    bev = ev if run_no == 2 else ev.where(F.col("event_id") % 3 != 0)
    bugs = build_full_docs(bev).select(
        "_id",
        F.lit("bug").alias("kind"),
        F.col("version").cast("long").alias("n_val"),
        F.lit(run_no).cast("long").alias("index_run"),
    )
    cdocs = (
        docs if run_no == 2 else docs.where(F.col("doc_id") % 2 == 0)
    )
    comments = cdocs.where(F.col("source") != "src0").select(
        F.col("doc_id").cast("string").alias("_id"),
        F.lit("comment").alias("kind"),
        F.col("n_chars").cast("long").alias("n_val"),
        F.lit(run_no).cast("long").alias("index_run"),
    )
    return bugs, comments


@register(
    "dual_pipeline_cutover",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS tsl FROM events
    ),
    versioned AS (
      SELECT user_id, tsl,
             row_number() OVER w AS version,
             lead(tsl) OVER w AS expires_on
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsl, event_id)
    ),
    verx AS (
      SELECT * FROM versioned
      WHERE expires_on IS NULL OR expires_on <> tsl
    )
    SELECT CAST(user_id AS VARCHAR) || '_'
               || CAST(tsl // 1000 AS VARCHAR) AS _id,
           'bug' AS kind, CAST(version AS BIGINT) AS n_val,
           CAST(2 AS BIGINT) AS index_run
    FROM verx
    UNION ALL
    SELECT CAST(doc_id AS VARCHAR) AS _id, 'comment' AS kind,
           CAST(n_chars AS BIGINT) AS n_val,
           CAST(2 AS BIGINT) AS index_run
    FROM documents WHERE source <> 'src0'
    """,
)
def dual_pipeline_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PIPELINE transactional cut-over — the reference runs the
    comments ETL and the bug ETL together and the run completes
    (aliases flip) only when BOTH finish (bz_etl.py:123-130
    run_both_etl: both threads joined before the cut-over in main).
    Composed here from the REAL pipelines: each run lands a bugs
    index (the full ``build_full_docs`` versioned-document build —
    the same plan as ``bug_version_full``) AND a comments index
    (the ``comments_etl`` screen+project), index-per-run in the
    es_alias_cutover lifecycle, and ONE alias file holding both
    pointers flips in a
    single atomic rename only after both writes complete — a crash
    in any window (between the two writes, or after both writes but
    before the swap) leaves the previous run serving BOTH pipelines,
    never a mixed pair.  The returned frame reads both stores
    through the alias; the oracle is run 2's expected union, so the
    hash match proves the paired swap happened after both
    completions.  Cut-over cost is one rename — independent of
    either index's size."""
    import os

    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    base = tracked_mkdtemp("bes_dual_")
    b1, c1 = _dual_frames(ev, docs, 1)
    dual_cutover_run(base, b1, c1, 1)
    b2, c2 = _dual_frames(ev, docs, 2)
    dual_cutover_run(base, b2, c2, 2)
    alias = _get_dual_alias(base)
    return spark.read.parquet(
        os.path.join(base, alias["bugs"])
    ).unionByName(
        spark.read.parquet(os.path.join(base, alias["comments"]))
    )


@register(
    "replicate_cycle",
    oracle="""
    WITH cut AS (SELECT (min(floor(epoch(ts))::BIGINT)
                       + max(floor(epoch(ts))::BIGINT)) // 2 AS c FROM events),
    src AS (
      SELECT user_id, floor(epoch(ts))::BIGINT AS tsl, event_type,
             row_number() OVER (PARTITION BY user_id, floor(epoch(ts))::BIGINT
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT CAST(user_id AS VARCHAR) || '_' || CAST(tsl AS VARCHAR) AS _id,
           user_id, event_type, tsl AS modified_ts,
           CASE WHEN tsl <= cut.c THEN 'initial' ELSE 'replicated' END AS via
    FROM src, cut WHERE rn = 1
    """,
)
def replicate_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL replicate.py main loop, composed from the
    three already-proven pieces and executed end-to-end against a
    real second store: pending-detection (replicate.py:68
    get_last_updated / :97 get_pending — the ``replicate_pending``
    operator's broadcast high-water-mark probe) -> file-dump extract
    (replicate.py:46 extract_from_file — the ``es_file_extract``
    NDJSON write/parse round trip) -> index-per-run landing with
    atomic alias cut-over (replicate.py:147 get_or_create_index,
    :210-211 delete_all_but + add_alias — the ``es_alias_cutover``
    lifecycle).

    Executed shape: the SOURCE is the es_docs projection of events
    (one doc per entity-second).  Run 1 bootstraps the destination
    with the first-half-of-time slice (the previous scheduled run's
    horizon) and takes the alias.  The cycle then reads the
    destination THROUGH the alias, computes its high-water mark with
    a 1-row broadcast agg (no shuffle of the source side), dumps
    exactly the pending docs as newline-delimited JSON, parses them
    back with schema-typed from_json, lands old+new content in a NEW
    index dir, and flips the alias atomically only after the write
    completes — then retires the old index.  The returned frame
    reads through the alias; ``via`` records which run landed each
    doc, so the oracle's CASE over the midpoint cut verifies the
    pending-detection boundary, not just the final content.

    Scale shape: pending detection is a broadcast 1-row aggregate
    against the source scan (never a shuffle of the corpus); the
    dump write and parse are map-only; the cut-over is one rename —
    O(1) metadata regardless of index size."""
    import os
    import shutil

    from bugzilla_etl_spark.operators import snapshot as S

    ev = load_table(spark, sf_dir, "events")
    base = tracked_mkdtemp("bes_repl_")
    # ---- source: es_docs projection (one doc per entity-second)
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("user_id", sec).orderBy(F.col("event_id").desc())
    source_docs = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            N.doc_id("user_id", "ts").alias("_id"),
            "user_id",
            "event_type",
            sec.alias("modified_ts"),
        )
    )
    # ---- run 1: bootstrap the destination with the prior horizon
    cut = ev.agg(
        F.expr(
            "(min(cast(ts as long)) + max(cast(ts as long))) div 2"
        ).alias("_cut")
    )
    initial = (
        source_docs.crossJoin(F.broadcast(cut))
        .where(F.col("modified_ts") <= F.col("_cut"))
        .drop("_cut")
        .withColumn("via", F.lit("initial"))
    )
    initial.write.mode("overwrite").parquet(os.path.join(base, "idx_run1"))
    _set_alias(base, "idx_run1")
    # ---- the replicate cycle proper -------------------------------
    # 1. pending: rows newer than the destination's high-water mark
    dest = spark.read.parquet(os.path.join(base, _get_alias(base)))
    pending = S.replicate_pending(source_docs, dest, ts="modified_ts")
    # 2. extract via file dump: NDJSON out, schema-typed parse back
    dump_dir = os.path.join(base, "dump")
    (
        pending.select(
            F.to_json(
                F.struct("_id", "user_id", "event_type", "modified_ts")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(dump_dir)
    )
    schema = "_id STRING, user_id BIGINT, event_type STRING, modified_ts BIGINT"
    parsed = (
        spark.read.text(dump_dir)
        .select(F.from_json("value", schema).alias("r"))
        .select("r._id", "r.user_id", "r.event_type", "r.modified_ts")
        .withColumn("via", F.lit("replicated"))
    )
    # 3. land in a NEW index, swap the alias only after the write,
    #    retire the old index (get_or_create_index + delete_all_but)
    dest.unionByName(parsed).write.mode("overwrite").parquet(
        os.path.join(base, "idx_run2")
    )
    _set_alias(base, "idx_run2")
    shutil.rmtree(os.path.join(base, "idx_run1"))
    return spark.read.parquet(os.path.join(base, _get_alias(base)))


@register(
    "screen_mask",
    oracle="""
    SELECT e.event_id, e.user_id,
           CASE WHEN s.user_id IS NOT NULL THEN '[screened]'
                ELSE e.props END AS props
    FROM events e
    LEFT JOIN (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error' AND value > 180
    ) s ON e.user_id = s.user_id
    """,
)
def screen_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column masking for screened entities — unlike private_screen
    (row removal), screened bugs keep their rows but sensitive fields
    are masked.  reference: extract_bugzilla.py:104
    get_screened_whiteboard + the screened_whiteboard CASE in
    get_bugs/get_new_activities."""
    ev = load_table(spark, sf_dir, "events")
    screened = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 180))
        .select("user_id")
        .distinct()
        .withColumn("_scr", F.lit(1))
    )
    return (
        ev.join(F.broadcast(screened), on="user_id", how="left")
        .select(
            "event_id",
            "user_id",
            F.when(F.col("_scr").isNotNull(), F.lit("[screened]"))
            .otherwise(F.col("props"))
            .alias("props"),
        )
    )


@register(
    "dependency_edges",
    oracle="""
    SELECT o_custkey AS entity, o_orderkey AS peer, 'blocks' AS direction
    FROM orders
    UNION ALL
    SELECT o_orderkey AS entity, o_custkey AS peer, 'depends_on' AS direction
    FROM orders
    """,
)
def dependency_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized relationship edges: each stored (a, b) row emits
    both perspectives — exactly how the reference turns the
    `dependencies` table into per-bug `blocked`/`dependson` fields
    (extract_bugzilla.py:343 get_dependencies: two SELECTs UNION'd)
    and `duplicates` into dupe_by/dupe_of (:375)."""
    od = load_table(spark, sf_dir, "orders")
    fwd = od.select(
        F.col("o_custkey").alias("entity"),
        F.col("o_orderkey").alias("peer"),
        F.lit("blocks").alias("direction"),
    )
    rev = od.select(
        F.col("o_orderkey").alias("entity"),
        F.col("o_custkey").alias("peer"),
        F.lit("depends_on").alias("direction"),
    )
    return fwd.unionAll(rev)


@register(
    "nested_docs",
    oracle="""
    SELECT user_id,
           array_to_string(list(evt ORDER BY evt), ';') AS events_nested,
           count(*) AS n_events
    FROM (
        SELECT user_id,
               -- null event_type renders as an explicit empty slot:
               -- the child row exists and must survive nesting (bare
               -- || would null the whole element and silently drop
               -- the event from the array while count(*) kept it)
               CAST(event_id AS VARCHAR) || '|' ||
               coalesce(event_type, '') || '|' ||
               CAST(floor(epoch(ts))::BIGINT AS VARCHAR) AS evt
        FROM events
    ) GROUP BY user_id
    """,
)
def nested_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-record nesting: child rows folded into a sorted array on
    the parent doc — how attachments/flags/changes arrays are built
    inside each bug-version document (extract_bugzilla.py:591
    flatten_attachments inverted; transform_bugzilla.py:62 sorted
    attachments).  Map-side partial collect keeps the shuffle at one
    partial array per (entity x partition)."""
    ev = load_table(spark, sf_dir, "events")
    # coalesce BEFORE concat_ws: concat_ws would silently skip a null
    # event_type, collapsing the element to an ambiguous 2-field form
    evt = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.col("ts").cast("long").cast("string"),
    )
    return (
        ev.select("user_id", evt.alias("evt"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(";", F.sort_array(F.collect_list("evt"))).alias(
                "events_nested"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "diff_apply",
    oracle="""
    SELECT doc_id AS user_id, 1704067200 AS ts,
           length(text) AS value_len
    FROM documents
    UNION ALL
    SELECT doc_id AS user_id, 1704153600 AS ts,
           length(text) + 7 AS value_len
    FROM documents
    """,
)
def diff_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFF_FIELDS reconstruction as a runnable query: build a
    deterministic 2-version diff chain per document (v1 = the text,
    v2 = a unified diff editing line 1) and rebuild the value
    timeline with applyInPandas.  General text patching is not
    SQL-expressible, but the deterministic chain's OBSERVABLE
    timeline is (v1 = len(text), v2 = len('EDITED ' + text)), so the
    oracle value-checks the distributed patch application end-to-end
    — byte-exactness of arbitrary diffs is covered by the difflib
    round-trip property test.
    reference: transform_bugzilla.py:25 DIFF_FIELDS,
    parse_bug_history.py:1104 ApplyDiff."""
    from pyspark.sql import functions as F  # noqa: F811

    from bugzilla_etl_spark.operators.diffs import apply_diff_chain

    docs = load_table(spark, sf_dir, "documents")
    base_rows = docs.select(
        F.col("doc_id").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200)).alias("ts"),
        F.col("text").alias("base"),
        F.lit(None).cast("string").alias("diff"),
    )
    diff_rows = docs.select(
        F.col("doc_id").alias("user_id"),
        F.timestamp_seconds(F.lit(1704153600)).alias("ts"),
        F.lit(None).cast("string").alias("base"),
        F.concat(
            F.lit("@@ -1,1 +1,1 @@\n-"),
            F.col("text"),
            F.lit("\n+EDITED "),
            F.col("text"),
        ).alias("diff"),
    )
    chain = base_rows.unionByName(diff_rows)
    out = apply_diff_chain(chain)
    return out.select(
        "user_id",
        F.col("ts").cast("long").alias("ts"),
        F.length("value_text").alias("value_len"),
    )


@register(
    "comments_etl",
    oracle="""
    SELECT doc_id AS comment_id, source, n_chars,
           length(text) AS text_len
    FROM documents
    WHERE source <> 'src0'
    """,
)
def comments_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comments pipeline: screen private, project, stable id.
    reference: bz_etl.py:61 etl_comments, extract_bugzilla.py:744
    get_comments (isprivate filter)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("comment_id"),
        "source",
        "n_chars",
        F.length("text").alias("text_len"),
    )


# canonical() dispatch synthesis: field cycles email/time/numeric/
# other; values include null tokens ('--', '---') so the scrub branch
# fires; numeric values go through an exact integer-cents string so
# both engines print the identical text.
def _canon_cases(cast_t: str, datefmt: str) -> tuple[str, str]:
    fld = (
        "CASE event_id % 4 WHEN 0 THEN 'assigned_to' "
        "WHEN 1 THEN 'cf_due_date' WHEN 2 THEN 'votes' "
        "ELSE 'status' END"
    )
    val = (
        "CASE event_id % 4 "
        "WHEN 0 THEN CASE WHEN event_id % 12 = 0 THEN '--' "
        "ELSE 'u' || CAST(user_id AS {c}) || '@example.com' END "
        f"WHEN 1 THEN {datefmt} "
        "WHEN 2 THEN CAST(CAST(round(value * 100) AS BIGINT) AS {c}) "
        "ELSE CASE WHEN event_id % 5 = 0 THEN '---' ELSE event_type END "
        "END"
    ).replace("{c}", cast_t)
    return fld, val


_CANON_FLD_S, _CANON_VAL_S = _canon_cases(
    "STRING", "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"
)
_CANON_FLD_D, _CANON_VAL_D = _canon_cases(
    "VARCHAR", "strftime(ts, '%Y-%m-%d %H:%M:%S')"
)


@register(
    "canonical_fields",
    oracle=f"""
    WITH act AS (
        SELECT event_id, user_id,
               {_CANON_FLD_D} AS field,
               {_CANON_VAL_D} AS value_raw
        FROM events
    ),
    amap AS (
        SELECT DISTINCT
               'u' || CAST(user_id AS VARCHAR) || '@example.com' AS alias,
               'u' || CAST(user_id - 1 AS VARCHAR) || '@example.com'
                   AS canonical
        FROM events WHERE user_id % 2 = 1
    ),
    scr AS (
        SELECT event_id, user_id, field, value_raw,
               CASE WHEN value_raw IN ('--', '---', '') THEN NULL
                    ELSE value_raw END AS s
        FROM act
    )
    SELECT event_id, user_id, field, value_raw,
           CASE WHEN field = 'cf_due_date'
                THEN epoch_ms(strptime(s, '%Y-%m-%d %H:%M:%S')) END
               AS value_ms,
           CASE WHEN field = 'votes' THEN TRY_CAST(s AS BIGINT) END
               AS value_num,
           CASE WHEN s IS NULL THEN NULL
                WHEN field = 'assigned_to'
                THEN coalesce(m.canonical, s)
                WHEN field = 'cf_due_date'
                THEN CAST(epoch_ms(strptime(s, '%Y-%m-%d %H:%M:%S'))
                          AS VARCHAR)
                WHEN field = 'votes'
                THEN CAST(TRY_CAST(s AS BIGINT) AS VARCHAR)
                ELSE s END AS value_canon
    FROM scr LEFT JOIN amap m
      ON field = 'assigned_to' AND s = m.alias
    """,
)
def canonical_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical(field, value) dispatch: null-token
    scrub, email-field alias resolution, time-field -> epoch millis,
    numeric-field coercion, passthrough otherwise.
    reference: parse_bug_history.py:1026-1045 canonical,
    transform_bugzilla.py:28 TIME_FIELDS, :42 NULL_VALUES."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "event_id",
        "user_id",
        F.expr(_CANON_FLD_S).alias("field"),
        F.expr(_CANON_VAL_S).alias("value_raw"),
    )
    mapping = A.derived_alias_mapping(ev)
    return N.canonicalize_fields(act, mapping).select(
        "event_id", "user_id", "field", "value_raw",
        "value_ms", "value_num", "value_canon",
    )


@register(
    "cc_fuzzy_match",
    oracle="""
    WITH t AS (
      SELECT DISTINCT user_id,
             'user' || lpad(CAST(event_id % 97 AS VARCHAR), 4, '0')
                    || '@ex.org' AS member
      FROM events WHERE event_id % 3 = 0
    ),
    r AS (
      SELECT DISTINCT user_id,
             CASE WHEN event_id % 2 = 0
                  THEN 'user' || lpad(CAST(event_id % 97 AS VARCHAR), 4, '0')
                       || '@ex.org'
                  ELSE 'user' || lpad(CAST(event_id % 97 AS VARCHAR), 4, '0')
                       || 'xx@ex.org' END AS removal
      FROM events WHERE event_id % 3 = 0
      UNION
      SELECT DISTINCT user_id,
             'zz' || lpad(CAST(event_id % 89 AS VARCHAR), 3, '0')
                  || '@other.net' AS removal
      FROM events WHERE event_id % 3 = 1 AND event_id % 11 = 0
    ),
    exact AS (
      SELECT r.user_id, r.removal
      FROM r JOIN t ON r.user_id = t.user_id AND r.removal = t.member
    ),
    lost AS (SELECT * FROM r EXCEPT SELECT * FROM exact),
    remaining AS (
      SELECT * FROM t
      EXCEPT SELECT user_id, removal AS member FROM exact
    ),
    cand AS (
      SELECT l.user_id, l.removal, m.member,
             least(
               levenshtein(l.removal, m.member) * 1.0
                 / greatest(len(l.removal), len(m.member)),
               levenshtein(split_part(l.removal, '@', 1),
                           split_part(m.member, '@', 1)) * 1.0
                 / greatest(len(split_part(l.removal, '@', 1)),
                            len(split_part(m.member, '@', 1)))
             ) AS score
      FROM lost l JOIN remaining m ON l.user_id = m.user_id
    ),
    fuzzy AS (
      SELECT user_id, removal, member AS matched,
             round(score, 4) AS score
      FROM (SELECT *, row_number() OVER (
                PARTITION BY user_id, removal
                ORDER BY score ASC, member ASC) AS rn
            FROM cand WHERE score < 0.3)
      WHERE rn = 1
    )
    SELECT user_id, removal, removal AS matched, 0.0 AS score,
           'exact' AS kind FROM exact
    UNION ALL
    SELECT user_id, removal, matched, score, 'fuzzy' FROM fuzzy
    UNION ALL
    SELECT l.user_id, l.removal, NULL AS matched, NULL AS score,
           'unmatched' AS kind
    FROM lost l LEFT JOIN fuzzy f
      ON l.user_id = f.user_id AND l.removal = f.removal
    WHERE f.removal IS NULL
    """,
)
def cc_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertain-CC removal rescue (parse_bug_history.py:848/:877:
    after a bug-55161 truncation marks the bug uncertain, CC
    removals missing from the current set are edit-distance matched
    against the remaining members — normalized Levenshtein, min over
    full-string and local-part variants, rescued iff best < 0.3).

    CC sets are synthesized deterministically from events (the test
    log has no email columns): pool members from event_id≡0 (mod 3),
    removals re-derived from the same rows — even ids removed
    verbatim (exact path), odd ids with the bug-55161-style 'xx'
    mangle before the '@' (fuzzy path: 2 edits from the source —
    inside the threshold, strictly closer than any other member),
    plus far-off removals from a disjoint id range (beyond the
    threshold — the unmatched path the reference logs and drops).
    All three kinds land in every run at every SF.

    Plan shape (cc_fuzzy_rescue, operators/alias.py): exact hits +
    losses via semi/except on the entity key, candidate scoring as
    a per-entity join — expansion bounded by per-entity CC-list
    size, the reference's own per-bug loop bound — with levenshtein
    a codegen'd JVM builtin (no UDF anywhere), argmin per removal
    under one window; one shuffle on the entity key end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    email = F.concat(
        F.lit("user"),
        F.lpad((F.col("event_id") % 97).cast("string"), 4, "0"),
        F.lit("@ex.org"),
    )
    mangled = F.concat(
        F.lit("user"),
        F.lpad((F.col("event_id") % 97).cast("string"), 4, "0"),
        F.lit("xx@ex.org"),
    )
    pool = ev.where(F.col("event_id") % 3 == 0)
    totals = pool.select("user_id", email.alias("email"))
    removes = pool.select(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, email)
        .otherwise(mangled)
        .alias("email"),
    ).unionByName(
        ev.where(
            (F.col("event_id") % 3 == 1) & (F.col("event_id") % 11 == 0)
        ).select(
            "user_id",
            F.concat(
                F.lit("zz"),
                F.lpad((F.col("event_id") % 89).cast("string"), 3, "0"),
                F.lit("@other.net"),
            ).alias("email"),
        )
    )
    return A.cc_fuzzy_rescue(
        totals, removes, entity="user_id", value="email"
    )


# shared synthesis fragments for flag_fuzzy_match: a deterministic
# per-user flag list and a removal list exercising every findFlag
# tier.  status cycles with event_id; every 8th row is an
# unparseable "raw" flag (the 255-char-chop class).
_FF_STATUS = "CASE event_id % 3 WHEN 0 THEN '?' WHEN 1 THEN '+' ELSE '-' END"
_FF_CUR_DUCK = f"""
    CASE WHEN event_id % 8 = 4
         THEN event_type || 'raw' || CAST(event_id % 13 AS VARCHAR)
         ELSE event_type || {_FF_STATUS}
              || '(u' || CAST(user_id AS VARCHAR) || '@example.com)'
    END"""
_FF_CUR_SPARK = (
    "CASE WHEN event_id % 8 = 4 "
    "THEN event_type || 'raw' || CAST(event_id % 13 AS STRING) "
    "ELSE event_type || (CASE event_id % 3 WHEN 0 THEN '?' WHEN 1 THEN '+' "
    "ELSE '-' END) || '(u' || CAST(user_id AS STRING) || '@example.com)' END"
)


@register(
    "flag_fuzzy_match",
    oracle=f"""
    WITH pool AS (
      SELECT event_id, user_id, event_type, {_FF_CUR_DUCK} AS v
      FROM events WHERE event_id % 2 = 0
    ),
    cur AS (SELECT DISTINCT user_id, v FROM pool),
    rem AS (
      SELECT DISTINCT user_id,
             CASE event_id % 8
               WHEN 0 THEN upper(event_type) || {_FF_STATUS}
                    || '(u' || CAST(user_id AS VARCHAR) || '@example.com)'
               WHEN 2 THEN substr(v, 1, len(v) - 4)
               WHEN 4 THEN v
               ELSE 'zz_' || v
             END AS removal
      FROM pool
    ),
    kc AS (
      SELECT user_id, v,
             CASE WHEN nullif(regexp_extract(v,
                    '^(.*)([?+-])(\\([^)]*\\))?$', 2), '') IS NOT NULL
               THEN lower(regexp_extract(v, '^(.*)([?+-])(\\([^)]*\\))?$', 1))
                 || '/' || regexp_extract(v, '^(.*)([?+-])(\\([^)]*\\))?$', 2)
                 || '/' ||
                 CASE WHEN regexp_extract(v, '^(.*)([?+-])(\\([^)]*\\))?$', 2) = '?'
                   THEN coalesce(nullif(replace(replace(regexp_extract(v,
                        '^(.*)([?+-])(\\([^)]*\\))?$', 3), '(', ''), ')', ''), ''), '')
                   ELSE '*setter*' END
             END AS k
      FROM cur
    ),
    kr AS (
      SELECT user_id, removal,
             CASE WHEN nullif(regexp_extract(removal,
                    '^(.*)([?+-])(\\([^)]*\\))?$', 2), '') IS NOT NULL
               THEN lower(regexp_extract(removal, '^(.*)([?+-])(\\([^)]*\\))?$', 1))
                 || '/' || regexp_extract(removal, '^(.*)([?+-])(\\([^)]*\\))?$', 2)
                 || '/' ||
                 CASE WHEN regexp_extract(removal, '^(.*)([?+-])(\\([^)]*\\))?$', 2) = '?'
                   THEN coalesce(nullif(replace(replace(regexp_extract(removal,
                        '^(.*)([?+-])(\\([^)]*\\))?$', 3), '(', ''), ')', ''), ''), '')
                   ELSE '*setter*' END
             END AS k
      FROM rem
    ),
    cand AS (
      SELECT r.user_id, r.removal, c.v,
             CASE WHEN r.k IS NOT NULL AND c.k IS NOT NULL AND r.k = c.k THEN 1
                  WHEN r.removal = c.v THEN 2
                  ELSE 3 END AS tier
      FROM kr r JOIN kc c ON r.user_id = c.user_id
      WHERE (r.k IS NOT NULL AND c.k IS NOT NULL AND r.k = c.k)
         OR r.removal = c.v
         OR starts_with(c.v, r.removal) OR starts_with(r.removal, c.v)
    ),
    best AS (
      SELECT user_id, removal, v AS matched, tier FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, removal
                      ORDER BY tier ASC, v ASC) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT r.user_id, r.removal, b.matched, b.tier
    FROM rem r LEFT JOIN best b
      ON r.user_id = b.user_id AND r.removal = b.removal
    """,
)
def flag_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findFlag's full three-tier cascade (parse_bug_history.py:626-
    :650): removals matched against the current flag list by parsed
    key (deformat(type) + status + requestee-or-setter), then exact
    string equality, then the 255-char-truncation common-prefix
    rule.  The synthesized lists exercise every tier: case-mangled
    names (tier 1 — deformat absorbs the case), unparseable 'raw'
    flags removed verbatim (tier 2 — no key, value-equal), values
    chopped mid-requestee (tier 3 — prefix), and zz_-prefixed
    garbage (unmatched).  See operators/flags.py flag_tiered_match
    for the one-join/one-window plan and the argmin determinism
    deviation."""
    from bugzilla_etl_spark.operators.flags import flag_tiered_match

    ev = load_table(spark, sf_dir, "events")
    pool = ev.where(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type",
        F.expr(_FF_CUR_SPARK).alias("v"),
    )
    cur = pool.select("user_id", F.col("v").alias("value"))
    # pool is even-id only, so event_id % 8 ∈ {0,2,4,6}: every
    # pool row yields exactly one removal
    rem = pool.select(
        "user_id",
        F.expr(
            "CASE event_id % 8 "
            "WHEN 0 THEN upper(event_type) || (CASE event_id % 3 WHEN 0 THEN '?' "
            "WHEN 1 THEN '+' ELSE '-' END) || '(u' || CAST(user_id AS STRING) "
            "|| '@example.com)' "
            "WHEN 2 THEN substr(v, 1, length(v) - 4) "
            "WHEN 4 THEN v "
            "ELSE 'zz_' || v END"
        ).alias("value"),
    )
    return flag_tiered_match(cur, rem, entity="user_id", value="value")


@register(
    "date_normalize",
    oracle="""
    WITH b AS (
        SELECT event_id, date_trunc('second', ts) AS base
        FROM events
    ),
    raws AS (
        SELECT event_id,
               CASE event_id % 4
                   WHEN 0 THEN CAST(epoch_ms(base) AS VARCHAR)
                   WHEN 1 THEN strftime(base, '%Y/%m/%d %H:%M:%S')
                               || '.000'
                   WHEN 2 THEN strftime(base, '%Y/%m/%d %H:%M:%S')
                   ELSE strftime(base, '%Y-%m-%d %H:%M')
               END AS raw
        FROM b
    )
    SELECT event_id, raw,
           CASE
               WHEN regexp_matches(raw, '^[0-9]{12,13}$')
                   THEN CAST(raw AS BIGINT)
               WHEN regexp_matches(raw,
                   '^[0-9]{4}/[0-9]{2}/[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}\\.[0-9]{3}$')
                   THEN epoch_ms(strptime(raw,
                        '%Y/%m/%d %H:%M:%S.%g'))
               WHEN regexp_matches(raw,
                   '^[0-9]{4}/[0-9]{2}/[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$')
                   THEN epoch_ms(strptime(raw, '%Y/%m/%d %H:%M:%S'))
               WHEN regexp_matches(raw, '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
                   THEN epoch_ms(strptime(substr(raw, 1, 10),
                                          '%Y-%m-%d'))
           END AS epoch_ms
    FROM raws
    """,
)
def date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's multi-format date coercion
    (transform_bugzilla.py:105-131: deadline / cf_due_date /
    cf_last_resolved arrive as epoch-millis numbers, strict
    'YYYY/MM/DD HH:MM:SS.mmm', strict-short without millis, or
    relaxed 'YYYY-MM-DD...' — bugs 856732/643420/726635) — every
    branch normalized to epoch-ms exactly as the reference's
    DATE_PATTERN_STRICT / _STRICT_SHORT / _RELAXED dispatch does,
    with the relaxed branch keeping only the date part.

    The four raw renderings derive deterministically from events.ts
    (the synth-dirty-input pattern this module uses throughout); the
    operator under test is the branch dispatch + parsing.  Pure
    map-side column expressions — regexp probes and to_timestamp are
    codegen'd JVM builtins, zero shuffles, and the whole pass pushes
    down to the scan at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    base = F.date_trunc("second", F.col("ts"))
    raw = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.unix_millis(base).cast("string"),
        )
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(
                F.date_format(base, "yyyy/MM/dd HH:mm:ss"),
                F.lit(".000"),
            ),
        )
        .when(
            F.col("event_id") % 4 == 2,
            F.date_format(base, "yyyy/MM/dd HH:mm:ss"),
        )
        .otherwise(F.date_format(base, "yyyy-MM-dd HH:mm"))
    )
    r = F.col("raw")
    epoch = (
        F.when(
            r.rlike(r"^[0-9]{12,13}$"), r.cast("long")
        )
        .when(
            r.rlike(
                r"^[0-9]{4}/[0-9]{2}/[0-9]{2}"
                r" [0-9]{2}:[0-9]{2}:[0-9]{2}\.[0-9]{3}$"
            ),
            F.unix_millis(
                F.to_timestamp(r, "yyyy/MM/dd HH:mm:ss.SSS")
            ),
        )
        .when(
            r.rlike(
                r"^[0-9]{4}/[0-9]{2}/[0-9]{2}"
                r" [0-9]{2}:[0-9]{2}:[0-9]{2}$"
            ),
            F.unix_millis(F.to_timestamp(r, "yyyy/MM/dd HH:mm:ss")),
        )
        .when(
            r.rlike(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}"),
            F.unix_millis(
                F.to_timestamp(F.substring(r, 1, 10), "yyyy-MM-dd")
            ),
        )
    )
    return ev.select("event_id", raw.alias("raw")).select(
        "event_id", "raw", epoch.alias("epoch_ms")
    )
