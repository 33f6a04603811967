"""History-replay queries — flag-set replay and attachment sub-entity
versioning, the two deepest pieces of the reference's history parser
(SURVEY §2 follow-ups to #1/#4/#12).

The test ``events`` table has no flag strings or attachment rows, so
— exactly like queries_etl's flag_parse — the flag/attachment change
log is derived DETERMINISTICALLY from (event_id, user_id, event_type,
value) with identical arithmetic on both engines.  Timestamps flow as
epoch MICROSECOND longs end-to-end (µs is what both engines store, so
``unix_micros`` == ``epoch_us`` bit-for-bit and no same-second
version collisions arise).

reference: parse_bug_history.py:292/:653/:626/:970/:1088 (flags),
           :255 + extract_bugzilla.py:591 (attachments).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bugzilla_etl_spark.functions.hashing import duckdb_hash64
from bugzilla_etl_spark.operators import alias as AL
from bugzilla_etl_spark.operators import flags as FL
from bugzilla_etl_spark.operators import subentity as SUB
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.plans.queries_engine import (
    _HLL_2P50,
    _HLL_2P51,
    _HLL_H,
    _HLL_NUM,
)
from bugzilla_etl_spark.operators.snapshot import dedup_latest
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.streaming.landing import (
    arrival_mode,
    drain,
    events_stream,
    land_parts,
    landed_stream,
    read_store_or_empty,
    stage_stream_source,
    to_batch_dirs,
    to_memory,
)
from bugzilla_etl_spark.tmpdirs import apply_conf, pin, tracked_mkdtemp

# ---- deterministic flag-change synthesis (same CASEs both engines) --
# name: every 5th event uses the UPPER-cased type, exercising
# deformat()-keyed matching (parse_bug_history.py:1088).
_NAME = "CASE WHEN event_id % 5 = 0 THEN upper(event_type) ELSE event_type END"
_STATUS = (
    "CASE WHEN event_id % 2 = 0 THEN '?' "
    "WHEN event_id % 4 = 1 THEN '+' ELSE '-' END"
)
_ACTION = "CASE WHEN event_id % 3 = 0 THEN 'remove' ELSE 'add' END"
_REQ_SPARK = (
    "CASE WHEN event_id % 2 = 0 "
    "THEN concat('u', CAST(event_id % 4 AS STRING), '@x') END"
)
_REQ_DUCK = (
    "CASE WHEN event_id % 2 = 0 "
    "THEN 'u' || CAST(event_id % 4 AS VARCHAR) || '@x' END"
)


@register(
    "flag_state_versions",
    oracle=f"""
    WITH ch AS (
      SELECT user_id, event_id, epoch_us(ts) AS tsl,
             {_NAME} AS name, {_STATUS} AS status,
             {_REQ_DUCK} AS requestee, {_ACTION} AS action
      FROM events
      -- a flag change without a name has no match_key: findFlag
      -- could never pair it, so it cannot enter the replay
      WHERE event_type IS NOT NULL
    ),
    keyed AS (
      SELECT *,
             lower(replace(name, chr(8209), '-')) AS flag_name,
             lower(replace(name, chr(8209), '-')) || '/' ||
               CASE WHEN status = '?' THEN coalesce(requestee, '')
                    ELSE '*setter*' END AS match_key
      FROM ch
    ),
    iv AS (
      SELECT user_id, match_key, flag_name, requestee,
             CASE WHEN action = 'remove' THEN 'd' ELSE status END
                 AS cur_status,
             CASE WHEN action = 'remove' THEN status END AS previous_status,
             last_value(CASE WHEN action = 'add' THEN tsl END IGNORE NULLS)
                 OVER (PARTITION BY user_id, match_key ORDER BY tsl, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_add_ts,
             tsl AS valid_from,
             lead(tsl) OVER (PARTITION BY user_id, match_key
                             ORDER BY tsl, event_id) AS valid_to
      FROM keyed
    ),
    ver AS (SELECT DISTINCT user_id, epoch_us(ts) AS version_ts FROM events)
    SELECT v.user_id, v.version_ts,
           count(CASE WHEN i.cur_status IS NOT NULL AND i.cur_status <> 'd'
                      THEN 1 END) AS n_active,
           count(CASE WHEN i.cur_status = 'd' THEN 1 END) AS n_deleted,
           coalesce(array_to_string(list_sort(list(
               i.flag_name || i.cur_status ||
               CASE WHEN i.cur_status = '?' AND i.requestee IS NOT NULL
                    THEN '(' || i.requestee || ')' ELSE '' END
           ) FILTER (WHERE i.cur_status IS NOT NULL AND i.cur_status <> 'd')),
               '|'), '') AS flags_active,
           coalesce(array_to_string(list_sort(list(
               i.flag_name || ':d:prev=' || coalesce(i.previous_status, '') ||
               ':age=' || coalesce(CAST(i.valid_from - i.prev_add_ts
                                        AS VARCHAR), '-1')
           ) FILTER (WHERE i.cur_status = 'd')), '|'), '') AS flags_deleted
    FROM ver v LEFT JOIN iv i
      ON i.user_id = v.user_id
     AND i.valid_from <= v.version_ts
     AND (i.valid_to IS NULL OR v.version_ts < i.valid_to)
    GROUP BY v.user_id, v.version_ts
    """,
)
def flag_state_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-version flag sets via add/remove replay with deformat-keyed
    matching and deleted-flag carry.
    reference: parse_bug_history.py:653 processFlagChange,
    :626 findFlag, :1088 deformat."""
    ev = load_table(spark, sf_dir, "events")
    ch = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tsl"),
        F.expr(_NAME).alias("name"),
        F.expr(_STATUS).alias("status"),
        F.expr(_REQ_SPARK).alias("requestee"),
        F.expr(_ACTION).alias("action"),
    ).where(F.col("name").isNotNull())  # nameless change: no match_key
    iv = FL.flag_state_intervals(ch, entity="user_id", ts="tsl")
    ver = ev.select(
        "user_id", F.unix_micros("ts").alias("version_ts")
    ).distinct()
    return FL.flag_states_per_version(iv, ver).select(
        "user_id",
        "version_ts",
        "n_active",
        "n_deleted",
        "flags_active",
        "flags_deleted",
    )


@register(
    "attachment_versions",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_id, epoch_us(ts) AS tsl,
             1 + (event_id % 5) AS attach_id,
             event_type AS field,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 2 = 0
    ),
    iv AS (
      SELECT user_id, attach_id, field, cents,
             min(tsl) OVER (PARTITION BY user_id, attach_id
                            ORDER BY tsl, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS created_ts,
             tsl AS valid_from,
             lead(tsl) OVER (PARTITION BY user_id, attach_id, field
                             ORDER BY tsl, event_id) AS valid_to
      FROM ch
    ),
    ver AS (SELECT DISTINCT user_id, epoch_us(ts) AS version_ts FROM events),
    per_sub AS (
      SELECT v.user_id, v.version_ts, i.attach_id AS sub_id,
             min(i.created_ts) AS created,
             array_to_string(list_sort(list(
                 i.field || '=' || CAST(i.cents AS VARCHAR))), ',') AS fields
      FROM ver v LEFT JOIN iv i
        ON i.user_id = v.user_id
       AND i.valid_from <= v.version_ts
       AND (i.valid_to IS NULL OR v.version_ts < i.valid_to)
      GROUP BY v.user_id, v.version_ts, i.attach_id
    )
    SELECT user_id, version_ts,
           count(sub_id) AS n_subs,
           coalesce(array_to_string(list_sort(list(
               'a' || CAST(sub_id AS VARCHAR) || ':c' ||
               CAST(created AS VARCHAR) || ':' || coalesce(fields, '')
           ) FILTER (WHERE sub_id IS NOT NULL)), '|'), '') AS subs
    FROM per_sub
    GROUP BY user_id, version_ts
    """,
)
def attachment_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attachment sub-entity rollforward re-nested per bug version.
    Even event_ids are attachment-field mutations (attach_id =
    1 + event_id%5, field = event_type, value in integer cents);
    every event still creates a parent version, so early versions
    carry an empty attachment list.
    reference: parse_bug_history.py:255 processAttachmentsTableItem,
    extract_bugzilla.py:591 flatten_attachments."""
    ev = load_table(spark, sf_dir, "events")
    ch = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tsl"),
        (F.lit(1) + F.col("event_id") % 5).alias("attach_id"),
        F.col("event_type").alias("field"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cp = SUB.subentity_changepoints(
        ch, entity="user_id", sub="attach_id", field="field",
        value="cents", ts="tsl",
    )
    ver = ev.select(
        "user_id", F.unix_micros("ts").alias("version_ts")
    ).distinct()
    out = SUB.nest_changepoints_per_version(
        cp, ver, entity="user_id", sub="attach_id",
    )
    return out.select("user_id", "version_ts", "n_subs", "subs")


@register(
    "diff_rollback",
    oracle="""
    SELECT doc_id AS user_id, 1704153600000000 AS version_ts,
           length(text) + 7 AS value_len
    FROM documents
    -- a null-text doc stores a null diff -> no fragments -> no
    -- recorded change: its timeline is the base row alone
    WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id AS user_id, NULL AS version_ts,
           length(text) AS value_len
    FROM documents
    """,
)
def diff_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse-diff rollback with 255-char truncation reassembly:
    the stored old->new diff for each doc is split into 100-char
    activity fragments, reassembled in part order
    (assemble_fragments), then UN-applied from the CURRENT text to
    recover the pre-edit value — the reference's actual rollback
    direction.  The oracle checks the observable timeline (per-doc
    value length at the edit version and at base); byte-exactness of
    the patching is covered by the difflib round-trip tests.
    reference: parse_bug_history.py:1104 ApplyDiff(reverse=True),
    :1193 LongField (multi-record append), bugs_activity 255-char
    truncation."""
    from bugzilla_etl_spark.operators.diffs import (
        assemble_fragments,
        rollback_diff_chain,
    )

    docs = load_table(spark, sf_dir, "documents")
    diff = F.concat(
        F.lit("@@ -1,1 +1,1 @@\n-"),
        F.col("text"),
        F.lit("\n+EDITED "),
        F.col("text"),
    )
    asm = assemble_fragments(
        docs.select(F.col("doc_id").alias("user_id"), diff.alias("diff"))
        .select(
            "user_id",
            F.lit(1704153600000000).alias("tsl"),
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int((length(diff)-1)/100)), "
                    "i -> substring(diff, i*100+1, 100))"
                )
            ).alias("part", "frag"),
        )
        .where(F.col("frag") != ""),
        ts="tsl",
    )
    current = docs.select(
        F.col("doc_id").alias("user_id"),
        F.concat(F.lit("EDITED "), F.col("text")).alias("text"),
    )
    changes = asm.select(
        "user_id", F.timestamp_micros("tsl").alias("ts"), "diff"
    )
    out = rollback_diff_chain(current, changes)
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("version_ts"),
        F.length("value_text").alias("value_len"),
    )


# cc-change synthesis for alias minimization: each user owns bugs
# user_id*7+k; odd users ADD under their old address ('@old') but the
# removal records carry the current one ('@x') — exactly the
# add-without-remove imbalance the reference mines.
_CC_EMAIL_SPARK = (
    "CASE WHEN event_id % 2 = 0 THEN "
    " CASE WHEN user_id % 2 = 1 "
    "  THEN concat('u', CAST(user_id AS STRING), '@old') "
    "  ELSE concat('u', CAST(user_id AS STRING), '@x') END "
    "ELSE concat('u', CAST(user_id AS STRING), '@x') END"
)
_CC_EMAIL_DUCK = (
    "CASE WHEN event_id % 2 = 0 THEN "
    " CASE WHEN user_id % 2 = 1 "
    "  THEN 'u' || CAST(user_id AS VARCHAR) || '@old' "
    "  ELSE 'u' || CAST(user_id AS VARCHAR) || '@x' END "
    "ELSE 'u' || CAST(user_id AS VARCHAR) || '@x' END"
)


@register(
    "alias_minimize",
    conf={PARALLELISM_FIRST: "false"},
    oracle=f"""
    WITH ch AS (
      SELECT user_id * 7 + (event_id % 7) AS bug_id,
             {_CC_EMAIL_DUCK} AS email,
             CASE WHEN event_id % 2 = 0 THEN -1 ELSE 1 END AS delta
      FROM events
    ),
    counts AS (SELECT bug_id, email, sum(delta) AS cnt
               FROM ch GROUP BY 1, 2),
    totals AS (SELECT email, sum(cnt) AS total FROM counts GROUP BY 1),
    problems AS (SELECT email FROM totals WHERE total <= -2.0),
    pb AS (SELECT c.email AS problem, c.bug_id
           FROM counts c JOIN problems p ON c.email = p.email
           WHERE c.cnt < 0),
    sol AS (SELECT pb.problem, c.email, sum(c.cnt) AS score
            FROM pb JOIN counts c ON c.bug_id = pb.bug_id
            GROUP BY 1, 2),
    ranked AS (SELECT *, row_number() OVER (
                   PARTITION BY problem ORDER BY score DESC, email
               ) AS rn FROM sol),
    top2 AS (SELECT problem,
                    max(CASE WHEN rn = 1 THEN email END) AS canonical,
                    max(CASE WHEN rn = 1 THEN score END) AS best,
                    max(CASE WHEN rn = 2 THEN score END) AS second,
                    count(*) AS n_cand
             FROM ranked WHERE rn <= 2 GROUP BY 1)
    SELECT problem AS alias, canonical
    FROM top2
    WHERE n_cand >= 2 AND best > second + 4 AND canonical <> problem
    """,
)
def alias_minimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative alias minimization over per-bug cc multisets
    (alias_analysis.py:114).  The Spark side runs the GENERAL
    fixpoint loop (minimize_aliases); on this synthesis it converges
    after one round and the second round proves emptiness, so the
    oracle is the single-round closed form — the iterative machinery
    beyond round one (folding, chain closure) is covered by unit
    tests with multi-round alias chains."""
    from bugzilla_etl_spark.operators.alias import minimize_aliases

    ev = load_table(spark, sf_dir, "events")
    ch = ev.select(
        (F.col("user_id") * 7 + F.col("event_id") % 7).alias("bug_id"),
        F.expr(_CC_EMAIL_SPARK).alias("email"),
        F.when(F.col("event_id") % 2 == 0, F.lit(-1))
        .otherwise(F.lit(1))
        .alias("delta"),
    )
    counts = ch.groupBy("bug_id", "email").agg(F.sum("delta").alias("cnt"))
    return minimize_aliases(counts, min_diff=4).select("alias", "canonical")


@register(
    "stream_snapshot",
    oracle="""
    SELECT user_id,
           epoch_us(ts) AS last_ts,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def stream_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot maintenance as an ACTUAL Structured
    Streaming run, bounded by the availableNow trigger: file source
    -> applyInPandasWithState latest-per-entity -> memory sink, then
    the final state per entity is returned as a static frame.  The
    oracle is the batch equivalence the reference's incremental loop
    guarantees (incremental == full): streaming state must converge
    to exactly the latest event per entity.
    reference: bz_etl.py:172 incremental_etl (poll-since-watermark
    loop), ES overwrite-by-id idempotency.

    The file source stages through ``stage_stream_source``; under the
    arrival-order knob it lands bounded-disorder parts, and since the
    state here is a commutative (ts, id) max-merge ANY arrival order
    must converge (the sweep proves it)."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_current_state,
    )

    out = to_memory(
        stream_current_state(events_stream(spark, sf_dir)),
        "update",
        "stream_snap_",
    )
    return dedup_latest(
        out, ts="last_ts", tiebreak=("last_event_id",)
    ).select(
        "user_id",
        F.unix_micros("last_ts").alias("last_ts"),
        "last_event_id",
        "last_event_type",
        "last_value",
    )


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS tsl, event_type, value
    FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion proven end-to-end: the landing dir
    holds TWO copies of every event file (a replay), the stream
    dedups by event_id within the watermark
    (dropDuplicatesWithinWatermark — bounded state, see
    stream_dedup_events), and the oracle is simply the original
    table: every event exactly once, replays absorbed.
    reference: bz_etl.py ES overwrite-by-_id idempotency; the
    incremental loop re-emits touched bugs and relies on the sink to
    absorb duplicates."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_dedup_events,
    )

    # copies=2: the replay.  Under the arrival knob the duplicate
    # copy of each part arrives one micro-batch later — a delayed
    # replay the within-watermark id state must still absorb.
    src = events_stream(spark, sf_dir, copies=2)
    out = to_memory(stream_dedup_events(src), "append", "stream_dedup_")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("tsl"),
        "event_type",
        "value",
    )


@register(
    "stream_rollup",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked continuous aggregation as a REAL streaming run:
    hourly (bucket x type) rollup under availableNow, update mode to
    a memory sink, then the final state per bucket — the streaming
    form of batch time_rollup, so the oracle is the exact batch
    GROUP BY.  The 2h watermark is what bounds a forever-running
    job's state (hour buckets older than the horizon finalize and
    evict); correctness of late-data handling beyond the horizon is
    the batch-equivalence test's job (test_scale_semantics).
    reference: bz_etl.py:172 incremental loop (the reference
    recomputes aggregates per poll; streaming keeps them hot)."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_time_rollup,
    )

    out = to_memory(
        stream_time_rollup(events_stream(spark, sf_dir)),
        "update",
        "stream_rollup_",
    )
    # update mode re-emits a bucket per micro-batch it changes in;
    # the final state is the emission with the largest count (count
    # is strictly monotone per key across updates)
    return dedup_latest(
        out, ("hour", "event_type"), ts="n_events", tiebreak=()
    ).select(
        F.unix_micros("hour").alias("hour_us"),
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


_FULL_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS tsl, event_type, value
      FROM events
    ),
    versioned AS (
      SELECT user_id, event_id, tsl, event_type, value,
             row_number() OVER w AS version,
             lead(tsl) OVER w AS expires_on,
             last(CASE WHEN event_type = 'purchase' THEN value END
                  IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY tsl, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_purchase_value,
             list_sort(list(DISTINCT event_type) OVER (
                 PARTITION BY user_id ORDER BY tsl, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )) AS seen_types
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsl, event_id)
    ),
    verx AS (
      SELECT * FROM versioned
      WHERE expires_on IS NULL OR expires_on <> tsl
    ),
    fch AS (
      SELECT user_id, event_id, tsl,
             {_NAME} AS name, {_STATUS} AS status,
             {_REQ_DUCK} AS requestee, {_ACTION} AS action
      FROM (SELECT user_id, event_id, epoch_us(ts) AS tsl, event_type
            FROM events)
      -- nameless flag change: no match_key, cannot enter the replay
      WHERE event_type IS NOT NULL
    ),
    fkeyed AS (
      SELECT *,
             lower(replace(name, chr(8209), '-')) AS flag_name,
             lower(replace(name, chr(8209), '-')) || '/' ||
               CASE WHEN status = '?' THEN coalesce(requestee, '')
                    ELSE '*setter*' END AS match_key
      FROM fch
    ),
    fiv AS (
      SELECT user_id, match_key, flag_name, requestee,
             CASE WHEN action = 'remove' THEN 'd' ELSE status END
                 AS cur_status,
             CASE WHEN action = 'remove' THEN status END AS previous_status,
             last_value(CASE WHEN action = 'add' THEN tsl END IGNORE NULLS)
                 OVER (PARTITION BY user_id, match_key ORDER BY tsl, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_add_ts,
             tsl AS valid_from,
             lead(tsl) OVER (PARTITION BY user_id, match_key
                             ORDER BY tsl, event_id) AS valid_to
      FROM fkeyed
    ),
    flg AS (
      SELECT v.user_id, v.version_ts,
             count(CASE WHEN i.cur_status IS NOT NULL AND i.cur_status <> 'd'
                        THEN 1 END) AS n_active,
             count(CASE WHEN i.cur_status = 'd' THEN 1 END) AS n_deleted,
             coalesce(array_to_string(list_sort(list(
                 i.flag_name || i.cur_status ||
                 CASE WHEN i.cur_status = '?' AND i.requestee IS NOT NULL
                      THEN '(' || i.requestee || ')' ELSE '' END
             ) FILTER (WHERE i.cur_status IS NOT NULL
                         AND i.cur_status <> 'd')), '|'), '') AS flags_active,
             coalesce(array_to_string(list_sort(list(
                 i.flag_name || ':d:prev=' || coalesce(i.previous_status, '')
                 || ':age=' || coalesce(CAST(i.valid_from - i.prev_add_ts
                                             AS VARCHAR), '-1')
             ) FILTER (WHERE i.cur_status = 'd')), '|'), '') AS flags_deleted
      FROM (SELECT user_id, tsl AS version_ts FROM verx) v
      LEFT JOIN fiv i
        ON i.user_id = v.user_id
       AND i.valid_from <= v.version_ts
       AND (i.valid_to IS NULL OR v.version_ts < i.valid_to)
      GROUP BY v.user_id, v.version_ts
    ),
    ach AS (
      SELECT user_id, event_id, tsl,
             1 + (event_id % 5) AS attach_id,
             event_type AS field,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM ev WHERE event_id % 2 = 0
    ),
    aiv AS (
      SELECT user_id, attach_id, field, cents,
             min(tsl) OVER (PARTITION BY user_id, attach_id
                            ORDER BY tsl, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS created_ts,
             tsl AS valid_from,
             lead(tsl) OVER (PARTITION BY user_id, attach_id, field
                             ORDER BY tsl, event_id) AS valid_to
      FROM ach
    ),
    per_sub AS (
      SELECT v.user_id, v.version_ts, i.attach_id AS sub_id,
             min(i.created_ts) AS created,
             array_to_string(list_sort(list(
                 i.field || '=' || CAST(i.cents AS VARCHAR))), ',') AS fields
      FROM (SELECT user_id, tsl AS version_ts FROM verx) v
      LEFT JOIN aiv i
        ON i.user_id = v.user_id
       AND i.valid_from <= v.version_ts
       AND (i.valid_to IS NULL OR v.version_ts < i.valid_to)
      GROUP BY v.user_id, v.version_ts, i.attach_id
    ),
    att AS (
      SELECT user_id, version_ts,
             count(sub_id) AS n_subs,
             coalesce(array_to_string(list_sort(list(
                 'a' || CAST(sub_id AS VARCHAR) || ':c' ||
                 CAST(created AS VARCHAR) || ':' || coalesce(fields, '')
             ) FILTER (WHERE sub_id IS NOT NULL)), '|'), '') AS subs
      FROM per_sub
      GROUP BY user_id, version_ts
    ),
    amap AS (
      SELECT DISTINCT
             'u' || CAST(user_id AS VARCHAR) || '@example.com' AS alias,
             'u' || CAST(user_id - 1 AS VARCHAR) || '@example.com'
                 AS canonical
      FROM events WHERE user_id % 2 = 1
    )
    SELECT CAST(v.user_id AS VARCHAR) || '_' ||
               CAST(v.tsl // 1000 AS VARCHAR) AS _id,
           v.user_id, v.tsl AS version_ts, v.version,
           v.expires_on, v.event_type, v.value, v.last_purchase_value,
           coalesce(array_to_string(v.seen_types, '|'), '')
               AS seen_types,
           f.n_active, f.flags_active, f.n_deleted, f.flags_deleted,
           a.n_subs, a.subs,
           coalesce(m.canonical,
                    'u' || CAST(v.user_id AS VARCHAR) || '@example.com')
               AS modified_by
    FROM verx v
    LEFT JOIN flg f ON f.user_id = v.user_id AND f.version_ts = v.tsl
    LEFT JOIN att a ON a.user_id = v.user_id AND a.version_ts = v.tsl
    LEFT JOIN amap m
      ON m.alias = 'u' || CAST(v.user_id AS VARCHAR) || '@example.com'
"""


def build_full_docs(
    ev: DataFrame,
    alias_mapping: DataFrame | None = None,
    pin_spine: bool = False,
) -> DataFrame:
    """Assemble the complete bug_version document set from an events
    frame (see ``bug_version_full``).  Factored out so the streaming
    incremental rebuild (streaming/incremental_versions.py) runs the
    IDENTICAL pipeline over a touched-entity subset — the reference
    re-uses one parse path for full and incremental ETL the same way
    (bz_etl.py:172 incremental_etl calls the same etl()).

    Actor canonicalization is composed INTO the doc build, mirroring
    the reference where every email-typed field passes through
    ``email_alias`` during parsing (parse_bug_history.py:1048
    email_alias, :1026 canonical): the doc carries ``modified_by`` —
    the actor's synthetic address rewritten through the alias mapping
    via one broadcast left join (the Spark shape of get_canonical's
    dict lookup; the mapping is dim-sized by construction, produced by
    alias_analysis and persisted by sinks/alias_store.py).  When
    ``alias_mapping`` is None the repo-wide deterministic dim is
    derived from ``ev`` itself (odd users are aliases of user-1's
    canonical address — same rule as alias_resolve), which is
    per-user-deterministic and therefore identical whether derived
    from the full log or a touched-entity subset, keeping the
    incremental streaming rebuild byte-identical to the batch."""
    from pyspark.sql import Window

    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tsl"),
        "event_type",
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("tsl", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = base.select(
        "user_id",
        "event_id",
        "tsl",
        "event_type",
        "value",
        F.row_number().over(w).alias("version"),
        F.lead("tsl").over(w).alias("expires_on"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(wcum).alias("last_purchase_value"),
        F.sort_array(F.collect_set("event_type").over(wcum)).alias(
            "seen_types"
        ),
    )
    verx = versioned.where(
        F.col("expires_on").isNull() | (F.col("expires_on") != F.col("tsl"))
    )
    # The filtered version spine feeds THREE consumers (the doc
    # spine plus ver2's two references below, one per sub-entity
    # nest): unpinned, the whole entity-window pipeline — shuffle,
    # sort, running collect_set — re-computes per reference.
    # ``pin_spine`` persists it for the invocation (MEMORY_AND_DISK;
    # released via the tmpdirs registry at gc/exit).  OPT-IN, not
    # default: measured A/B (r16) shows the pin wins ~9% for the
    # one-shot full build (bug_version_full 3.02→2.74 s) but LOSES
    # 30-40% inside the overlapped backfill block walk — the cache
    # materialization barrier defeats the 3-concurrent block
    # pipelining — and per-micro-batch caches would accrete across a
    # streaming run until the next registry gc.  The per-branch
    # PushedFilters contract (test_round9 block-pruning test) is
    # untouched either way: fch/ach/alias still scan the source
    # directly.
    if pin_spine:
        verx = pin(verx)

    fch = base.select(
        "user_id",
        "event_id",
        "tsl",
        F.expr(_NAME).alias("name"),
        F.expr(_STATUS).alias("status"),
        F.expr(_REQ_SPARK).alias("requestee"),
        F.expr(_ACTION).alias("action"),
    ).where(F.col("name").isNotNull())  # nameless change: no match_key
    fiv = FL.flag_state_intervals(fch, entity="user_id", ts="tsl")
    ver2 = verx.select("user_id", F.col("tsl").alias("version_ts"))
    flg = FL.flag_states_per_version(fiv, ver2)

    ach = base.where(F.col("event_id") % 2 == 0).select(
        "user_id",
        "event_id",
        "tsl",
        (F.lit(1) + F.col("event_id") % 5).alias("attach_id"),
        F.col("event_type").alias("field"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    acp = SUB.subentity_changepoints(
        ach, entity="user_id", sub="attach_id", field="field",
        value="cents", ts="tsl",
    )
    att = SUB.nest_changepoints_per_version(
        acp, ver2, entity="user_id", sub="attach_id",
    )

    spine = verx.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("_"),
            F.expr("tsl div 1000").cast("string"),
        ).alias("_id"),
        "user_id",
        F.col("tsl").alias("version_ts"),
        "version",
        "expires_on",
        "event_type",
        "value",
        "last_purchase_value",
        F.concat_ws("|", "seen_types").alias("seen_types"),
    )
    docs = spine.join(flg, ["user_id", "version_ts"], "left").join(
        att, ["user_id", "version_ts"], "left"
    )
    if alias_mapping is None:
        alias_mapping = AL.derived_alias_mapping(ev)
    docs = docs.withColumn(
        "modified_by",
        F.concat(F.lit("u"), F.col("user_id").cast("string"),
                 F.lit("@example.com")),
    )
    return AL.resolve_aliases(docs, alias_mapping, cols=["modified_by"])


@register(
    "bug_version_full",
    oracle=_FULL_ORACLE,
    conf={PARALLELISM_FIRST: "false"},
)
def bug_version_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference ES document: versioned snapshot state
    (interval bounds, rolled-forward scalar, accumulated set) PLUS
    the per-version flag set PLUS the re-nested attachment
    sub-entities — everything parse_bug_history.py assembles into one
    bug_version doc (resources/schema/bug_version.json), in one plan.

    Composition shape: the version spine is ONE entity-windowed pass;
    flags and attachments aggregate on (entity, version_ts) and join
    back to the spine on exactly that key, so both joins reuse the
    aggregation partitioning (big-big SMJ on the co-partitioned key —
    the correct plan; neither side is broadcastable at 100 TB).
    reference: parse_bug_history.py (whole), transform_bugzilla.py
    normalize(), bz_etl.py ES doc assembly."""
    return build_full_docs(
        load_table(spark, sf_dir, "events"), pin_spine=True
    )


@register(
    "stream_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN floor(epoch(ts))::BIGINT
                         - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, event_id, ts,
               (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))::BIGINT AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(floor(epoch(ts))::BIGINT) AS session_start,
           max(floor(epoch(ts))::BIGINT) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization as an ACTUAL stateful streaming run
    (applyInPandasWithState under availableNow): per-entity state
    carries (closed count, open session); sessions re-emit in update
    mode under stable ordinals as they grow, so latest-per-
    (entity, session) in the sink IS the final sessionization.  The
    oracle is the batch events_sessionize equivalence — streaming
    must converge to exactly the batch result.  Custom stateful
    template for semantics the built-in session_window can't hold
    (stable ordinals, growing-extent re-emit).
    reference: the same incremental==full guarantee as
    stream_snapshot (bz_etl.py:172)."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_sessionize as _op,
    )

    src = events_stream(spark, sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("tsl"), "event_id"
    )
    out = to_memory(_op(src), "update", "stream_sess_")
    return dedup_latest(
        out, ("user_id", "session_id"), ts="n_events",
        tiebreak=("session_end",),
    ).select(
        "user_id", "session_id", "n_events", "session_start", "session_end",
    )


@register(
    "stream_sessionize_ooo",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN floor(epoch(ts))::BIGINT
                         - lag(floor(epoch(ts))::BIGINT) OVER w > 1800
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, event_id, ts,
               (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW))::BIGINT AS session_id
        FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(floor(epoch(ts))::BIGINT) AS session_start,
           max(floor(epoch(ts))::BIGINT) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_sessionize_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_sessionize WITHOUT the in-order-delivery assumption
    (#177): watermark-buffered finalize-then-sessionize — sessions
    close the moment the watermark passes their end by more than the
    gap, emit EXACTLY ONCE in append mode (no update-mode re-emit,
    no sink-side latest-per-session dedup pass), and the event-time
    timeout plus two heartbeat sentinels drain the tail.  Same
    oracle as stream_sessionize/events_sessionize: any arrival order
    within the 2h watermark must converge to the batch session set.
    reference: the incremental==full guarantee (bz_etl.py:172) under
    out-of-order delivery."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_sessionize_ooo as _op,
    )

    src = events_stream(spark, sf_dir, heartbeats=True).select(
        "user_id", "event_id", "ts",
        F.col("ts").cast("long").alias("tsl"),
    )
    out = to_memory(_op(src), "append", "stream_sesso_")
    return out.where(F.col("user_id") >= 0)


@register("stream_bug_versions", oracle=_FULL_ORACLE)
def stream_bug_versions(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 4,
) -> DataFrame:
    """The reference's incremental ETL loop as a REAL streaming run:
    events arrive in three micro-batches; each batch re-builds every
    touched entity's COMPLETE document set from the accumulated
    archive through the IDENTICAL pipeline as the batch
    ``bug_version_full`` (shared ``build_full_docs``), and swaps the
    rebuilt docs into a bucketed store.  The oracle is the full batch
    rebuild over all events — the incremental==full equivalence that
    defines the reference's incremental mode (bz_etl.py:172; any bug
    touched since the watermark is fully re-built and overwritten)."""
    from bugzilla_etl_spark.streaming.incremental_versions import (
        stream_full_rebuild,
    )

    ev = load_table(spark, sf_dir, "events")
    work = tracked_mkdtemp(prefix="bes_incv_")
    src = f"{work}/src"
    # three time-ordered slices = three incremental deliveries; under
    # the arrival-order knob the newest delivery arrives first —
    # rebuild-from-accumulated-archive is order-insensitive by
    # construction (each entity's final rebuild sees its full
    # archived history) and must converge anyway
    lo_hi = ev.approxQuantile("event_id", [1 / 3, 2 / 3], 0.0)
    # an empty/degenerate corpus yields no quantiles: land the whole
    # (possibly empty) table as a single slice so the stream still
    # sees a file and stays schema-stable (the all-empty sweep)
    bounds = []
    lo = None
    for hi in [*lo_hi, None]:
        bounds.append((lo, hi))
        lo = hi
    n_slices = len(bounds)
    arrival = (
        list(reversed(range(n_slices)))
        if arrival_mode() is not None
        else list(range(n_slices))
    )
    # write slices IN ARRIVAL ORDER: the file source dispatches
    # micro-batches by file modification time, so reversing only the
    # directory NAMES (the pre-round-12 form) left delivery order
    # unchanged and the order sweep's coverage of this entry vacuous
    # (round-11 advice) — under the knob the newest time slice must
    # be WRITTEN first to actually arrive first; dir names follow
    # write order so mtime- and name-ordered listings agree
    import time as _time

    mt_base = _time.time()
    for pos in range(n_slices):
        lo, hi = bounds[arrival.index(pos)]
        sl = ev
        if lo is not None:
            sl = sl.where(F.col("event_id") > lo)
        if hi is not None:
            sl = sl.where(F.col("event_id") <= hi)
        sl.coalesce(1).write.mode("overwrite").parquet(
            f"{src}/slice={pos}"
        )
        # explicit strictly-increasing mtimes in write order: the
        # file source dispatches by mtime, and two slices written
        # inside one mtime granule can invert arrival (the
        # landing._stamp_arrival_order rationale)
        for f in os.listdir(f"{src}/slice={pos}"):
            p = f"{src}/slice={pos}/{f}"
            t = mt_base + 2 * (pos + 1)
            os.utime(p, (t, t))
    stream = landed_stream(spark, src + "/*", ev.schema)
    # Pin shuffle partitions to the store's bucket count for the
    # query's lifetime (the r13 stream_attribution method): each
    # micro-batch's rebuild runs ~6 shuffle stages over a batch-
    # sized slice — at 32 session partitions those stages pay 32
    # tasks of scheduling for partitions AQE then mostly coalesces.
    #
    # r15 fine-split decomposition of rebuild_write (summed over the
    # 3 batches, sf0.1): build_fn pipeline 12.1 s (65%), final write
    # 2.9 s (16%), touched-archive read 2.3 s (12%), prev-store read
    # 1.3 s (7%) — the r14 hypothesis that untouched entities riding
    # the prev-union rewrite were the lever is REFUTED (that path is
    # 7%); the marginal wall is the DESIGNED incremental==full
    # rebuild compute (every touched bug's complete history through
    # the identical batch pipeline), the documented floor.  Bucket
    # sweep, de-biased min-of-2 each: n_buckets 4/8/16/64 -> wall
    # 14.3/16.1/17.4/25.3 s (rebuild_write 8.1/9.0/10.5/16.4).  The
    # harness's batches touch ~ALL 10k entities, so bucket pruning
    # buys nothing here and per-task overhead scales with the count
    # — the default moves to the measured optimum (4).  At 100 TB
    # the knob inverts: billions of entities with batch-touched
    # fraction << 1 want thousands of buckets so untouched buckets
    # are never read, written, or listed; size n_buckets so a
    # batch's touched-bucket histories fit the executor fleet.
    drain(
        spark,
        stream_full_rebuild(
            stream,
            archive_dir=f"{work}/archive",
            docs_dir=f"{work}/docs",
            checkpoint_dir=f"{work}/ckpt",
            build_fn=build_full_docs,
            n_buckets=n_buckets,
        ),
        state_partitions=n_buckets,
    )
    if not os.path.exists(f"{work}/docs"):
        # no-new-data run: no micro-batch ever rebuilt an entity —
        # the batch builder on an empty log IS the stream's output
        return build_full_docs(ev.limit(0))
    return spark.read.parquet(f"{work}/docs").drop("bucket")


@register("full_backfill_resume", oracle=_FULL_ORACLE)
def full_backfill_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's range-batched FULL backfill with crash-resume,
    executed: the complete document rebuild walks descending
    entity-id blocks through the shared ``build_full_docs`` pipeline
    (operators/backfill.py), a crash is INJECTED after two landed
    blocks, and a second run resumes from the store — the reference's
    ``end = ceiling(get_min_bug_id(), increment)`` rule (bz_etl.py:287)
    — re-processing only the boundary block and everything below it.
    The oracle is the UNBATCHED full rebuild (the same _FULL_ORACLE as
    ``bug_version_full``): blocked+crashed+resumed must land the
    byte-identical document set, which is the whole point of the
    "day-one 100 TB backfill dies at 80%" path.
    reference: bz_etl.py:281-352 full_etl, :427 get_bug_ids,
    :440 get_min_bug_id."""
    from bugzilla_etl_spark.operators.backfill import (
        read_store,
        run_backfill,
    )

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0]
    end = 0 if end is None else end + 1
    if end == 0:
        return build_full_docs(ev.limit(0))
    increment = -(-end // 5)  # 5 blocks at any SF
    store = tracked_mkdtemp(prefix="bes_bkf_") + "/store"
    # run 1 "dies" between blocks after landing 2 of 5 (end passed
    # through: the max-id probe already ran above)
    run_backfill(
        spark, ev, store, increment, build_full_docs,
        end=end, crash_after=2,
    )
    # run 2 resumes from the store and completes the walk
    run_backfill(
        spark, ev, store, increment, build_full_docs, end=end
    )
    return read_store(spark, store).drop("block")


@register("full_backfill_clustered", oracle=_FULL_ORACLE)
def full_backfill_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAYOUT half of the backfill contract, driver-witnessed:
    the production form at 100 TB.  ``full_backfill_resume`` above
    proves crash-resume over filter-scan block reads; this entry
    lands the events table entity-block-clustered first
    (``land_clustered`` — one partitionBy write, paid once) and
    walks the same descending block plan reading each block as a
    PARTITION DIRECTORY: the path is the predicate, zero rows of
    other blocks are touched — the Spark analogue of the reference's
    MySQL primary-key range walk (bz_etl.py:305 ``{{min}} <=
    b.bug_id AND b.bug_id < {{max}}``), where the filter-scan form
    merely pushes the range predicate into a full scan.  The walk
    fail-fasts if the layout's partition dirs don't match the block
    plan (increment mismatch / stale path must error, never land
    empty "successful" blocks).  Oracle: the same UNBATCHED full
    rebuild — layout changes what the scan skips, never the result.
    reference: bz_etl.py:281-352 full_etl, :305 range predicate."""
    from bugzilla_etl_spark.operators.backfill import (
        land_clustered,
        read_store,
        run_backfill,
    )

    ev = load_table(spark, sf_dir, "events")
    end = ev.agg(F.max("user_id")).collect()[0][0]
    end = 0 if end is None else end + 1
    if end == 0:
        return build_full_docs(ev.limit(0))
    increment = -(-end // 5)  # 5 blocks at any SF
    work = tracked_mkdtemp(prefix="bes_bkc_")
    clustered = f"{work}/clustered"
    store = f"{work}/store"
    land_clustered(ev, clustered, increment)
    # layout witness: run_backfill validates the landing's marker
    # against this walk's (increment, entity) and raises on any
    # mismatch/null-id partition before landing a single block —
    # the fail-fast lives in the operator, not in a caller assert
    run_backfill(
        spark, ev, store, increment, build_full_docs,
        end=end, clustered_dir=clustered,
    )
    return read_store(spark, store).drop("block")


# ---- previous_values: per-field duration tracking --------------------

_PV_FIELDS = ("click", "error", "purchase", "signup", "view")


def _pv_oracle() -> str:
    """DuckDB mirror of operators/snapshot.previous_values — same five
    stacked window passes over (user_id ORDER BY tsl, event_id)."""
    prior = ",\n           ".join(
        f"last_value(CASE WHEN event_type = '{f}' THEN value END "
        f"IGNORE NULLS) OVER wprev AS prior_{f}"
        for f in _PV_FIELDS
    )
    chg = ",\n           ".join(
        f"(event_type = '{f}' AND value IS DISTINCT FROM prior_{f}) "
        f"AS chg_{f}"
        for f in _PV_FIELDS
    )
    pcts = ",\n           ".join(
        f"last_value(CASE WHEN chg_{f} THEN tsl END IGNORE NULLS) "
        f"OVER wprev AS pcts_{f}"
        for f in _PV_FIELDS
    )
    pv = ",\n           ".join(
        f"CASE WHEN chg_{f} THEN struct_pack("
        f"pv := prior_{f}, "
        f"ct := coalesce(pcts_{f}, created_l), "
        f"ca := tsl, "
        f"dd := CAST(floor((tsl - coalesce(pcts_{f}, created_l)) "
        f"/ 86400.0) AS BIGINT)) END AS pv_{f}"
        for f in _PV_FIELDS
    )
    carry = ",\n           ".join(
        f"last_value(pv_{f} IGNORE NULLS) OVER wcur AS c_{f}"
        for f in _PV_FIELDS
    )
    flat = ",\n           ".join(
        f"c_{f}.pv AS {f}_prev_value,\n           "
        f"c_{f}.ct AS {f}_change_to_l,\n           "
        f"c_{f}.ca AS {f}_change_away_l,\n           "
        f"c_{f}.dd AS {f}_duration_days"
        for f in _PV_FIELDS
    )
    wprev = (
        "(PARTITION BY user_id ORDER BY tsl, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    wcur = (
        "(PARTITION BY user_id ORDER BY tsl, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
    WITH e AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS tsl,
             event_type, value
      FROM events
    ),
    s1 AS (
      SELECT *,
           first_value(tsl) OVER wcur AS created_l,
           {prior}
      FROM e
      WINDOW wprev AS {wprev}, wcur AS {wcur}
    ),
    s2 AS (SELECT *,
           {chg}
           FROM s1),
    s3 AS (SELECT *,
           {pcts}
           FROM s2
           WINDOW wprev AS {wprev}),
    s4 AS (SELECT *,
           {pv}
           FROM s3),
    s5 AS (SELECT user_id, event_id, tsl AS version_tsl,
           {carry}
           FROM s4
           WINDOW wcur AS {wcur})
    SELECT user_id, event_id, version_tsl,
           {flat}
    FROM s5
    """


@register("previous_values", oracle=_pv_oracle())
def previous_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field (previous value, change-to ts, change-away ts,
    duration) carried on every version — the reference's
    ``previous_values`` struct on each bug_version doc
    (parse_bug_history.py:783 setPrevious; ctField takes the prior
    caField, creation ts for a field's first change; :599 skips
    no-op changes).  Each of the five event_type "fields" is tracked
    independently; one entity-keyed shuffle, stacked windows."""
    from bugzilla_etl_spark.operators.snapshot import previous_values as _op

    return _op(load_table(spark, sf_dir, "events"), fields=_PV_FIELDS)


@register("previous_values_paned", oracle=_pv_oracle())
def previous_values_paned(
    spark: SparkSession, sf_dir: str, width_s: int = 3600
) -> DataFrame:
    """previous_values' HOT-KEY-SPLITTABLE form (#175) — the last
    class-2 batch entry from SKEW_SWEEP_r11's straggler taxonomy.
    All five stacked carries are prefix scans; each decomposes
    two-level like state_rollforward_paned (#173), with the
    dependency chain (prior -> change flag -> change ts -> emitted
    record -> carry) forcing three sequential pane-summary rounds —
    but every corpus-side window and groupBy keys on (user, pane),
    so the corpus crosses the wire once and the sequential work runs
    over panes-per-user summary rows only.  Same oracle as
    previous_values: the decomposition is value-exact, only the
    partitioning moved.  reference: parse_bug_history.py:783
    setPrevious."""
    from bugzilla_etl_spark.operators.snapshot import (
        previous_values_paned as _op,
    )

    return _op(
        load_table(spark, sf_dir, "events"),
        fields=_PV_FIELDS,
        width_s=width_s,
    )


@register("stream_previous_values", oracle=_pv_oracle())
def stream_previous_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field previous-value tracking as an ACTUAL stateful
    streaming run (applyInPandasWithState under availableNow): state
    carries each field's (current value, previous-value record);
    every event emits its carried records exactly once, so the sink's
    union over micro-batches equals the batch ``previous_values``
    operator — which is exactly the oracle used here (same SQL as the
    batch query: streaming must converge to the batch result).
    reference: parse_bug_history.py:783 setPrevious under the
    incremental loop (bz_etl.py:172)."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_previous_values as _op,
    )

    # _pv_state's contract is IN-ORDER-per-entity delivery; under the
    # arrival-order sweep this entry documents the contract's edge
    # (the sweep expects divergence here) and
    # stream_previous_values_ooo is the watermark-buffered form that
    # retires the assumption.
    src = events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.col("ts").cast("long").alias("tsl"),
        "event_type", "value",
    )
    return to_memory(_op(src), "append", "stream_pv_")


@register("stream_previous_values_ooo", oracle=_pv_oracle())
def stream_previous_values_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_previous_values WITHOUT the in-order-delivery
    assumption (#176): per-entity state additionally buffers events
    newer than the 2h watermark; each batch finalizes the
    watermark-passed prefix in event-time order through the IDENTICAL
    replay core as the in-order form (_pv_replay — one
    implementation, two delivery contracts), and an event-time
    timeout flushes the tail.  Two far-future heartbeat files bound
    the availableNow run the way stream_attribution's sentinels do.
    Always multi-batch (maxFilesPerTrigger=1) so the buffered path is
    actually exercised; under the arrival-order sweep the landing is
    scrambled within the watermark and the result must STILL equal
    the batch oracle — the property the classic form cannot offer.
    reference: parse_bug_history.py:783 setPrevious under
    out-of-order incremental delivery."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_previous_values_ooo as _op,
    )

    src = events_stream(spark, sf_dir, heartbeats=True).select(
        "user_id", "event_id", "ts",
        F.col("ts").cast("long").alias("tsl"),
        "event_type", "value",
    )
    out = to_memory(_op(src), "append", "stream_pvo_")
    # sentinel rows ride through the stateful op as their own group;
    # filter them on the MATERIALIZED result (in-stream filtering
    # would push below the watermark node — see the operator's
    # docstring)
    return out.where(F.col("user_id") >= 0)


@register(
    "stream_heavy_hitters",
    oracle=r"""
    WITH tk AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ),
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
def stream_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    *,
    keyspace_bits: int | None = None,
    n_candidates: int = 64,
    state_partitions: int | None = None,
) -> DataFrame:
    """The corpus-frequency monitor as a REAL streaming run: trigram
    counts accumulate across micro-batches (update mode, memory
    sink), then the final state ranks into the top-20 — the
    streaming form of batch heavy_hitters_ngrams, so the oracle is
    the exact batch SQL.

    State bound: the exact form keeps one counter per distinct
    trigram — the SAME cardinality the batch groupBy shuffles, kept
    hot instead of recomputed per poll (the reference's incremental
    loop recomputes its rollups each cycle; bz_etl.py:172) — which
    is corpus-cardinality state.  ``keyspace_bits=k`` is the wired
    100-TB cap (the docstring design the round-8 verdict required
    as a parameter): the STREAMING aggregation groups the gram's
    portable hash into 2^k buckets, so state-store rows are ≤ 2^k
    no matter the corpus; the top ``n_candidates`` buckets by final
    count then feed a batch CANDIDATE RE-VERIFY pass that counts
    exact grams only inside those buckets (a map-side-filtered scan
    — a bucket's count upper-bounds every gram in it, so heavy
    grams cannot hide outside heavy buckets).  Both engines compute
    the same capped semantics, so the capped entry is value-oracled
    too (deterministic tie-breaks: buckets by (cnt desc, bucket),
    grams by (cnt desc, ngram)).

    Explode and partial-count stay map-side; update mode re-emits a
    key only in batches that changed it, and counts are monotone
    per key, so the final state is each key's max emission.

    ``state_partitions`` pins the STREAM's state-store count (see
    ``landing.drain``): the capped form's state is <= 2^k rows total,
    so its streaming aggregate is commit-bound, not compute-bound, and
    fewer stores mean fewer per-batch delta-file commits.  The EXACT
    form keeps corpus-cardinality state and must NOT be pinned.  The
    post-stream ranking and re-verify passes run after the restore,
    at session partitioning."""
    from bugzilla_etl_spark.functions.hashing import hash64
    from bugzilla_etl_spark.operators import text as T

    path = f"{sf_dir}/documents.parquet"
    static = spark.read.parquet(path)
    srcdir = tracked_mkdtemp(prefix="bes_shh_")
    # documents carry no event time: under the arrival knob the
    # staging shards by doc_id — arbitrary order, which this
    # un-watermarked commutative count must tolerate outright
    stage_stream_source(path, srcdir, ts_col=None, id_col="doc_id")
    src = landed_stream(spark, srcdir, static.schema)
    grams = src.select(
        F.explode(T.ngrams(T.tokens("text"), 3)).alias("ngram")
    )
    if keyspace_bits is not None:
        key = (hash64(F.col("ngram")) % (1 << keyspace_bits)).alias(
            "bucket"
        )
        grams = grams.select(key)
        group_col = "bucket"
    else:
        group_col = "ngram"
    out = to_memory(
        grams.groupBy(group_col).agg(F.count(F.lit(1)).alias("cnt")),
        "update",
        "stream_hh_",
        state_partitions,
    )
    final = dedup_latest(out, group_col, ts="cnt", tiebreak=()).select(
        group_col, "cnt"
    )
    if keyspace_bits is None:
        return final.orderBy(
            F.col("cnt").desc(), F.col("ngram").asc()
        ).limit(20)
    # Candidate re-verify: exact gram counts, but ONLY inside the
    # top buckets — the corpus scan is map-side filtered against a
    # broadcast n_candidates-row list, and the exact groupBy
    # shuffles candidate-bucket grams instead of the whole keyspace.
    cand = final.orderBy(
        F.col("cnt").desc(), F.col(group_col).asc()
    ).limit(n_candidates).select(group_col)
    exact = (
        static.select(
            F.explode(T.ngrams(T.tokens("text"), 3)).alias("ngram")
        )
        .withColumn(
            "bucket", hash64(F.col("ngram")) % (1 << keyspace_bits)
        )
        .join(F.broadcast(cand), on="bucket")
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.orderBy(
        F.col("cnt").desc(), F.col("ngram").asc()
    ).limit(20)


_SHH_TK = r"""
    WITH tk AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents
    ),
    g AS (
      SELECT unnest(list_transform(generate_series(1, len(tk) - 2),
                    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS ngram
      FROM tk
    )"""


@register(
    "stream_heavy_hitters_capped",
    oracle=_SHH_TK
    + f""",
    gb AS (
      SELECT ngram, count(*) AS cnt,
             ({duckdb_hash64('ngram')} % 1024) AS bucket
      FROM g GROUP BY ngram
    ),
    bc AS (SELECT bucket, sum(cnt) AS bcnt FROM gb GROUP BY bucket),
    cand AS (
      SELECT bucket FROM bc ORDER BY bcnt DESC, bucket ASC LIMIT 64
    )
    SELECT ngram, cnt FROM gb JOIN cand USING (bucket)
    ORDER BY cnt DESC, ngram ASC LIMIT 20
    """,
)
def stream_heavy_hitters_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`stream_heavy_hitters(keyspace_bits=10)` as its own
    oracle-checked catalog entry: the 100-TB form.  Streaming state
    is ≤ 2^10 bucket counters (vs one per distinct trigram — the
    round-8 verdict's last corpus-cardinality streaming state), and
    the exact top-20 is recovered by the batch candidate re-verify
    pass over the top-64 buckets.  The oracle runs the SAME capped
    algorithm (portable hash, deterministic tie-breaks), so the
    entry is value-checked end to end.

    state_partitions=4 (r16): the capped stream's state is <= 1024
    counter rows TOTAL, so its streaming aggregate is commit-bound —
    the stream_attribution batch-4 finding extended to the
    JVM-native stateful agg.  Interleaved sweep (sf0.1, min-of-3):
    32 (session) -> 3.97 s, 8 -> 3.23, 4 -> 2.90, results identical
    at every setting.  Same 100 TB inversion note as attribution:
    production sizes this to state volume (watermark horizon x
    keyspace), never to local core count — and the EXACT form
    (corpus-cardinality state) must stay at session partitioning."""
    return stream_heavy_hitters(
        spark, sf_dir, keyspace_bits=10, state_partitions=4
    )


@register(
    "stream_neardup_ingest",
    oracle="""
    WITH tkt AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
        FROM documents
    ),
    t AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3 THEN
                   list_transform(range(1, len(tk)-1),
                       i -> tk[i]||' '||tk[i+1]||' '||tk[i+2])
                   ELSE [] END) AS sh
        FROM tkt
    ),
    sig AS (
        SELECT doc_id,
               list_transform(range(0,16), s -> list_min(list_transform(
                   sh, x -> ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT
                        + s * (('0x' || substr(md5(x), 17, 15))
                               ::UBIGINT::BIGINT % 4294967296)))) AS sig
        FROM t WHERE len(sh) > 0
    ),
    banded AS (
        SELECT doc_id, unnest(generate_series(0,3)) AS band_id,
               unnest(bands) AS band_key
        FROM (SELECT doc_id,
                     list_transform(range(0,4), b ->
                         list_aggregate(list_slice(sig, 4*b+1, 4*b+4),
                                        'string_agg', ',')) AS bands
              FROM sig)
    ),
    statb AS (
        SELECT DISTINCT band_id, band_key FROM banded
        WHERE doc_id % 5 <> 0
    ),
    inc AS (SELECT * FROM banded WHERE doc_id % 5 = 0),
    hits AS (
        SELECT inc.doc_id, count(*) AS n_hits
        FROM inc JOIN statb USING (band_id, band_key)
        GROUP BY inc.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hits, 0) AS n_hits,
           CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END
               AS is_neardup
    FROM (SELECT DISTINCT doc_id FROM inc) d
    LEFT JOIN hits h USING (doc_id)
    """,
)
def stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup screening as a REAL multi-batch
    streaming run: docs with doc_id % 5 == 0 play the incoming crawl
    (landed as two files → two micro-batches under
    maxFilesPerTrigger=1), the other 80% are the existing corpus
    whose LSH band index is the static join side — the incremental
    dedup gate that keeps a 100 TB corpus clean WITHOUT re-banding
    it per crawl.  Banding is the SAME code as the batch operator
    (streaming/neardup_stream.py), so the oracle is the pure batch
    computation: each incoming doc's band-bucket collision count
    against the static index."""
    from bugzilla_etl_spark.streaming.neardup_stream import (
        band_index,
        screen_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    static = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)

    landing = tracked_mkdtemp(prefix="bes_ndl_")
    land_parts(
        landing,
        [
            ("incoming_a", incoming.where(F.col("doc_id") % 10 == 0)),
            ("incoming_b", incoming.where(F.col("doc_id") % 10 == 5)),
        ],
    )
    index = pin(band_index(static), StorageLevel.MEMORY_AND_DISK_DESER)
    index.count()  # materialize once; both micro-batches reuse it
    return to_batch_dirs(
        spark,
        landing,
        docs.schema,
        lambda batch: screen_batch(batch, index),
        "doc_id long, n_hits long, is_neardup int",
    )


from bugzilla_etl_spark.plans.queries_pipeline import (  # noqa: E402
    _CHUNK_S,
    _CHUNK_W,
    DOC_CHUNKS_ORACLE,
)


@register("stream_doc_chunks", oracle=DOC_CHUNKS_ORACLE)
def stream_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time passage chunking as a REAL multi-batch
    streaming run (#181): the documents table lands as three files
    (-> three micro-batches under maxFilesPerTrigger=1) and each
    batch is chunked through the IDENTICAL
    operators.text.chunk_passages projection as the batch
    ``doc_chunks`` entry — streaming == batch by construction, so
    the oracle IS the batch entry's SQL.  Chunking is stateless
    (zero shuffles per micro-batch, no watermark because there is
    no state), so ANY arrival order converges; under the
    order-sweep knob the parts land newest-first — content order
    and landing names/mtimes move together, so delivery order
    really reverses (the round-11 stream_bug_versions lesson).

    Scale shape per micro-batch: chunking is a pure map (scan ->
    project -> generate), so the batch entry's zero-shuffle plan pin
    holds for every micro-batch plan too."""
    from bugzilla_etl_spark.operators.text import chunk_passages

    docs = load_table(spark, sf_dir, "documents")
    landing = tracked_mkdtemp(prefix="bes_chl_")
    order = list(range(3))
    if arrival_mode() is not None:
        order.reverse()
    land_parts(
        landing,
        [
            (
                f"part_{pos}",
                docs.where(F.col("doc_id") % 3 == order[pos]),
            )
            for pos in range(3)
        ],
    )
    return to_batch_dirs(
        spark,
        landing,
        docs.schema,
        lambda batch: chunk_passages(batch, width=_CHUNK_W, stride=_CHUNK_S),
        "doc_id long, chunk_idx long, tok_start long,"
        " tok_end long, chunk_text string",
    )


@register(
    "stream_hll",
    oracle=f"""
    WITH t2 AS (
        SELECT event_type,
               {_HLL_H} // {_HLL_2P50} AS b,
               {_HLL_H} % {_HLL_2P50} AS rest
        FROM events
    ), t3 AS (
        SELECT event_type, b,
               CASE WHEN rest = 0 THEN 51
                    ELSE 51 - length(bin(rest)) END AS r
        FROM t2
    ), regs AS (
        SELECT event_type, b, max(r) AS m FROM t3 GROUP BY 1, 2
    ), agg AS (
        SELECT event_type,
               sum(1::BIGINT << (51 - m)) AS s_present,
               count(*) AS n_present
        FROM regs GROUP BY 1
    ), e2 AS (
        SELECT event_type,
               CAST(s_present + (1024 - n_present)
                    * {_HLL_2P51} AS DOUBLE) AS s,
               1024 - n_present AS v
        FROM agg
    ), e3 AS (
        SELECT event_type,
               CASE WHEN ({_HLL_NUM!r} / s) <= 2560.0 AND v > 0
                    THEN 1024.0 * ln(1024.0 / v)
                    ELSE {_HLL_NUM!r} / s END AS est
        FROM e2
    ), ex AS (
        SELECT event_type, count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT e3.event_type, CAST(n_exact AS BIGINT) AS n_exact,
           round(est, 4) AS hll_est
    FROM e3 JOIN ex USING (event_type)
    """,
)
def stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cardinality monitor: the portable HLL's registers
    folded ACROSS micro-batches (a real availableNow run, two files
    → two batches) by max-merge into a tiny state table, then the
    estimate read off the final state.  Max-merge is IDEMPOTENT, so
    checkpoint replays and duplicate deliveries cannot corrupt the
    state — the streaming-sketch property that lets a 100 TB ingest
    pipeline keep per-key cardinality hot without exactly-once
    writes.  Oracle = the BATCH register computation over all
    events: streaming == batch because the registers merge exactly
    (the property the batch unit test pins)."""
    import shutil

    from bugzilla_etl_spark.plans.queries_engine import (
        hll_estimate,
        hll_register_frame,
    )

    apply_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
    path = f"{sf_dir}/events.parquet"
    static = spark.read.parquet(path)
    landing = tracked_mkdtemp(prefix="bes_hll_")
    # copies=2: the same rows again — a REPLAY; max-merge absorbs it,
    # which is exactly the claim under test (and under the arrival
    # knob the replay arrives scrambled AND batch-delayed: register
    # max-merge is commutative, so any order must converge)
    stage_stream_source(path, landing, copies=2)
    state_dir = tracked_mkdtemp(prefix="bes_hlls_")
    state_path = os.path.join(state_dir, "registers")

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        regs = hll_register_frame(batch_df)
        if os.path.exists(state_path):
            prev = spark.read.parquet(state_path)
            regs = (
                regs.unionByName(prev)
                .groupBy("event_type", "b")
                .agg(F.max("m").alias("m"))
            )
        rows = regs.collect()  # bounded: <= |types| x 1024
        # Arrow-backed pandas frame, not createDataFrame(rows):
        # a Row-list frame under coalesce(1) serializes through 32
        # sequential Python-worker round-trips in one task —
        # measured ~5 s PER BATCH for these ~4k rows (it was 10 of
        # this query's 12 s of streaming wall); the Arrow path
        # transfers one batch JVM-side and writes in ~0.2 s.
        import pandas as pd

        pdf = pd.DataFrame(
            [(r["event_type"], r["b"], r["m"]) for r in rows],
            columns=["event_type", "b", "m"],
        )
        spark.createDataFrame(
            pdf, schema="event_type string, b long, m int"
        ).coalesce(1).write.mode("overwrite").parquet(state_path)

    drain(
        spark,
        landed_stream(spark, landing, static.schema)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", tracked_mkdtemp(prefix="bes_hllc_"))
    )
    final_regs = read_store_or_empty(
        spark, state_path, "event_type string, b long, m int"
    )
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    out = (
        hll_estimate(final_regs)
        .join(ex, on="event_type")
        .select(
            "event_type",
            "n_exact",
            F.round("est", 4).alias("hll_est"),
        )
    )
    # the returned frame's lineage touches only the state store
    # (outlives return; tracked for end-of-invocation gc) and the
    # events table — the landing dir fed the terminated stream
    # only, so it can be freed eagerly WITHOUT collecting the
    # result through the driver (the r12 verdict flagged the old
    # collect()/createDataFrame round-trip here: group-count-sized
    # today, but a driver serialization if event-type cardinality
    # grows)
    shutil.rmtree(landing)
    return out


@register(
    "stream_attribution",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, c.click_id,
           CAST((epoch_us(p.purchase_ts) - epoch_us(c.click_ts))
                // 1000000 AS BIGINT) AS gap_s
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    """,
)
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join — the last Structured Streaming
    operator class the catalog lacked: purchase events join the
    click stream per user within a 1-hour attribution window, both
    sides watermarked so the state store can expire clicks older
    than any possible future match (the mechanism that makes a
    stream-stream join bounded-state at 100 TB: state size =
    watermark horizon × arrival rate, not history).

    Real multi-batch run: each side lands as 3 parquet files split
    by EVENT-TIME DECADES of the month, named in time order —
    file-source streams list files by name, so micro-batches arrive
    in event-time order, which is the contract a watermarked join
    assumes of its ingest.  That ordering is load-bearing: with
    arrival order uncorrelated with event time (an id-parity split
    was the first draft), the watermark jumps to max_ts − 2h after
    batch 1 and silently drops every later-arriving early-window
    row — streaming == batch would hold only by accident of batch
    count.  Under time-ordered arrival the 2 h watermark exceeds
    the 1 h join window, so no needed click state is ever evicted
    and equivalence holds for ANY number of batches (the unit test
    runs the 3-batch shape).

    The join condition uses the watermarked TIMESTAMP columns
    directly — event data is µs-granular, and Spark-µs vs DuckDB-ns
    interval arithmetic is exact at µs granularity, so the batch
    SQL oracle (the same interval join, streaming == batch) hashes
    identically.  The gap column divides epoch-µs integers, never
    floats."""
    return to_memory(
        _attribution_join(spark, sf_dir, "inner"),
        "append",
        "stream_att_",
        _ATT_STATE_PARTITIONS,
    )


# State-store count of the attribution joins (``landing.drain``'s
# ``state_partitions``).  The stream-stream join keeps FOUR stores per
# partition, each loading and committing a delta file every
# micro-batch.  Round-13 progress metrics showed the cost: at the
# session default 32, the inner join paid 512 store commits per run
# summing to 310 s of (heavily lock-contended) commit time against
# 15.6 s of addBatch wall, for ~13.5k state rows.  Production
# watermarked joins size this to watermark-horizon x arrival rate;
# the demo corpus holds ~6 MB of state.  r16 commit-fan-out sweep on
# the inner join (interleaved min-of-3, noisy-IO host): 8 -> 7.44 s,
# 4 -> 5.69 s, 2 -> 5.20 s; 4 is the measured optimum band (2 is
# within noise of 4 and leaves no parallel headroom for fatter
# states).  Results are partition-count-independent (the determinism
# sweep's contract) — only commit fan-out changes.
_ATT_STATE_PARTITIONS = 4


def _attribution_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The purchase-click interval join (``how`` = inner or
    leftOuter) over ``_attribution_streams``; the outer form lands
    the heartbeat sentinels its flush needs."""
    clicks, purchases = _attribution_streams(
        spark, sf_dir, sentinel=how != "inner"
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.click_ts <= purchases.purchase_ts)
        & (
            clicks.click_ts
            >= purchases.purchase_ts - F.expr("INTERVAL 1 HOUR")
        ),
        how,
    )
    return joined.select(
        purchases.user_id,
        "purchase_id",
        "click_id",
        F.expr(
            "(unix_micros(purchase_ts) - unix_micros(click_ts))"
            " div 1000000"
        ).alias("gap_s"),
    )


def _attribution_streams(
    spark: SparkSession, sf_dir: str, sentinel: bool = False
):
    """(clicks, purchases) watermarked file-source streams for the
    attribution joins, landed as 3 event-time TERCILE files per side
    — terciles over ABSOLUTE epoch days (min/max from a 1-row agg),
    not dayofmonth, so the name-order == event-time-order contract
    the watermark relies on holds for ANY data span, not just the
    generated single month.

    ``sentinel=True`` appends two far-future heartbeat files per
    side (user_id = -1, ts = max + 30/31 days): the OUTER join's
    null-emission happens on WATERMARK PASSAGE, and eviction output
    for batch N's watermark is emitted while processing batch N+1 —
    so the first sentinel pushes the global watermark (the MIN over
    both inputs, hence both sides need one) past every real row's
    expiry, and the second gives the engine a batch in which to
    emit them.  Callers filter the sentinels back out."""
    import datetime

    from bugzilla_etl_spark.streaming.landing import land_parts

    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.unix_date(F.to_date("ts"))).alias("lo"),
        F.max(F.unix_date(F.to_date("ts"))).alias("hi"),
        F.max("ts").alias("mx"),
    ).collect()[0]
    # empty log (no-new-data run): arbitrary cuts — three empty
    # parts land and the stream legitimately produces nothing
    lo = b["lo"] if b["lo"] is not None else 0
    hi = b["hi"] if b["hi"] is not None else 0
    mx = b["mx"] or datetime.datetime(1970, 1, 1)
    span = hi - lo + 1
    cut1, cut2 = lo + span // 3, lo + (2 * span) // 3
    sides = {
        "click": ev.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        ),
        "purchase": ev.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        ),
    }
    dirs = {}
    for name, df in sides.items():
        landing = tracked_mkdtemp(prefix=f"bes_att_{name}_")
        day = F.unix_date(F.to_date(F.col(f"{name}_ts")))
        parts = [
            (f"{name}_a", df.where(day < cut1)),
            (f"{name}_b", df.where((day >= cut1) & (day < cut2))),
            (f"{name}_c", df.where(day >= cut2)),
        ]
        if sentinel:
            for tag, days in (("d", 30), ("e", 31)):
                far = mx + datetime.timedelta(days=days)
                parts.append(
                    (
                        f"{name}_{tag}",
                        spark.createDataFrame(
                            [(-1, -1, far)], schema=df.schema
                        ),
                    )
                )
        land_parts(landing, parts)
        dirs[name] = (landing, df.schema)
    clicks = landed_stream(spark, *dirs["click"]).withWatermark(
        "click_ts", "2 hours"
    )
    purchases = landed_stream(spark, *dirs["purchase"]).withWatermark(
        "purchase_ts", "2 hours"
    )
    return clicks, purchases


@register(
    "stream_attribution_outer",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, c.click_id,
           CAST((epoch_us(p.purchase_ts) - epoch_us(c.click_ts))
                // 1000000 AS BIGINT) AS gap_s
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
    """,
)
def stream_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM LEFT-OUTER interval join — the state-EVICTION
    semantics the inner join never exercises: a purchase with no
    click in its 1-hour window emits a null-click row only when the
    watermark proves no matching click can still arrive.  That
    emission mechanism is why this is the last missing Structured
    Streaming join class: append-mode inner joins output on MATCH,
    outer joins also output on EXPIRY, driven entirely by watermark
    passage through the state store.

    End-of-stream flush: watermark passage needs future data — with
    a finite landing set the final window's unmatched purchases
    would sit in state forever.  Two far-future HEARTBEAT files per
    side (both sides: the global watermark is the min over all
    watermarked inputs) push the watermark past every real row and
    give the engine the extra batch that emits the evictions; the
    sentinels filter back out by user_id = -1.  This is the
    punctuation/heartbeat pattern production watermarked topics use
    for exactly this reason.  Oracle = the batch LEFT JOIN:
    streaming == batch INCLUDING null rows, which pins that no real
    unmatched purchase was dropped OR double-emitted.

    The sentinel filter runs on the MATERIALIZED result, never
    inside the streaming plan: a deterministic ``user_id != -1``
    there is pushed below the EventTimeWatermark node into BOTH
    source scans (constraint propagation carries it through the
    equi-join), so the heartbeat rows would be filtered before the
    watermark accumulator ever saw them — silently disabling the
    flush they exist to provide (observed: watermark pinned at
    max−2h, the final window's null rows never emitted)."""
    out = to_memory(
        _attribution_join(spark, sf_dir, "leftOuter"),
        "append",
        "stream_att_",
        _ATT_STATE_PARTITIONS,
    )
    return out.where(F.col("user_id") != -1)


from bugzilla_etl_spark.plans.queries_dedup import (  # noqa: E402
    DUCK_SPAN_ISL,
    DUCK_SPAN_SELECT,
    duck_span_occ,
)


def stream_dedup_spans_oracle(hash_bits: int = 60) -> str:
    """#186's oracle at either gram-hash width (r14 verdict task 5)."""
    return f"""
    WITH {duck_span_occ(hash_bits)},
    refg AS (SELECT DISTINCT gh FROM occ WHERE doc_id % 2 = 0),
    hits AS (
        SELECT doc_id, pos FROM occ
        WHERE doc_id % 2 = 1 AND gh IN (SELECT gh FROM refg)
    ),
    {DUCK_SPAN_ISL}
    {DUCK_SPAN_SELECT}
    """


@register("stream_dedup_spans", oracle=stream_dedup_spans_oracle())
def stream_dedup_spans(
    spark: SparkSession,
    sf_dir: str,
    hash_bits: int = 60,
) -> DataFrame:
    """ExactSubstr span detection at INGEST time — the spans family's
    ingest twin (stream_neardup_ingest is whole-doc near-dup's,
    stream_decontam decontamination's): even doc_ids play the
    existing corpus whose DISTINCT gram-hash index is the static
    join side, odd doc_ids land as two files → two real
    micro-batches whose duplicated-vs-corpus spans are computed
    in-stream.  Semantics vs #182: an incoming gram is duplicated
    iff it exists in the REFERENCE corpus (within-batch/within-doc
    repetition alone does not flag — the index is the contract, so
    streaming == batch by construction and the oracle is the pure
    batch computation).

    Scale shape: the gram index (the distinct gram-hash set of the
    reference half, pinned for the run and hash-joined per batch) is
    corpus-grain but SHUFFLE-FREE to probe per batch; per-batch work
    beyond the probe is the same doc-bounded island merge as #182.
    Batch-keyed output dirs keep checkpoint replays idempotent.

    ``hash_bits``: 60 (registered default) or 128 (full md5, the
    >= 1e9 distinct-grams setting) — threaded through index build
    AND probe; oracle-checked at both widths via
    stream_dedup_spans_oracle (r14 verdict task 5)."""
    from bugzilla_etl_spark.operators.dedup import (
        gram_positions,
        spans_from_hits,
    )

    docs = load_table(spark, sf_dir, "documents")
    static = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)

    landing = tracked_mkdtemp(prefix="bes_sds_")
    land_parts(
        landing,
        [
            ("incoming_a", incoming.where(F.col("doc_id") % 4 == 1)),
            ("incoming_b", incoming.where(F.col("doc_id") % 4 == 3)),
        ],
    )

    ref = pin(
        gram_positions(static, hash_bits=hash_bits).select("gh").distinct(),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    ref.count()  # materialize once; both micro-batches reuse it

    def spans(batch: DataFrame) -> DataFrame:
        hits = (
            gram_positions(batch, hash_bits=hash_bits)
            .join(ref, "gh")
            .select("doc_id", "pos")
        )
        return spans_from_hits(hits)

    return to_batch_dirs(
        spark,
        landing,
        docs.schema,
        spans,
        "doc_id long, span_start int, span_end int,"
        " span_tokens int, n_dup_grams long",
    )


from bugzilla_etl_spark.plans.queries_text import (  # noqa: E402
    bpe_encode_docs,
    bpe_tokenizer_terms,
    duck_bpe_encode,
    fold_term_map,
)


@register(
    "stream_bpe_encode",
    oracle=duck_bpe_encode(
        train_where=" WHERE doc_id % 2 = 0",
        encode_where=" WHERE doc_id % 2 = 1",
        unk=True,
    ),
)
def stream_bpe_encode(
    spark: SparkSession, sf_dir: str, tokenizer_path: str | None = None
) -> DataFrame:
    """Ingestion-time tokenization — the tokenize family's ingest
    twin (stream_doc_chunks is chunking's, stream_dedup_spans the
    span family's): the tokenizer is trained ONCE on the reference
    corpus (even doc_ids) and FROZEN — the production reality, where
    a tokenizer trained before the run encodes everything that
    arrives after — then odd doc_ids land as two files → two real
    micro-batches, each encoded through the IDENTICAL
    bpe_encode_docs projection as #188 with the broadcast one-row
    map riding every batch.

    The frozen tokenizer forces the policy #188 structurally cannot
    exercise: an incoming term the reference vocab never saw is
    OUT-OF-VOCABULARY and contributes the single id 0 (the classic
    <unk>), expressed as coalesce(element_at(map, t), [0]) — a LEFT
    lookup on both engines, so streaming == batch by construction
    and the oracle is the pure batch SQL over the same halves.

    Scale shape: train-side cost is the #183 loop (vocab grain, paid
    once BEFORE the stream exists); the frozen tokenizer is a REAL
    store artifact (``save_tokenizer`` — the alias_compact
    precedent), saved as vocab-grain parquet and
    LOADED at stream start (r15 verdict task 3: production serves a
    saved artifact; re-training per stream start was a harness
    artifact, and it made the bench pin protocol-sensitive — fresh
    4.932 s vs warm 3.956 s was the learn loop, not the stream).
    Per-batch cost is the map-only encode projection — zero
    shuffles, zero stream state beyond source offsets, no watermark
    because there is no state, so ANY arrival order converges
    (order-sweep CONVERGE set).  Batch-keyed output dirs keep
    checkpoint replays idempotent.

    ``tokenizer_path``: an existing ``save_tokenizer`` artifact to
    serve (the production call shape — streambench prices the train
    cost separately through it); None (the driver's self-contained
    shape) trains on the reference half, saves, and serves the
    round-tripped artifact — so the oracle gate exercises the full
    save → load → encode path every invocation.
    reference scope: training-data pipeline extension (ingest-twin
    pattern; pairs with #188)."""
    from bugzilla_etl_spark.operators.text import (
        load_tokenizer,
        save_tokenizer,
    )

    docs = load_table(spark, sf_dir, "documents")
    reference = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)

    # train once, SAVE, freeze: the artifact round-trips through the
    # store, then folds to the one-row map each micro-batch
    # broadcasts (pinned for the run — the learn loop's own caches
    # are nonce-guarded)
    if tokenizer_path is None:
        tokenizer_path = tracked_mkdtemp(prefix="bes_sbetok_")
        save_tokenizer(bpe_tokenizer_terms(spark, reference), tokenizer_path)
    tok_map = pin(
        fold_term_map(load_tokenizer(spark, tokenizer_path)),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    tok_map.count()

    landing = tracked_mkdtemp(prefix="bes_sbe_")
    order = [0, 1]
    if arrival_mode() is not None:
        order.reverse()
    land_parts(
        landing,
        [
            (
                f"incoming_{pos}",
                incoming.where(F.col("doc_id") % 4 == 2 * order[pos] + 1),
            )
            for pos in range(2)
        ],
    )
    return to_batch_dirs(
        spark,
        landing,
        docs.schema,
        lambda batch: bpe_encode_docs(batch, tok_map, unk=True),
        "doc_id long, n_terms long, n_tokens long, token_ids string",
    )
