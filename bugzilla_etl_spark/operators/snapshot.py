"""Temporal snapshot operators — the heart of Bugzilla-ETL.

The reference rebuilds every historical version of a bug from its
current state plus a reverse-chronological activity log
(reference: bugzilla_etl/parse_bug_history.py:10-36 workflow comment,
:457 populateIntermediateVersionObjects).  Each version carries
``modified_ts`` (valid_from) and ``expires_on`` (the next version's
timestamp; the current version never expires).

Spark-first, that whole imperative replay collapses into window
functions over ``(entity ORDER BY ts)``:

* intervals        -> lead(ts)
* current state    -> row_number() desc = 1  (or max_by)
* field roll-up    -> last(ignorenulls=True) with unbounded-preceding
* set accumulation -> collect_set over a running frame

Scale notes: every function here produces exactly ONE shuffle — the
hash partition on the entity key — and all subsequent windows reuse
that partitioning (Catalyst plans a single Exchange feeding stacked
WindowExecs).  No driver-side iteration, no Python UDFs; everything is
whole-stage-codegen'd JVM expressions.  ``expires_on`` for the live
version is NULL (not a sentinel timestamp) so the value is portable
across engines and timezones.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import hash64

# reference: bugzilla_etl/extract_bugzilla.py:30 MAX_TIMESTAMP — we keep
# NULL instead of a sentinel; expose epoch-millis constant for callers
# that need the reference's exact convention.
MAX_TIMESTAMP_MILLIS = 9999999999000


def _ordered_window(entity: str | Sequence[str], ts: str, tiebreak: Sequence[str]):
    keys = [entity] if isinstance(entity, str) else list(entity)
    return Window.partitionBy(*keys).orderBy(ts, *tiebreak)


def snapshot_versions(
    log: DataFrame,
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """SCD2 interval construction from a change log.

    Each log row becomes a version: valid_from = its timestamp,
    expires_on = the next version's timestamp (NULL while live), plus
    a 1-based version number.  Mirrors
    parse_bug_history.py:457-520 (populateIntermediateVersionObjects)
    where bug_version.expires_on = next modified_ts.
    """
    w = _ordered_window(entity, ts, tiebreak)
    return log.select(
        "*",
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("expires_on"),
        F.row_number().over(w).alias("version"),
    )


def snapshot_asof(
    log: DataFrame,
    asof_epoch_s: int,
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """State of every entity as of a point in time: the last log row at
    or before the cutoff.  This is how the reference resumes an
    incremental run from ``last_run_time`` (bz_etl.py:172).

    The cutoff is epoch SECONDS compared against ``ts`` cast to long —
    an instant comparison that is timezone-portable and pushed down to
    the parquet scan.
    """
    w = Window.partitionBy(entity).orderBy(
        F.col(ts).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        log.where(F.col(ts).cast("long") <= F.lit(asof_epoch_s))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def state_rollforward(
    log: DataFrame,
    fields: Sequence[str],
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Forward-fill: at each log row, the most recent non-null value of
    each tracked field.  This is the declarative form of the
    reference's running current-state object that each activity row
    mutates (parse_bug_history.py:111 processRow merging rows into
    ``currBugState``).
    """
    w = (
        _ordered_window(entity, ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cols = [F.last(f, ignorenulls=True).over(w).alias(f"last_{f}") for f in fields]
    return log.select("*", *cols)


def state_rollforward_paned(
    log: DataFrame,
    fields: Sequence[str],
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
    width_s: int = 3600,
) -> DataFrame:
    """``state_rollforward`` whose plan SPLITS a hot key: the
    classic form is one unbounded-preceding window per entity, so a
    30%-hot key serializes one task (measured 1.4-1.8x at a
    replicated decade, SKEW_SWEEP_r11; at 100 TB a bot user IS the
    job).  An unbounded carry is a prefix scan, and a prefix scan
    decomposes two-level:

    1. pane id = epoch_us(ts) div width; the in-pane carry runs per
       (entity, pane) — the hot key splits across its panes;
    2. each pane folds to ONE summary row (the ordered-last non-null
       value per field: a struct-max aggregate, map-side combined);
    3. the sequential pass runs per entity over the SUMMARY table
       only — panes-per-entity rows, corpus-size/thousands — giving
       each pane the carry entering it;
    4. final = coalesce(in-pane carry, pane prefix), joined back on
       the same (entity, pane) key the window already exchanged.

    Value-EXACT vs the single-partition form: the carry at a row is
    the last non-null at-or-before it, and every candidate is either
    in-pane (level 1) or in an earlier pane (level 3).  Unlike the
    RANGE-frame pane trick (moving_average_ranged) this needs no
    ghost replication — the prefix is an aggregate, not a frame —
    so the corpus crosses the wire once, not twice."""
    us = F.unix_micros(F.col(ts))
    width_us = width_s * 1_000_000
    base = log.withColumn(
        "_pane", F.floor(us / F.lit(width_us)).cast("long")
    )
    order_key = F.struct(
        F.col(ts), *[F.col(t) for t in tiebreak]
    )
    summ = base.groupBy(entity, "_pane").agg(
        *[
            F.max(
                F.when(
                    F.col(f).isNotNull(),
                    F.struct(
                        order_key.alias("k"), F.col(f).alias("v")
                    ),
                )
            ).alias(f"_last_{f}")
            for f in fields
        ]
    )
    w_pref = (
        Window.partitionBy(entity)
        .orderBy("_pane")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = summ.select(
        entity,
        "_pane",
        *[
            F.last(F.col(f"_last_{f}.v"), ignorenulls=True)
            .over(w_pref)
            .alias(f"_pref_{f}")
            for f in fields
        ],
    )
    joined = base.join(pref, on=[entity, "_pane"], how="left")
    w_in = (
        Window.partitionBy(entity, "_pane")
        .orderBy(F.col(ts), *[F.col(t) for t in tiebreak])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = [
        F.coalesce(
            F.last(f, ignorenulls=True).over(w_in),
            F.col(f"_pref_{f}"),
        ).alias(f"last_{f}")
        for f in fields
    ]
    return joined.select(*log.columns, *out_cols)


def set_accumulate(
    log: DataFrame,
    value_col: str,
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Running set of values seen per entity — the multi-value-field
    reconstruction (cc lists, keywords) of
    parse_bug_history.py:816 addValues / :848 removeValues, expressed
    as a cumulative window ``collect_set`` (sorted for determinism).
    """
    w = (
        _ordered_window(entity, ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return log.select(
        "*", F.sort_array(F.collect_set(value_col).over(w)).alias("acc_set")
    )


def set_final(
    log: DataFrame,
    value_col: str,
    entity: str = "user_id",
) -> DataFrame:
    """Final sorted multi-value per entity (normalize() keeps
    MULTI_FIELDS sorted — transform_bugzilla.py:99-102).  Partial
    aggregation (ObjectHashAggregate) combines map-side, so the
    shuffle carries per-entity partial sets, not raw rows.
    n_distinct derives from the collected set — a countDistinct
    would add an Expand + second exchange for a number we already
    hold."""
    return log.groupBy(entity).agg(
        F.sort_array(F.collect_set(value_col)).alias("final_set"),
    ).withColumn("n_distinct", F.size("final_set").cast("long"))


def set_final_salted(
    log: DataFrame,
    value_col: str,
    entity: str = "user_id",
    n_salts: int = 8,
) -> DataFrame:
    """``set_final`` with two-phase salted aggregation — the hot-key
    mitigation when one entity owns a pathological share of rows (one
    bug with millions of changes): phase 1 aggregates by
    (entity, salt) spreading the hot key over n_salts reducers, phase
    2 merges the n_salts partial sets per entity.  Identical result,
    same oracle; the salt is a deterministic hash of the tiebreak
    column so re-runs place rows identically."""
    salt = (hash64(F.col(value_col)) % n_salts).alias("_salt")
    partial = (
        log.select(entity, value_col, salt)
        .groupBy(entity, "_salt")
        .agg(F.collect_set(value_col).alias("_part"))
    )
    return (
        partial.groupBy(entity)
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("_part")))
            ).alias("final_set"),
        )
        .withColumn("n_distinct", F.size("final_set").cast("long"))
    )


def dedup_latest(
    log: DataFrame,
    entity: str | Sequence[str] = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Exactly one current row per entity — what ES doc overwrite by
    ``_id`` achieves in the reference's sink.  row_number (not
    dropDuplicates) so the survivor is deterministic.  Also the final
    emission per key of an update-mode stream, with ``ts`` a column
    that grows with every update (a count)."""
    keys = [entity] if isinstance(entity, str) else list(entity)
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_order_union(
    current: DataFrame,
    activity: DataFrame,
    entity: str,
    ts: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """The reference merges current-state rows (_merge_order=1) with
    activity rows (_merge_order=2+) and processes them per bug in
    (_merge_order asc, modified_ts desc) order (bz_etl.py:105-111).
    Declaratively: unionByName with a source tag + one rank window.
    """
    cur = current.withColumn("_merge_order", F.lit(1))
    act = activity.withColumn("_merge_order", F.lit(2))
    merged = cur.unionByName(act, allowMissingColumns=True)
    w = Window.partitionBy(entity).orderBy(
        F.col("_merge_order").asc(),
        F.col(ts).desc(),
        *[F.col(c).desc() for c in tiebreak],
    )
    return merged.withColumn("replay_seq", F.row_number().over(w))


def activity_invert(
    log: DataFrame,
    value_col: str = "value",
    entity: str = "user_id",
    ts: str = "ts",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Reverse-replay chain: for each change, the value it replaced and
    the value that replaced it.  The reference walks activities
    backwards applying the ``removed`` column to roll state back
    (parse_bug_history.py:307 processBugsActivitiesTableItem); with
    the full log, prev/next are just lag/lead on one window."""
    w = _ordered_window(entity, ts, tiebreak)
    return log.select(
        "*",
        F.lag(value_col).over(w).alias("removed"),
        F.lead(value_col).over(w).alias("superseded_by"),
    )


def previous_values(
    log: DataFrame,
    fields: Sequence[str],
    entity: str = "user_id",
    ts: str = "ts",
    field_col: str = "event_type",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Per-field previous-value tracking carried on every version —
    the reference's ``previous_values`` struct (parse_bug_history.py:783
    ``setPrevious``, called from :599 on every real single-value field
    change, consumed at :519 by carrying ``currBugState`` forward).

    For each version (log row) and each tracked field, the output
    carries the field's most recent REAL change at or before that
    version:

    * ``{f}_prev_value``     — the value the field held before it
    * ``{f}_change_to_l``    — when the field took that previous value
      (the change-before-last's ts; entity creation ts for the field's
      first change — setPrevious's caField->ctField chain)
    * ``{f}_change_away_l``  — when the field changed away (the ts of
      the change itself)
    * ``{f}_duration_days``  — floor days the previous value was held

    A change entry whose new value equals the field's prior value is
    skipped, mirroring :528 (old==new entries are nulled) and the :599
    ``!=`` guard — it neither emits nor disturbs the carried struct.

    Plan: ONE shuffle on the entity key; everything else is stacked
    WindowExecs over the same (entity x (ts, tiebreak)) sort —
    prior-value lookback, real-change detection, previous-change-ts
    lookback, and the carry are all frames of that one window.  No
    per-field shuffle, no self-join, no explode; at 100 TB this costs
    exactly what snapshot_versions costs plus O(len(fields)) column
    work per row.  NULL field values cannot be distinguished from
    "field never changed" by the ignore-nulls carry — the reference
    has the same blind spot (a None in previous_values's dict)."""
    tsl = F.col(ts).cast("long")
    wp = _ordered_window(entity, "_tsl", tiebreak)
    wprev = wp.rowsBetween(Window.unboundedPreceding, -1)
    wcur = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    base = log.select(
        entity, *tiebreak, F.col(field_col).alias("_f"),
        F.col(value_col).alias("_v"), tsl.alias("_tsl"),
    )
    # pass 1: per field, last value/ts of that field strictly before
    # this row, plus the entity creation ts (first row of the window)
    s1 = base.select(
        "*",
        F.first("_tsl").over(wcur).alias("_created_l"),
        *[
            F.last(F.when(F.col("_f") == f, F.col("_v")), ignorenulls=True)
            .over(wprev)
            .alias(f"_prior_{f}")
            for f in fields
        ],
    )
    # pass 2 (no window): is this row a REAL change of field f?
    s2 = s1.select(
        "*",
        *[
            (
                (F.col("_f") == f)
                & ~F.col("_v").eqNullSafe(F.col(f"_prior_{f}"))
            ).alias(f"_chg_{f}")
            for f in fields
        ],
    )
    # pass 3: ts of the previous REAL change of f (setPrevious's
    # caField -> ctField hand-off)
    s3 = s2.select(
        "*",
        *[
            F.last(F.when(F.col(f"_chg_{f}"), F.col("_tsl")), ignorenulls=True)
            .over(wprev)
            .alias(f"_pcts_{f}")
            for f in fields
        ],
    )
    # pass 4 (no window): the pv record emitted AT a change row
    def _pv(f: str) -> Column:
        ct = F.coalesce(F.col(f"_pcts_{f}"), F.col("_created_l"))
        return F.when(
            F.col(f"_chg_{f}"),
            F.struct(
                F.col(f"_prior_{f}").alias("pv"),
                ct.alias("ct"),
                F.col("_tsl").alias("ca"),
                F.floor((F.col("_tsl") - ct) / F.lit(86400.0))
                .cast("long")
                .alias("dd"),
            ),
        )

    s4 = s3.select("*", *[_pv(f).alias(f"_pv_{f}") for f in fields])
    # pass 5: carry the latest record per field onto every version
    s5 = s4.select(
        entity, *tiebreak, F.col("_tsl").alias("version_tsl"),
        *[
            F.last(f"_pv_{f}", ignorenulls=True).over(wcur).alias(f"_c_{f}")
            for f in fields
        ],
    )
    return s5.select(
        entity, *tiebreak, "version_tsl",
        *[
            c
            for f in fields
            for c in (
                F.col(f"_c_{f}.pv").alias(f"{f}_prev_value"),
                F.col(f"_c_{f}.ct").alias(f"{f}_change_to_l"),
                F.col(f"_c_{f}.ca").alias(f"{f}_change_away_l"),
                F.col(f"_c_{f}.dd").alias(f"{f}_duration_days"),
            )
        ],
    )


def previous_values_paned(
    log: DataFrame,
    fields: Sequence[str],
    entity: str = "user_id",
    ts: str = "ts",
    field_col: str = "event_type",
    value_col: str = "value",
    tiebreak: Sequence[str] = ("event_id",),
    width_s: int = 3600,
) -> DataFrame:
    """``previous_values`` whose plan SPLITS a hot key — the last
    class-2 batch entry from the SKEW_SWEEP_r11 straggler taxonomy.
    The classic form stacks its five carries as frames of ONE
    per-entity ordered window, so a 30%-hot key serializes one task
    five carries deep.  Every one of those carries is a prefix scan,
    and each decomposes exactly like
    ``state_rollforward_paned`` (two-level: in-pane + pane-summary
    prefix).  The dependency chain forces THREE sequential
    summary rounds — ``_prior`` feeds the real-change flag, whose
    timestamps feed the emitted record, whose carry is the output —
    but every corpus-side window and groupBy keys on
    ``(entity, _pane)``, so the corpus crosses the wire ONCE and the
    sequential work runs over panes-per-entity summary rows only.

    Value-EXACT vs ``previous_values`` (same oracle): each carry's
    candidates are either in-pane (level 1) or in an earlier pane
    (level 3 prefix over summaries); ``coalesce`` picks the in-pane
    candidate first, which is always the later one.  Ties share a
    pane (pane id is a function of the same truncated ``_tsl`` the
    order key leads with), so cross-pane order respects
    ``(ts, tiebreak)``.

    reference: parse_bug_history.py:783 setPrevious — semantics
    identical to ``previous_values``; only the partitioning moved.
    """
    from bugzilla_etl_spark.tmpdirs import pin

    def _pin(frame: DataFrame) -> DataFrame:
        """Persist a round boundary for the invocation.  Each of the
        three sequential rounds is referenced TWICE downstream (once
        by its pane summary, once as the join's corpus side), and
        ``base`` three times; without pinning, Spark's plan tree
        duplicates the whole upstream subtree per reference — the
        unpinned plan holds 20 parquet scans and 52 exchanges for
        what is logically one scan and a handful of shuffles.
        MEMORY_AND_DISK (never recompute-on-evict-to-nothing),
        nonce-guarded against cross-invocation CacheManager plan
        matching, and released via the tmpdirs cleanup registry at
        gc/exit, so nothing outlives the invocation."""
        return pin(frame)

    tsl = F.col(ts).cast("long")
    base = _pin(
        log.select(
            entity,
            *tiebreak,
            F.col(field_col).alias("_f"),
            F.col(value_col).alias("_v"),
            tsl.alias("_tsl"),
        ).withColumn("_pane", F.floor(F.col("_tsl") / F.lit(width_s)))
    )

    okey = F.struct(F.col("_tsl"), *[F.col(t) for t in tiebreak])
    w_in = (
        Window.partitionBy(entity, "_pane")
        .orderBy("_tsl", *tiebreak)
    )
    w_in_prev = w_in.rowsBetween(Window.unboundedPreceding, -1)
    w_in_cur = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def _pane_prefix(
        summarized: DataFrame, names: Sequence[str], out_prefix: str
    ) -> DataFrame:
        """Exclusive last-non-null prefix over pane summaries —
        the tiny sequential pass (panes-per-entity rows)."""
        w_pref = (
            Window.partitionBy(entity)
            .orderBy("_pane")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return summarized.select(
            entity,
            "_pane",
            *[
                F.last(F.col(f"{n}.v"), ignorenulls=True)
                .over(w_pref)
                .alias(f"{out_prefix}{n[3:]}")
                for n in names
            ],
        )

    # ---- round 1: per-field prior value (exclusive carry) ---------
    summ1 = base.groupBy(entity, "_pane").agg(
        *[
            F.max(
                F.when(
                    (F.col("_f") == f) & F.col("_v").isNotNull(),
                    F.struct(okey.alias("k"), F.col("_v").alias("v")),
                )
            ).alias(f"_s1{f}")
            for f in fields
        ]
    )
    pref1 = _pane_prefix(summ1, [f"_s1{f}" for f in fields], "_pp1")
    s1 = base.join(pref1, on=[entity, "_pane"], how="left").select(
        "*",
        *[
            F.coalesce(
                F.last(
                    F.when(F.col("_f") == f, F.col("_v")),
                    ignorenulls=True,
                ).over(w_in_prev),
                F.col(f"_pp1{f}"),
            ).alias(f"_prior_{f}")
            for f in fields
        ],
    )
    # entity creation ts: first (ts, tiebreak) row per entity — the
    # classic's first() over the inclusive frame equals the global
    # per-entity minimum on every row, so one tiny agg + join
    # replaces the window.  NO broadcast hint: the aggregate's row
    # count scales with distinct entities (unbounded at 100 TB), and
    # the join key is the same entity key the surrounding windows
    # already partition by, so the shuffle is co-located anyway; AQE
    # still picks a broadcast at runtime when the side is actually
    # small (round-11 advice).
    created = base.groupBy(entity).agg(
        F.min(okey).getField("_tsl").alias("_created_l")
    )
    s1 = s1.join(created, on=entity, how="left")

    # ---- round 2: real-change flags, previous-change ts -----------
    # pinned: consumed by BOTH summ2 and the round-2 join below
    s2 = _pin(
        s1.select(
            "*",
            *[
                (
                    (F.col("_f") == f)
                    & ~F.col("_v").eqNullSafe(F.col(f"_prior_{f}"))
                ).alias(f"_chg_{f}")
                for f in fields
            ],
        )
    )
    summ2 = s2.groupBy(entity, "_pane").agg(
        *[
            F.max(
                F.when(
                    F.col(f"_chg_{f}") & F.col("_tsl").isNotNull(),
                    F.struct(okey.alias("k"), F.col("_tsl").alias("v")),
                )
            ).alias(f"_s2{f}")
            for f in fields
        ]
    )
    pref2 = _pane_prefix(summ2, [f"_s2{f}" for f in fields], "_pp2")
    s3 = s2.join(pref2, on=[entity, "_pane"], how="left").select(
        "*",
        *[
            F.coalesce(
                F.last(
                    F.when(F.col(f"_chg_{f}"), F.col("_tsl")),
                    ignorenulls=True,
                ).over(w_in_prev),
                F.col(f"_pp2{f}"),
            ).alias(f"_pcts_{f}")
            for f in fields
        ],
    )

    # ---- round 3: emitted record at change rows, inclusive carry --
    def _pv(f: str) -> Column:
        ct = F.coalesce(F.col(f"_pcts_{f}"), F.col("_created_l"))
        return F.when(
            F.col(f"_chg_{f}"),
            F.struct(
                F.col(f"_prior_{f}").alias("pv"),
                ct.alias("ct"),
                F.col("_tsl").alias("ca"),
                F.floor((F.col("_tsl") - ct) / F.lit(86400.0))
                .cast("long")
                .alias("dd"),
            ),
        )

    # pinned: consumed by BOTH summ3 and the round-3 join below
    s4 = _pin(
        s3.select("*", *[_pv(f).alias(f"_pv_{f}") for f in fields])
    )
    summ3 = s4.groupBy(entity, "_pane").agg(
        *[
            F.max(
                F.when(
                    F.col(f"_pv_{f}").isNotNull(),
                    F.struct(okey.alias("k"), F.col(f"_pv_{f}").alias("v")),
                )
            ).alias(f"_s3{f}")
            for f in fields
        ]
    )
    pref3 = _pane_prefix(summ3, [f"_s3{f}" for f in fields], "_pp3")
    s5 = s4.join(pref3, on=[entity, "_pane"], how="left").select(
        entity,
        *tiebreak,
        F.col("_tsl").alias("version_tsl"),
        *[
            F.coalesce(
                F.last(f"_pv_{f}", ignorenulls=True).over(w_in_cur),
                F.col(f"_pp3{f}"),
            ).alias(f"_c_{f}")
            for f in fields
        ],
    )
    return s5.select(
        entity,
        *tiebreak,
        "version_tsl",
        *[
            c
            for f in fields
            for c in (
                F.col(f"_c_{f}.pv").alias(f"{f}_prev_value"),
                F.col(f"_c_{f}.ct").alias(f"{f}_change_to_l"),
                F.col(f"_c_{f}.ca").alias(f"{f}_change_away_l"),
                F.col(f"_c_{f}.dd").alias(f"{f}_duration_days"),
            )
        ],
    )


def incremental_touched(
    log: DataFrame,
    since_epoch_s: int,
    entity: str = "user_id",
    ts: str = "ts",
    broadcast_touched: bool = True,
) -> DataFrame:
    """Incremental ETL semantics (bz_etl.py:172 incremental_etl): any
    entity with at least one change after the watermark is re-built
    IN FULL — so: semi-join the log against the touched-entity set.

    Scale: the touched set is usually tiny relative to history, so we
    hint the broadcast; set ``broadcast_touched=False`` after a long
    outage (huge touched set) and let AQE pick the strategy from the
    runtime size instead.
    """
    touched = (
        log.where(F.col(ts).cast("long") >= F.lit(since_epoch_s))
        .select(entity)
        .distinct()
    )
    if broadcast_touched:
        touched = F.broadcast(touched)
    return log.join(touched, on=entity, how="left_semi")


def replicate_pending(source: DataFrame, dest: DataFrame, ts: str = "ts") -> DataFrame:
    """ES->ES replication picks rows modified since the destination's
    max timestamp (replicate.py:68 get_last_updated, :97 get_pending).
    Expressed as a cross-join against a 1-row aggregate (broadcast
    nested loop over a single row — no shuffle of the big side)."""
    last = dest.agg(F.max(F.col(ts).cast("long")).alias("_last_ts"))
    return (
        source.crossJoin(F.broadcast(last))
        .where(
            F.col("_last_ts").isNull() | (F.col(ts).cast("long") > F.col("_last_ts"))
        )
        .drop("_last_ts")
    )
