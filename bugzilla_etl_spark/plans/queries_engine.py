"""General engine-surface queries: pivot/unpivot, multi-level
aggregation (ROLLUP), exact percentiles, moving windows, outer joins,
and the composite end-to-end ETL pipeline (the flagship).

These are the "could a reference user run their whole workload here"
operators — every one oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bugzilla_etl_spark.functions.hashing import duckdb_hash64
from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.tmpdirs import pin, tracked_mkdtemp

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    oracle=f"""
    SELECT user_id,
           {", ".join(f"(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END))::BIGINT AS n_{t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow rows -> wide per-category columns, the tracking-flags
    pivot (extract_bugzilla.py:487 get_tracking_flags emits cf_*
    columns from narrow storage).  Explicit value list keeps the
    schema static — a dynamic pivot would need a driver-side distinct
    pass first."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"n_{t}")
            for t in EVENT_TYPES
        ]
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(value, 4) AS value
    FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide measures -> narrow (melt) via stack() — single scan, no
    self-union (the UNION ALL oracle scans three times; stack is the
    plan you want at 100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, "
            "'extendedprice', l_extendedprice, "
            "'discount', l_discount) AS (measure, value)"
        ),
    ).select(
        "l_orderkey", "l_linenumber", "measure",
        F.round("value", 4).alias("value"),
    )


@register(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation in one pass (ROLLUP expands to
    grouping-set partials, not three scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 4) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one pass (grouping-set
    expansion over the same partial aggregation, not 4 scans)."""
    od = load_table(spark, sf_dir, "orders")
    return od.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(min(value), 4) AS vmin,
           round(max(value), 4) AS vmax
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`).  At 100 TB swap in approx_percentile and
    accept the documented error bound — the exact form is the oracle
    for that accuracy test."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


@register(
    "moving_average",
    oracle="""
    SELECT user_id, event_id, ts,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS ma4
    FROM events
    """,
)
def moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded moving window per entity — same single entity shuffle
    as every temporal operator."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "user_id", "event_id", "ts",
        F.round(F.avg("value").over(w), 4).alias("ma4"),
    )


@register(
    "moving_average_ranged",
    oracle="""
    SELECT user_id, event_id, ts,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
               4) AS ma_1h
    FROM events
    """,
)
def moving_average_ranged(
    spark: SparkSession,
    sf_dir: str,
    width_s: int = 3600,
) -> DataFrame:
    """Trailing-hour moving average per entity, computed so that a
    HOT KEY no longer serializes one task: the skew sweep measured
    the classic ``Window.partitionBy(user_id)`` forms at 1.4-1.8x
    under a 30%-hot key at a replicated decade (SKEW_SWEEP_r11), and
    at 100 TB a bot user with 10^8 events makes that one task the
    whole job.  Row-count frames (``moving_average``'s ROWS 3
    PRECEDING) cannot split — a sparse key's frame reaches arbitrarily
    far back in time — but a TIME-RANGE frame decomposes exactly:

    - pane id = epoch_us div frame_width; a row's frame
      ``[t - W, t]`` can only touch its own pane and the one before
      (t in [pW, (p+1)W) implies t - W >= (p-1)W);
    - every row is replicated ONCE into the next pane as a
      contributor-only GHOST, so partition (user, pane) holds the
      complete candidate set for each of its own rows;
    - the identical RANGE frame runs per (user, pane) — the hot key
      now splits across as many tasks as it spans panes — and ghost
      rows' outputs are discarded.

    Value-EXACT vs the single-partition form (the frame SET is
    identical; only the partitioning moved): the oracle is the plain
    per-user RANGE window.  Cost: 2x rows through one exchange keyed
    (user_id, pane) — the shuffle a splittable plan buys vs the
    straggler it retires.  Ordering key is integer epoch-µs on both
    engines, so frame bounds agree exactly."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    width_us = width_s * 1_000_000
    us = F.unix_micros("ts")  # == DuckDB epoch_us bit-for-bit
    base = ev.select(
        "user_id", "event_id", "ts", "value",
        us.alias("us"),
        F.floor(us / width_us).cast("long").alias("pane"),
        F.lit(False).alias("ghost"),
    )
    ghosts = base.select(
        "user_id", "event_id", "ts", "value", "us",
        (F.col("pane") + 1).alias("pane"),
        F.lit(True).alias("ghost"),
    )
    w = (
        Window.partitionBy("user_id", "pane")
        .orderBy("us")
        .rangeBetween(-width_us, 0)
    )
    return (
        base.unionByName(ghosts)
        .select(
            "user_id", "event_id", "ts", "ghost",
            F.round(F.avg("value").over(w), 4).alias("ma_1h"),
        )
        .where(~F.col("ghost"))
        .drop("ghost")
    )


@register(
    "orders_fulfillment",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           coalesce(l.n_lines, 0) AS n_lines,
           round(coalesce(l.revenue, 0), 4) AS revenue
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey, count(*) AS n_lines,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem GROUP BY l_orderkey
    ) l ON o.o_orderkey = l.l_orderkey
    """,
)
def orders_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer join with aggregate-before-join: the child table is
    collapsed to one row per key BEFORE joining, so the join input is
    orders-sized, not lineitem-sized."""
    od = load_table(spark, sf_dir, "orders")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "_rev"
            ),
        )
    )
    return od.join(li, od.o_orderkey == li.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.round(F.coalesce("_rev", F.lit(0)), 4).alias("revenue"),
    )


@register(
    "docs_json_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           round(value, 4) AS value
    FROM events
    """,
)
def docs_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document serialization round-trip: rows -> to_json (the ES doc
    body) -> from_json with explicit schema -> typed columns again.
    This is the replicate.py:46 extract_from_file read path (docs come
    back from files as JSON).  The oracle checks the round-trip is
    lossless by comparing against the source rows directly."""
    from bugzilla_etl_spark.sources import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    doc = ev.select(
        "event_id",
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("doc"),
    )
    parsed = doc.select(
        F.from_json(
            "doc",
            "event_id long, user_id long, event_type string, value double",
        ).alias("p")
    )
    return parsed.select(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.event_type").alias("event_type"),
        F.round("p.value", 4).alias("value"),
    )


@register(
    "rolling_distinct_users",
    oracle="""
    SELECT event_id, event_type, ts,
           len(list_distinct(list(user_id) OVER (
               PARTITION BY event_type ORDER BY floor(epoch(ts))::BIGINT
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ))) AS active_users_1h
    FROM events
    """,
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour distinct actors per event type — a RANGE-frame
    window on epoch seconds (time-based frames need a numeric
    ordering key; both engines then agree on frame bounds exactly).
    collect_set over the range frame; countDistinct is not a window
    function in Spark."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id", "event_type", "ts",
        F.size(F.collect_set("user_id").over(w)).cast("long").alias(
            "active_users_1h"
        ),
    )


@register(
    "bug_version_docs",
    oracle="""
    WITH versioned AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER w AS version,
               lead(ts) OVER w AS expires_on,
               last(CASE WHEN event_type = 'purchase' THEN value END
                    IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_purchase_value,
               list_sort(list(DISTINCT event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS seen_types
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CAST(user_id AS VARCHAR) || '_' ||
               CAST(floor(epoch(ts))::BIGINT AS VARCHAR) AS _id,
           user_id, version,
           floor(epoch(ts))::BIGINT AS modified_ts,
           floor(epoch(expires_on))::BIGINT AS expires_on,
           event_type, value, last_purchase_value,
           -- all-null seen set renders '' (array_to_string of an
           -- all-null list is NULL; Spark's collect_set drops nulls)
           coalesce(array_to_string(seen_types, '|'), '') AS seen_types
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, floor(epoch(ts))::BIGINT
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM versioned
    ) WHERE rn = 1
    """,
)
def bug_version_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end pipeline: change log -> versioned snapshots with
    interval bounds, rolled-forward state, accumulated multi-value
    sets -> one ES doc per (entity, second) with the reference's doc
    id.  Composes snapshot_versions + state_rollforward +
    set_accumulate + es_docs in a single plan: ONE entity shuffle
    feeds all four windows, then the per-second dedup window reuses
    the same partitioning.  reference: the whole of
    parse_bug_history.py + transform_bugzilla.py normalize()."""
    from bugzilla_etl_spark.operators import snapshot as S

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = ev.select(
        "user_id", "event_id", "ts", "event_type", "value",
        F.row_number().over(w).alias("version"),
        F.lead("ts").over(w).alias("expires_on"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(wcum).alias("last_purchase_value"),
        F.sort_array(F.collect_set("event_type").over(wcum)).alias(
            "seen_types"
        ),
    )
    # per-second doc dedup WITHOUT a second exchange: the main window
    # already orders (user_id, ts, event_id), so "last row of its
    # second" is just lead(second) differing — Catalyst reuses the
    # existing partitioning for this lead instead of re-shuffling on
    # (user_id, second).
    sec = F.col("ts").cast("long")
    docs = versioned.withColumn("_next_sec", F.lead(sec).over(w)).where(
        F.col("_next_sec").isNull() | (F.col("_next_sec") != sec)
    )
    from bugzilla_etl_spark.operators.normalize import doc_id

    # instants as epoch longs + '|'-joined set: scalar, hash-portable
    # output (parity rules: README "Correctness model")
    return docs.select(
        doc_id("user_id", "ts").alias("_id"),
        "user_id",
        "version",
        F.col("ts").cast("long").alias("modified_ts"),
        F.col("expires_on").cast("long").alias("expires_on"),
        "event_type",
        "value",
        "last_purchase_value",
        F.concat_ws("|", "seen_types").alias("seen_types"),
    )


@register(
    "range_window_load",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(sum(value) OVER w, 4) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def range_window_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frames (not row frames): per event, that
    user's event count and value sum over the TRAILING HOUR — the
    rate-limit / burst-detection shape.  RANGE frames differ from
    ROWS at ties and gaps: all peer rows at the same instant join the
    frame, and the hour bound is by VALUE, so sparse users get small
    frames no matter how many rows precede.  One shuffle (user_id);
    the frame is evaluated over the same sort the window already
    needs.  Ordering key is integer epoch-µs on both engines, so
    frame membership can never diverge on float rounding."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


# Portable HyperLogLog constants: p=10 -> m=1024 registers over the
# 60-bit md5-derived hash (top 10 bits = register, low 50 = rank
# field).  ALL register math is integer (rank via length(bin(rest)),
# harmonic sum as Σ 2^(51-M[b]) scaled by 2^51 — max 1024·2^51 = 2^61,
# exact in int64/HUGEINT on both engines), so the sketch is
# BIT-IDENTICAL across engines and the estimate — one double division
# from identical integers + identical literals — hash-matches at the
# gate.  Spark's approx_count_distinct could not be oracled (DuckDB's
# sketch differs); this one can, and the same determinism means
# incremental re-runs merge registers consistently at 100 TB.
_HLL_M = 1024
_HLL_2P50 = 1 << 50
_HLL_2P51 = 1 << 51
# alpha_m * m^2 * 2^51 — computed once in Python, inlined as the SAME
# literal on both engines (repr round-trips the double exactly)
_HLL_NUM = 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 * float(1 << 51)

_HLL_H = "(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT::BIGINT)"


def hll_registers(
    df: DataFrame, key: str, val: str
) -> DataFrame:
    """(key, b, m) HLL register rows over an arbitrary (group key,
    string value) frame — the mergeable state: registers from any
    split of the data MAX-merge to the full-data registers
    (property-tested), which is what stream_hll folds per
    micro-batch and profile_table's hll NDV mode reuses per
    column."""
    from bugzilla_etl_spark.functions.hashing import hash64

    h = hash64(F.concat(F.lit("hll:"), F.col(val).cast("string")))
    t2 = df.select(F.col(key).alias("_k"), h.alias("h")).select(
        "_k",
        F.expr(f"h div {_HLL_2P50}").alias("b"),
        (F.col("h") % _HLL_2P50).alias("rest"),
    )
    t3 = t2.select(
        "_k",
        "b",
        F.when(F.col("rest") == 0, F.lit(51))
        .otherwise(F.lit(51) - F.length(F.bin("rest")))
        .cast("int")
        .alias("r"),
    )
    return (
        t3.groupBy("_k", "b")
        .agg(F.max("r").alias("m"))
        .withColumnRenamed("_k", key)
    )


def hll_register_frame(ev: DataFrame) -> DataFrame:
    """(event_type, b, m) registers for the events frame — the
    hll_distinct / stream_hll instantiation of hll_registers."""
    return hll_registers(ev, key="event_type", val="user_id")


def hll_estimate(regs: DataFrame, key: str = "event_type") -> DataFrame:
    """(key, est) from register rows — the integer-exact harmonic
    fold plus the small-range linear-counting branch (see the
    constants block)."""
    agg = regs.groupBy(key).agg(
        F.sum(
            F.expr("shiftleft(cast(1 as bigint), 51 - m)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    s = (
        F.col("s_present")
        + (F.lit(1024) - F.col("n_present")) * F.lit(_HLL_2P51)
    ).cast("double")
    v = F.lit(1024) - F.col("n_present")
    raw = F.lit(_HLL_NUM) / s
    est = F.when(
        (raw <= 2560.0) & (v > 0),
        F.lit(1024.0) * F.log(F.lit(1024.0) / v),
    ).otherwise(raw)
    return agg.select(key, est.alias("est"))



@register(
    "hll_distinct",
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
           round(est, 4) AS hll_est,
           round(abs(est - n_exact) / n_exact, 4) AS rel_err
    FROM e3 JOIN ex USING (event_type)
    """,
)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type by a PORTABLE HyperLogLog sketch
    (Flajolet et al. 2007), alongside the exact count and relative
    error.  See the constants block: every register operation is
    integer, so unlike approx_count_distinct the sketch itself is
    oracle-checkable — and mergeable across engines/runs, which is
    what a 100 TB incremental pipeline needs from a sketch (today's
    registers max-merge with yesterday's; the estimate is one
    O(m) fold over 1024 longs per group).  Plan: two map-side-
    combined aggregations (rows -> registers -> per-group fold) —
    the shuffle after the first agg carries at most m rows per
    group, no matter the corpus."""
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        hll_estimate(hll_register_frame(ev))
        .join(ex, on="event_type")
        .select(
            "event_type",
            "n_exact",
            F.round("est", 4).alias("hll_est"),
            F.round(
                F.abs(F.col("est") - F.col("n_exact"))
                / F.col("n_exact"),
                4,
            ).alias("rel_err"),
        )
    )


# Count-Min sketch (Cormode & Muthukrishnan 2005): d=4 seeded hash
# rows x w=1024 counters.  Like hll_distinct, every counter is an
# integer, so the sketch is bit-identical across engines and
# value-oracles at the gate; counters ADD across incremental runs
# (the merge property).  The guarantee under test: est >= true count
# always (one-sided error), est - true bounded by the collision mass.
_CMS_W = 1024
_CMS_D = 4


def _cms_duck_bucket(i: int, expr: str) -> str:
    from bugzilla_etl_spark.functions.hashing import duckdb_hash64

    return f"({duckdb_hash64(expr, seed=i)} % {_CMS_W})"


@register(
    "count_min_freq",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
            AS term
        FROM documents
    ),
    sketch AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS i, {_cms_duck_bucket(i, 'term')} AS b, "
            "count(*) AS c FROM toks GROUP BY 2"
            for i in range(_CMS_D)
        )}
    ),
    exact AS (
        SELECT term, count(*) AS n_true FROM toks GROUP BY term
        ORDER BY n_true DESC, term ASC LIMIT 20
    ),
    probes AS (
        SELECT term, n_true, i,
               CASE i {" ".join(
                   f"WHEN {i} THEN {_cms_duck_bucket(i, 'term')}"
                   for i in range(_CMS_D)
               )} END AS b
        FROM exact, (SELECT unnest(range(0, {_CMS_D})) AS i) g
    )
    SELECT term, CAST(n_true AS BIGINT) AS n_true,
           CAST(min(c) AS BIGINT) AS cms_est,
           CAST(min(c) - n_true AS BIGINT) AS overcount
    FROM probes JOIN sketch USING (i, b)
    GROUP BY term, n_true
    """,
)
def count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the exact top-20 tokens,
    with the one-sided error surfaced (overcount = est − true ≥ 0
    by construction — the sketch guarantee the unit test pins).

    Scale shape: the sketch build is one explode + map-side-combined
    aggregation — each partition collapses to ≤ d·w = 4096 counter
    rows before the shuffle no matter the corpus, and the d bucket
    hashes are computed in the same projection (no d-way re-scan).
    The probe side is 20 rows × d.  At 100 TB the sketch answers
    point-frequency queries a full GROUP BY would need a corpus
    shuffle for; counters ADD across incremental batches."""
    from bugzilla_etl_spark.functions.hashing import hash64_seeded
    from bugzilla_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens("text")).alias("term")
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (hash64_seeded(F.col("term"), i) % _CMS_W).alias("b"),
            )
            for i in range(_CMS_D)
        ]
    )
    sketch = (
        toks.select(F.explode(rows).alias("p"))
        .select("p.i", "p.b")
        .groupBy("i", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .orderBy(F.col("n_true").desc(), F.col("term").asc())
        .limit(20)
    )
    probes = exact.select(
        "term", "n_true", F.explode(rows).alias("p")
    ).select("term", "n_true", "p.i", "p.b")
    return (
        probes.join(sketch, on=["i", "b"])
        .groupBy("term", "n_true")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term",
            "n_true",
            "cms_est",
            (F.col("cms_est") - F.col("n_true")).alias("overcount"),
        )
    )


@register(
    "hist_quantile",
    oracle="""
    WITH h AS (
        SELECT event_type,
               CAST(least(floor(value), 511) AS BIGINT) AS bin,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, bin, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM h
    ),
    p50 AS (
        SELECT event_type, min(bin) + 0.5 AS p50_est
        FROM t WHERE cum >= ceil(0.5 * n) GROUP BY 1
    ),
    p95 AS (
        SELECT event_type, min(bin) + 0.5 AS p95_est
        FROM t WHERE cum >= ceil(0.95 * n) GROUP BY 1
    ),
    ex AS (
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50_true,
               round(quantile_cont(value, 0.95), 4) AS p95_true
        FROM events GROUP BY 1
    )
    SELECT ex.event_type, p50_true, p50_est,
           round(abs(p50_est - p50_true), 4) AS p50_err,
           p95_true, p95_est,
           round(abs(p95_est - p95_true), 4) AS p95_err
    FROM ex JOIN p50 USING (event_type) JOIN p95 USING (event_type)
    """,
)
def hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a fixed-grid histogram sketch (512 unit-width
    bins), beside the exact answers and the realized error — the
    fourth sketch: like HLL/CMS/Bloom, the bins are integers, so the
    sketch value-oracles AND merges (bin counts ADD across
    incremental batches; the error bound — half a bin width each
    side — is a property of the GRID, unaffected by merging, which
    is what t-digest-style sketches give up).  Scale shape: one
    map-side-combined (type, bin) aggregation bounded at 512 rows
    per group per partition regardless of corpus size, then a
    ≤512-row window per group.  The exact side exists to surface the
    realized error; at 100 TB you run ONLY the sketch."""
    ev = load_table(spark, sf_dir, "events")
    b = F.least(F.floor("value"), F.lit(511)).cast("long")
    h = ev.groupBy(
        "event_type", b.alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = h.select(
        "event_type",
        "bin",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )

    # BOTH thresholds read off ONE evaluation of t (conditional min
    # inside a single aggregation) — a per-quantile filter+agg would
    # re-run the corpus aggregation and windows once per quantile
    def crossing(q: float):
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(q * F.col("n")), F.col("bin")
            )
        )

    ests = t.groupBy("event_type").agg(
        (crossing(0.5) + 0.5).alias("p50_est"),
        (crossing(0.95) + 0.5).alias("p95_est"),
    )
    ex = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_true"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_true"),
    )
    return (
        ex.join(ests, on="event_type")
        .select(
            "event_type",
            "p50_true",
            "p50_est",
            F.round(
                F.abs(F.col("p50_est") - F.col("p50_true")), 4
            ).alias("p50_err"),
            "p95_true",
            "p95_est",
            F.round(
                F.abs(F.col("p95_est") - F.col("p95_true")), 4
            ).alias("p95_err"),
        )
    )


# ---------------------------------------------------------------------------
# Round 7: physical-layout and robust-statistics engine surface
# ---------------------------------------------------------------------------

# 10-bit-per-dimension Morton (Z-order) interleave over MIN/MAX-
# SCALED coordinates.  Raw values interleave badly when ranges
# differ (a constant high bit in one dimension collapses every row
# into one bucket — measured on this very data), so both dimensions
# are first scaled to a 0..1023 integer grid via their global
# min/max (a 1-row broadcast aggregate).  Bit i of x lands at 2i, of
# y at 2i+1; the 20-bit key is exact in int64 on both engines.
_Z_SPARK = (
    "aggregate(sequence(0, 9), cast(0 as bigint), (acc, i) -> acc"
    " + shiftleft(shiftright(xk, i) & 1, 2 * i)"
    " + shiftleft(shiftright(yk, i) & 1, 2 * i + 1))"
)
_Z_DUCK = (
    "list_sum(list_transform(range(0, 10), i ->"
    " (((xk >> i) & 1) << (2 * i)) + (((yk >> i) & 1) << (2 * i + 1))))"
)


@register(
    "zorder_layout",
    oracle=f"""
    WITH raw AS (
        SELECT o_orderkey, o_custkey AS x,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS y
        FROM orders
    ),
    ext AS (
        SELECT min(x) AS xlo, max(x) AS xhi,
               min(y) AS ylo, max(y) AS yhi
        FROM raw
    ),
    keyed AS (
        SELECT o_orderkey,
               ((x - xlo) * 1023) // greatest(xhi - xlo, 1) AS xk,
               ((y - ylo) * 1023) // greatest(yhi - ylo, 1) AS yk
        FROM raw CROSS JOIN ext
    ),
    z AS (SELECT *, {_Z_DUCK} AS zkey FROM keyed)
    SELECT CAST(zkey // 8192 AS BIGINT) AS zbucket,
           count(*) AS n,
           min(xk) AS custkey_lo, max(xk) AS custkey_hi,
           min(yk) AS day_lo, max(yk) AS day_hi
    FROM z GROUP BY zbucket ORDER BY zbucket
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over (o_custkey, order day) and
    the per-bucket min/max ranges a file-skipping reader would prune
    on — the multi-dimensional clustering pass a 100 TB table gets
    before being written (Delta/Iceberg OPTIMIZE ZORDER BY): sorting
    by the interleaved key gives every file a narrow range in BOTH
    dimensions, so point/range predicates on EITHER column prune,
    where a lexicographic (custkey, day) sort only prunes the
    leading column.

    The interleave runs over MIN/MAX-SCALED coordinates: each
    dimension maps to a 0..1023 integer grid from its global
    min/max first.  This is load-bearing, not cosmetic — interleaving
    raw values put 100% of rows in ONE bucket here, because the day
    dimension's constant high bits dominated every interleaved
    position.  Min/max scaling fixes that collapse but NOT skew: a
    single outlier key would compress the real keys into a few grid
    cells, which is why production z-ordering uses rank/quantile
    normalization — the skew-robust upgrade behind this same
    interleave, at the cost of a sort to compute ranks.  All
    arithmetic is integer (scale, 20 bit ops folded with
    ``aggregate`` over ``sequence``, bucket div), so keys and
    buckets are bit-identical on any engine.

    Scale shape: one 1-row min/max aggregate broadcast back (the
    1-row crossJoin pattern), one map-only keying pass, one
    map-side-combined aggregation on the 128-bucket id.  The real
    write path is ``repartitionByRange(n, zkey).sortWithinPartitions
    (zkey).write`` — a single range-exchange, the same plan shape as
    any global sort."""
    od = load_table(spark, sf_dir, "orders")
    raw = od.select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) div 86400"
        ).alias("y"),
    )
    ext = raw.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    keyed = raw.crossJoin(F.broadcast(ext)).select(
        "o_orderkey",
        F.expr(
            "((x - xlo) * 1023) div greatest(xhi - xlo, 1)"
        ).alias("xk"),
        F.expr(
            "((y - ylo) * 1023) div greatest(yhi - ylo, 1)"
        ).alias("yk"),
    )
    z = keyed.withColumn("zkey", F.expr(_Z_SPARK))
    return (
        z.groupBy(F.expr("zkey div 8192").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xk").alias("custkey_lo"),
            F.max("xk").alias("custkey_hi"),
            F.min("yk").alias("day_lo"),
            F.max("yk").alias("day_hi"),
        )
        .orderBy("zbucket")
    )


@register(
    "anomaly_mad",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
        -- the screen is over OBSERVED values of ATTRIBUTABLE types:
        -- a null value is no measurement (it would shift every order
        -- statistic), a null type has no cohort to screen against
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    med AS (
        SELECT event_type, max(n) AS n,
               sum(CASE WHEN rn = (n + 1) // 2 THEN value END)
               + sum(CASE WHEN rn = (n + 2) // 2 THEN value END)
                   AS med2
        FROM ranked GROUP BY event_type
    ),
    dev AS (
        SELECT r.event_type, abs(2 * r.value - m.med2) AS d,
               row_number() OVER (
                   PARTITION BY r.event_type
                   ORDER BY abs(2 * r.value - m.med2), r.event_id
               ) AS rn,
               m.n, m.med2
        FROM ranked r JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, max(n) AS n, max(med2) AS med2,
               sum(CASE WHEN rn = (n + 1) // 2 THEN d END)
               + sum(CASE WHEN rn = (n + 2) // 2 THEN d END)
                   AS mad2
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, max(d.n) AS n,
           round(max(d.med2) / 2, 4) AS med,
           round(max(m.mad2) / 4, 4) AS mad,
           CAST(sum(CASE WHEN 2 * d.d > 3 * m.mad2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: median + MAD (median absolute
    deviation), flagging |value − median| > 3·MAD — the
    outlier-resistant quality gate (mean/stddev is itself dragged by
    the outliers it should catch).

    Exactness without quantization: medians are ORDER STATISTICS —
    to stay engine-identical with no interpolation arithmetic, the
    doubled median ``med2 = x[(n+1)//2] + x[(n+2)//2]`` (each index
    selects exactly one row_number) is carried instead of the
    median; deviations ``d = |2v - med2|`` are thus in DOUBLED
    units, so their own doubled order-statistic sum ``mad2`` is
    4x the MAD (reported as ``mad2/4``), and the outlier test compares ``2·|2v − med2|`` against
    ``3·mad2``: a sum and small-integer multiples of data values —
    every operation a single deterministic IEEE op, no
    summation-order dependence anywhere.

    Scale shape: ONE event_type exchange end-to-end (plan-asserted)
    — the medians are unbounded-frame WINDOW sums over the same
    partitioning rather than groupBy-and-join-back branches, which
    re-planned as FOUR shuffles of the same key before this
    formulation; the second rank pass is a re-sort, not a
    re-exchange, and the final aggregate's partials ride the same
    partitioning.
    Exact per-key medians need a per-key sort — that is the
    contract; at sparse-key 100 TB keep this form, at hot-key scale
    use the mergeable histogram sketch (same columns, its own
    oracle-checked entry: anomaly_mad_hist)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", "event_id")
        # observed values of attributable types only (see oracle)
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
    )
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    med = ranked.select(
        "*",
        (
            F.sum(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value"))
            ).over(wp)
            + F.sum(
                F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col("value"))
            ).over(wp)
        ).alias("med2"),
    )
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    dev = med.select(
        "event_type",
        "event_id",
        "n",
        "med2",
        F.abs(2 * F.col("value") - F.col("med2")).alias("d"),
    ).withColumn("rn2", F.row_number().over(wd))
    mad = dev.select(
        "*",
        (
            F.sum(
                F.when(F.col("rn2") == F.expr("(n + 1) div 2"), F.col("d"))
            ).over(wp)
            + F.sum(
                F.when(F.col("rn2") == F.expr("(n + 2) div 2"), F.col("d"))
            ).over(wp)
        ).alias("mad2"),
    )
    return mad.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.round(F.max("med2") / 2, 4).alias("med"),
        F.round(F.max("mad2") / 4, 4).alias("mad"),
        F.sum(F.when(2 * F.col("d") > 3 * F.col("mad2"), 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "anomaly_mad_hist",
    oracle="""
    WITH h AS (
        SELECT event_type,
               CAST(least(floor(value), 511) AS BIGINT) AS b,
               count(*) AS c
        FROM events
        -- same screen as the exact form: observed values of
        -- attributable types only (see anomaly_mad's oracle)
        WHERE value IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, b, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY b
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM h
    ),
    med AS (
        SELECT event_type, max(n) AS n,
               min(CASE WHEN cum >= (n + 1) // 2 THEN b END) AS med_b
        FROM t GROUP BY 1
    ),
    dh AS (
        SELECT h.event_type, abs(h.b - m.med_b) AS d,
               sum(h.c) AS c, max(m.n) AS n, max(m.med_b) AS med_b
        FROM h JOIN med m USING (event_type) GROUP BY 1, 2
    ),
    dt AS (
        SELECT event_type, d, c, n, med_b,
               sum(c) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM dh
    ),
    dm AS (
        SELECT *, min(CASE WHEN cum >= (n + 1) // 2 THEN d END)
                  OVER (PARTITION BY event_type) AS mad_b
        FROM dt
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           max(med_b) + 0.5 AS med,
           max(mad_b) + 0.5 AS mad,
           CAST(coalesce(sum(CASE WHEN d > 3 * mad_b THEN c END), 0)
                AS BIGINT) AS n_outliers
    FROM dm GROUP BY 1
    """,
)
def anomaly_mad_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """anomaly_mad's SCALE MODE: same output columns as the exact
    form, median/MAD read off mergeable integer histograms — one
    map-side-combined corpus aggregation bounded at 512 rows per
    group, vs the exact form's per-key sort.  The unit test pins the
    estimates within one bin width of the exact answers.

    The 512-unit-bin value histogram (hist_quantile's grid) gives the
    binned median; the DEVIATION histogram then derives from the
    value histogram itself — bins are integers, so d = |b − med_b|
    regroups the ≤512-row histogram with NO second corpus pass —
    and its binned median is the MAD estimate.  Outliers count
    whole deviation bins past 3·MAD.  All integer arithmetic, so
    the sketch value-oracles, and bin counts ADD across incremental
    batches (the mergeability exact order statistics give up).

    Null contract — same screen as the exact form: a null value is
    no measurement and a null type has no cohort, so both are
    filtered HERE so this entry can never diverge from the exact
    form's n on a dirty corpus; a null bin would also sit first in
    Spark's cumulative window but last in DuckDB's (nulls_last
    default), silently shifting the (n+1)//2 median-bin crossing."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
    )
    b = F.least(F.floor("value"), F.lit(511)).cast("long")
    h = ev.groupBy("event_type", b.alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = h.select(
        "event_type",
        "b",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    med = t.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 1) div 2"), F.col("b")
            )
        ).alias("med_b"),
    )
    dh = (
        h.join(F.broadcast(med), on="event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("b") - F.col("med_b")).alias("d"),
        )
        .agg(
            F.sum("c").alias("c"),
            F.max("n").alias("n"),
            F.max("med_b").alias("med_b"),
        )
    )
    wdc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dt = dh.withColumn("cum", F.sum("c").over(wdc))
    dm = dt.withColumn(
        "mad_b",
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n + 1) div 2"), F.col("d")
            )
        ).over(Window.partitionBy("event_type")),
    )
    return dm.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        (F.max("med_b") + 0.5).alias("med"),
        (F.max("mad_b") + 0.5).alias("mad"),
        F.coalesce(
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_b"), F.col("c"))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "compaction_plan",
    oracle="""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               coalesce(sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM documents
    )
    SELECT source, CAST(cum_before // 16384 AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM sized GROUP BY source, bin
    ORDER BY source, bin
    """,
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the maintenance job every
    long-lived 100 TB table needs (streaming ingest and per-batch
    overwrites leave KB-sized files; scan cost is dominated by file
    OPEN count, not bytes).  ``documents`` stands in for the file
    listing: (source, doc_id, n_chars) = (partition dir, file,
    size).

    Sequential-fill binning: within each partition, files in
    name order join the current output group until the cumulative
    size crosses the target (16 KiB here; 128 MB-1 GB in
    production), expressed as ``exclusive-prefix-sum div target`` —
    one window over the partition key, no driver loop.  A group may
    overrun the target by at most one file (first-fit-in-order
    semantics, the same rule Delta's OPTIMIZE bin-packing uses).

    Scale shape: planning is one exchange on the partition dir (the
    natural key — file listings arrive per-dir) + a map-side-
    combined group agg; the plan output is groups-sized (≪ files).
    Execution is then per-group ``coalesce``d rewrites driven by
    the plan rows."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        sized.groupBy(
            "source", F.expr("cum_before div 16384").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )


# (col_name, kind, num_expr, str_expr) — numeric columns profile
# through min/max doubles (timestamps via epoch seconds: string
# rendering of instants/floats diverges across engines, numbers
# do not), text columns through min/max varchars.
_PROFILE_COLS = (
    ("o_orderkey", "num", "CAST(o_orderkey AS DOUBLE)", None),
    ("o_custkey", "num", "CAST(o_custkey AS DOUBLE)", None),
    ("o_totalprice", "num", "o_totalprice", None),
    ("o_orderdate", "num", None, None),  # engine-specific epoch expr
    ("o_orderstatus", "str", None, "o_orderstatus"),
    ("o_orderpriority", "str", None, "o_orderpriority"),
)
_EPOCH_DUCK = "CAST(floor(epoch(o_orderdate)) AS DOUBLE)"
_EPOCH_SPARK = (
    "CAST(CAST(cast(o_orderdate as timestamp) AS LONG) AS DOUBLE)"
)


def _profile_oracle() -> str:
    parts = []
    for name, kind, num, strx in _PROFILE_COLS:
        if name == "o_orderdate":
            num = _EPOCH_DUCK
        if kind == "num":
            mn, mx = f"round(min({num}), 4)", f"round(max({num}), 4)"
            ms, xs = "NULL", "NULL"
        else:
            mn, mx = "NULL", "NULL"
            ms, xs = f"min({strx})", f"max({strx})"
        parts.append(
            f"""SELECT '{name}' AS col_name,
                count(*) AS n,
                count(*) - count({name}) AS n_null,
                count(DISTINCT {name}) AS ndv,
                {mn} AS min_num, {mx} AS max_num,
                {ms} AS min_str, {xs} AS max_str
            FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


# Canonical per-column string rendering for hashed-NDV profiling:
# NDV must hash the SAME string on both engines, and float/instant
# rendering is engine-specific — so prices go through exact cents
# and timestamps through epoch seconds, keys through plain integer
# strings.  (spark_expr, duckdb_expr) per profiled column.
_PROFILE_VAL = {
    "o_orderkey": (
        "CAST(o_orderkey AS STRING)",
        "CAST(o_orderkey AS VARCHAR)",
    ),
    "o_custkey": (
        "CAST(o_custkey AS STRING)",
        "CAST(o_custkey AS VARCHAR)",
    ),
    "o_totalprice": (
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)",
        "CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)",
    ),
    "o_orderdate": (
        "CAST(CAST(cast(o_orderdate as timestamp) AS LONG) AS STRING)",
        "CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) AS VARCHAR)",
    ),
    "o_orderstatus": ("o_orderstatus", "o_orderstatus"),
    "o_orderpriority": ("o_orderpriority", "o_orderpriority"),
}


def _profile_melt(od: DataFrame) -> DataFrame:
    """(col_name, val) long frame over the profiled columns — ONE
    Catalyst Expand pass (explode of a literal-keyed struct array),
    the scale-safe melt: downstream HLL registers bound the shuffle
    at m rows per column, unlike melt-then-exact-distinct which
    serializes a column per reducer."""
    kvs = F.array(
        *[
            F.struct(
                F.lit(name).alias("col_name"),
                F.expr(sx).alias("val"),
            )
            for name, (sx, _dx) in _PROFILE_VAL.items()
        ]
    )
    return (
        od.select(F.explode(kvs).alias("kv"))
        .select("kv.col_name", "kv.val")
        .where(F.col("val").isNotNull())
    )


def _profile_hll_duck_val(expr: str) -> str:
    return (
        f"(('0x' || substr(md5('hll:' || {expr}), 1, 15))"
        "::UBIGINT::BIGINT)"
    )


@register(
    "profile_table_hll",
    conf={PARALLELISM_FIRST: "false"},
    oracle=f"""
    WITH vals AS (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS col_name, {dx} AS val FROM orders"
            for name, (_sx, dx) in _PROFILE_VAL.items()
        )}
    ),
    nn AS (SELECT * FROM vals WHERE val IS NOT NULL),
    t2 AS (
        SELECT col_name,
               {_profile_hll_duck_val("val")} // {_HLL_2P50} AS b,
               {_profile_hll_duck_val("val")} % {_HLL_2P50} AS rest
        FROM nn
    ), t3 AS (
        SELECT col_name, b,
               CASE WHEN rest = 0 THEN 51
                    ELSE 51 - length(bin(rest)) END AS r
        FROM t2
    ), regs AS (
        SELECT col_name, b, max(r) AS m FROM t3 GROUP BY 1, 2
    ), agg AS (
        SELECT col_name,
               sum(1::BIGINT << (51 - m)) AS s_present,
               count(*) AS n_present
        FROM regs GROUP BY 1
    ), e2 AS (
        SELECT col_name,
               CAST(s_present + (1024 - n_present)
                    * {_HLL_2P51} AS DOUBLE) AS s,
               1024 - n_present AS v
        FROM agg
    ), e3 AS (
        SELECT col_name,
               CASE WHEN ({_HLL_NUM!r} / s) <= 2560.0 AND v > 0
                    THEN 1024.0 * ln(1024.0 / v)
                    ELSE {_HLL_NUM!r} / s END AS est
        FROM e2
    ), ex AS (
        SELECT col_name, count(DISTINCT val) AS ndv_exact
        FROM nn GROUP BY 1
    )
    SELECT e3.col_name, CAST(ndv_exact AS BIGINT) AS ndv_exact,
           round(est, 4) AS hll_est,
           round(abs(est - ndv_exact) / ndv_exact, 4) AS rel_err
    FROM e3 JOIN ex USING (col_name)
    """,
)
def profile_table_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_table's SCALE-MODE NDV, promoted to its own
    oracle-checked entry: per-column distinct counts via the
    portable HLL sketch (the hll_distinct register math keyed by
    column name), beside the exact NDV of the same canonical value
    domain and the realized error.

    Scale shape: exact multi-column NDV (profile_table's default)
    must shuffle every distinct value; this form's melt->register
    pipeline bounds the exchange at m=1024 rows PER COLUMN no
    matter the corpus — the 100 TB ANALYZE pass.  The melt is one
    Expand over one scan; values hash through engine-canonical
    strings (cents / epoch seconds — see _PROFILE_VAL), so the
    sketch is bit-identical cross-engine and registers MAX-merge
    across incremental runs."""
    od = load_table(spark, sf_dir, "orders")
    melt = _profile_melt(od)
    # Both outputs are functions of the DISTINCT (column, value)
    # pairs only — exact NDV by definition, the HLL registers
    # because max-merge is idempotent over repeats — so distinct
    # once (one scan + one Expand instead of two of each), pin the
    # bounded distinct-pairs frame, and fold both from it.  The
    # exact NDV becomes a plain count; the register hash runs over
    # distinct values instead of the full melt.
    dv = pin(melt.select("col_name", "val").distinct())
    ex = dv.groupBy("col_name").agg(
        F.count("val").alias("ndv_exact")
    )
    return (
        hll_estimate(
            hll_registers(dv, key="col_name", val="val"),
            key="col_name",
        )
        .join(ex, on="col_name")
        .select(
            "col_name",
            "ndv_exact",
            F.round("est", 4).alias("hll_est"),
            F.round(
                F.abs(F.col("est") - F.col("ndv_exact"))
                / F.col("ndv_exact"),
                4,
            ).alias("rel_err"),
        )
    )


@register("profile_table", oracle=_profile_oracle())
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling — the ANALYZE TABLE pass every
    pipeline runs before planning joins and quality gates: per
    column, row count, null count, exact NDV, and min/max (numeric
    columns as doubles — timestamps through epoch seconds — text
    columns as varchars; string rendering of floats/instants is
    engine-specific, their VALUES are not).

    Scale shape: ONE aggregate over one scan — the multi-distinct
    plans as Catalyst's Expand (each input row fans to one row per
    distinct-column then partial-aggregates map-side), which keeps
    the exchange partial-sized instead of shuffling the table once
    per column; the alternative melt-then-groupBy(col_name) shape
    was rejected because column-name keys make one reducer hold
    every row of a column at 100 TB.  Exact NDV is the expensive
    honest form; the per-column portable-HLL estimate (bounded
    shuffle: m register rows per column) is its own entry,
    profile_table_hll, and this exact form is its accuracy oracle."""
    od = load_table(spark, sf_dir, "orders")
    aggs = []
    str_aggs = []
    for name, kind, num, strx in _PROFILE_COLS:
        if name == "o_orderdate":
            num = _EPOCH_SPARK
        aggs += [
            F.count(F.lit(1)).alias(f"{name}__n"),
            (F.count(F.lit(1)) - F.count(name)).alias(f"{name}__n_null"),
            F.countDistinct(name).alias(f"{name}__ndv"),
        ]
        if kind == "num":
            aggs += [
                F.round(F.min(F.expr(num)), 4).alias(f"{name}__min_num"),
                F.round(F.max(F.expr(num)), 4).alias(f"{name}__max_num"),
                F.lit(None).cast("string").alias(f"{name}__min_str"),
                F.lit(None).cast("string").alias(f"{name}__max_str"),
            ]
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"{name}__min_num"),
                F.lit(None).cast("double").alias(f"{name}__max_num"),
            ]
            # string MIN/MAX live in a SEPARATE global aggregate:
            # a min(string) buffer is not a mutable fixed-width type,
            # so keeping it inside the countDistinct Expand stack
            # demoted the whole 7-way fan-out to SortAggregate — a
            # full sort of rows x (n_distinct_cols + 1) on the 7-part
            # grouping key before a single value aggregated.  Split
            # out, the Expand stack is pure counts + numeric min/max
            # (all fixed-width -> HashAggregate, no sort), and the
            # string extremes cost one grouping-free pass whose
            # partials are 2 strings per column.
            str_aggs += [
                F.min(strx).alias(f"{name}__min_str"),
                F.max(strx).alias(f"{name}__max_str"),
            ]
    wide = od.agg(*aggs)
    if str_aggs:
        wide = wide.crossJoin(F.broadcast(od.agg(*str_aggs)))
    stacks = ", ".join(
        f"'{name}', {name}__n, {name}__n_null, {name}__ndv,"
        f" {name}__min_num, {name}__max_num,"
        f" {name}__min_str, {name}__max_str"
        for name, *_ in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacks}) AS (col_name, n,"
            " n_null, ndv, min_num, max_num, min_str, max_str)"
        )
    )


def skyline_pass(pts: DataFrame, part: str | None = None) -> DataFrame:
    """One (earlier day, higher price) domination-filter pass: the
    two RANGE-framed running price maxima (strictly-earlier days;
    same-day-inclusive for strict-price ties) and the survivor
    filter.  ``part=None`` is the exact global pass; a partition
    column makes it the bucket-local pruning phase of the two-phase
    skyline (see skyline_orders)."""
    w = Window.partitionBy(part) if part else Window.partitionBy()
    w_strict = w.orderBy("day").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_incl = w.orderBy("day").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = pts.select(
        "*",
        F.max("price").over(w_strict).alias("mx_strict"),
        F.max("price").over(w_incl).alias("mx_incl"),
    )
    return flagged.where(
        ~(
            F.coalesce(
                F.col("mx_strict") >= F.col("price"), F.lit(False)
            )
            | (F.col("mx_incl") > F.col("price"))
        )
    ).drop("mx_strict", "mx_incl")


@register(
    "skyline_orders",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
               o_totalprice AS price
        FROM orders
    ),
    flagged AS (
        SELECT o_orderkey, day, price,
               max(price) OVER (
                   ORDER BY day
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS mx_strict,
               max(price) OVER (
                   ORDER BY day
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS mx_incl
        FROM pts
    )
    SELECT o_orderkey, day, round(price, 4) AS price
    FROM flagged
    WHERE NOT (coalesce(mx_strict >= price, FALSE) OR mx_incl > price)
    ORDER BY day, o_orderkey
    """,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of orders under (earlier day,
    higher price): an order survives unless some order is at least
    as early AND at least as expensive with one strict — the
    multi-criteria shortlist operator (price/recency trade-off
    curves, best-effort dedup candidates, frontier sampling).

    2D skylines need no pairwise joins: sorted by day, a point is
    dominated iff the running price max beats it — two RANGE-framed
    window maxima (strictly-earlier days; up-to-current for
    same-day strict-price domination) and a filter.  Comparisons
    only, no float arithmetic, so cross-engine exact.

    Scale: TWO-PHASE.  Phase 1 runs the same maxima+filter under
    ``partitionBy(day div 64)`` — parallel bucket-local skylines
    (a local pass only removes points, never keeps a dominated
    maximal: domination is transitive, so every removed point's
    dominator chain ends at a bucket survivor).  Phase 2 runs the
    identical pass globally over the frontier-sized survivors (the
    only unpartitioned window in the catalog — fleet-allowlisted
    because its input is the union of per-bucket frontiers, not
    the corpus).  Exactness of the composition is pinned by the
    unit test comparing against the single-pass form."""
    od = load_table(spark, sf_dir, "orders")
    pts = od.select(
        "o_orderkey",
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) div 86400"
        ).alias("day"),
        F.col("o_totalprice").alias("price"),
    )
    local = skyline_pass(
        pts.withColumn("bucket", F.expr("day div 64")), part="bucket"
    ).drop("bucket")
    return (
        skyline_pass(local)
        .select(
            "o_orderkey", "day", F.round("price", 4).alias("price")
        )
        .orderBy("day", "o_orderkey")
    )


def compact_documents(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """Compaction EXECUTED, not just planned — the OPTIMIZE
    maintenance cycle run against a real store (the alias_compact
    lifecycle pattern): documents land as a deliberately fragmented
    partitioned store (8 files per source dir), the file listing is
    binned first-fit by the same exclusive-prefix-sum arithmetic as
    compaction_plan (file listings are driver work in production
    compactors too — the listing is dirs x files, never row-scale),
    and ONE rewrite job folds each bin to ~1 file via
    repartition(source, bin) + partitionBy.  The oracle checks the
    invariant that makes compaction safe to run anywhere: content
    is EXACTLY preserved (the gate compares the read-back against
    the source table); the file-count reduction (~8x at sf0.01,
    >=2x at the 50-doc test scale) is pinned in the unit test.

    Scale shape: the rewrite is a single shuffle keyed on
    (source, bin) — each output group is target-sized by
    construction, so tasks are balanced regardless of the input's
    file-size skew; no per-bin driver jobs (a bin loop is the
    naive compactor that serializes on the driver at 100k files)."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    store = tracked_mkdtemp(prefix="bes_cst_")
    compacted = tracked_mkdtemp(prefix="bes_cso_")
    # fragment: 8 files per source dir
    docs.repartition(8).write.mode("overwrite").partitionBy(
        "source"
    ).parquet(store)

    # driver-side file listing (dirs x files — the compactor's real
    # input; bounded by file count, never row count)
    listing = []
    for src in sorted(os.listdir(store)):
        if not src.startswith("source="):
            continue
        d = os.path.join(store, src)
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                listing.append((src.split("=", 1)[1], p, os.path.getsize(p)))
    if not listing:
        # empty store (no-new-data run): nothing to compact; the
        # read-back of an all-empty partitioned dir cannot infer a
        # schema, so short-circuit with the same output shape
        return (
            docs.select("doc_id", "source", "n_chars").limit(0),
            {"files_before": 0, "files_after": 0},
        )
    files = spark.createDataFrame(
        listing, schema="source STRING, path STRING, bytes BIGINT"
    )
    plan = files.withColumn(
        "bin",
        F.expr(
            "coalesce(sum(bytes) over (partition by source"
            " order by path rows between unbounded preceding"
            " and 1 preceding), 0) div 65536"
        ),
    ).select("path", "source", "bin")

    assign = F.broadcast(plan.withColumnRenamed("path", "_file"))
    data = (
        spark.read.parquet(store)
        .withColumn("_file", F.input_file_name())
        .withColumn("_file", F.regexp_replace("_file", "^file://", ""))
        .drop("source")
    )
    (
        data.join(assign, on="_file")
        .drop("_file")
        .repartition(F.col("source"), F.col("bin"))
        .write.mode("overwrite")
        .partitionBy("source", "bin")
        .parquet(compacted)
    )
    files_after = sum(
        1
        for root, _dirs, fs in os.walk(compacted)
        for f in fs
        if f.endswith(".parquet")
    )
    out = spark.read.parquet(compacted).select(
        "doc_id", "source", "n_chars"
    )
    return out, {"files_before": len(listing), "files_after": files_after}


@register(
    "compact_store",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    """,
)
def compact_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog wrapper over compact_documents (docstring there): the
    gate checks the compaction safety invariant — the read-back of
    the rewritten store is value-identical to the source table."""
    out, _stats = compact_documents(spark, sf_dir)
    return out


# K-minimum-values sketch (Bar-Yossef et al. 2002): keep the k
# smallest distinct hash values per set.  Like HLL/CMS/Bloom it is
# integer state, hence bit-identical cross-engine and value-oracled;
# unlike them it supports SET OPERATIONS — merge two sketches, take
# the k smallest of the union, and the fraction of those present in
# BOTH inputs estimates Jaccard — which is what cross-corpus overlap
# questions ("how much does source A share with source B?") need
# WITHOUT a corpus⋈corpus join.
_KMV_K = 256


def _kmv_partial_topk(th: DataFrame, k: int = _KMV_K) -> DataFrame:
    """Stage 1 of the bounded sketch build: per PARTITION, the k
    smallest distinct hashes per source — an Arrow pass holding at
    most (k+1) hashes per source in a heap, so state is bounded no
    matter the corpus (the skyline lesson: the scale composition
    must be the EXECUTED plan, not prose).  Stage 2 (distinct +
    per-source window over ≤ k x partitions rows) finishes the
    exact k-minimum set; the two-stage result is independent of
    partitioning because k-smallest-distinct is a semilattice
    merge."""
    import heapq

    import pandas as pd

    def partial(batches):
        best: dict = {}  # source -> (max-heap of -h, membership set)
        for pdf in batches:
            for s, h in zip(pdf["source"], pdf["h"]):
                hs, sn = best.setdefault(s, ([], set()))
                if h in sn:
                    continue
                if len(hs) < k:
                    heapq.heappush(hs, -h)
                    sn.add(h)
                elif h < -hs[0]:
                    old = -heapq.heapreplace(hs, -h)
                    sn.discard(old)
                    sn.add(h)
        rows_s, rows_h = [], []
        for s, (hs, _sn) in best.items():
            for neg in hs:
                rows_s.append(s)
                rows_h.append(-neg)
        yield pd.DataFrame({"source": rows_s, "h": rows_h})

    return th.mapInPandas(partial, schema="source string, h long")


# Shared WITH-body of the KMV oracles: corpus token hashes (th),
# per-source k-minimum sketches (sk), the source-pair dim (pairs),
# and the merged-sketch Jaccard estimate (est).  The exact-mode
# oracle appends the corpus-scale exact-intersection CTEs; the
# sketch-only oracle selects straight off ``est`` — same text, so
# the two catalog entries cannot drift.
_KMV_CTES = f"""
    WITH th AS (
        SELECT DISTINCT source,
               {duckdb_hash64("('kmv:' || term)")} AS h
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(lower(trim(text)),
                                                '\\s+')) AS term
            FROM documents
        )
    ),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h, row_number() OVER (
                PARTITION BY source ORDER BY h) AS rn
            FROM th
        ) WHERE rn <= {_KMV_K}
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM (SELECT DISTINCT source FROM th) a
        JOIN (SELECT DISTINCT source FROM th) b
          ON a.source < b.source
    ),
    merged AS (
        SELECT DISTINCT p.source_a, p.source_b, s.h
        FROM pairs p JOIN sk s
          ON s.source = p.source_a OR s.source = p.source_b
    ),
    mk AS (
        SELECT source_a, source_b, h FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source_a, source_b ORDER BY h) AS rn
            FROM merged
        ) WHERE rn <= {_KMV_K}
    ),
    est AS (
        SELECT mk.source_a, mk.source_b,
               count(*) AS n_union_k,
               sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                        THEN 1 ELSE 0 END) AS n_both
        FROM mk
        LEFT JOIN sk sa ON sa.source = mk.source_a AND sa.h = mk.h
        LEFT JOIN sk sb ON sb.source = mk.source_b AND sb.h = mk.h
        GROUP BY 1, 2
    )"""


@register(
    "kmv_source_overlap",
    oracle=_KMV_CTES
    + """,
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_inter
        FROM th a JOIN th b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    ),
    exn AS (SELECT source, count(*) AS n FROM th GROUP BY source)
    SELECT e.source_a, e.source_b,
           CAST(na.n AS BIGINT) AS n_a,
           round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                 / (na.n + nb.n - coalesce(i.n_inter, 0)), 4)
               AS jaccard_exact,
           round(CAST(e.n_both AS DOUBLE) / e.n_union_k, 4)
               AS kmv_est,
           round(abs(CAST(e.n_both AS DOUBLE) / e.n_union_k
                 - CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                   / (na.n + nb.n - coalesce(i.n_inter, 0))), 4)
               AS err
    FROM est e
    JOIN exn na ON na.source = e.source_a
    JOIN exn nb ON nb.source = e.source_b
    LEFT JOIN inter i
      ON i.source_a = e.source_a AND i.source_b = e.source_b
    """,
)
def kmv_source_overlap(
    spark: SparkSession, sf_dir: str, *, exact: bool = True
) -> DataFrame:
    """Cross-corpus overlap by K-minimum-values sketches: pairwise
    token-set Jaccard between sources, estimated from k=256-hash
    sketches beside the exact answer and realized error — the
    "how contaminated is corpus A with corpus B" question answered
    WITHOUT a corpus⋈corpus join (the sketch merge is k-row work
    per pair).  Fifth sketch in the family, and the first with SET
    OPERATIONS: HLL counts, CMS weighs, Bloom tests membership;
    KMV intersects and unions — all integer state, bit-identical
    cross-engine, mergeable across incremental runs (k-smallest-
    distinct is a semilattice).

    Scale shape: sketch build is the two-stage bounded top-k
    (_kmv_partial_topk: ≤ k+1 hashes per source held per
    partition, then distinct + window over ≤ k x partitions rows)
    — the corpus is touched by ONE map-only Arrow pass, never
    sorted; everything after operates on k-row sketches against a
    |sources|² pair dim.  The exact side exists to surface the
    realized error (the hll_distinct pattern); at 100 TB you run
    only the sketches — ``exact=False`` SKIPS the exact-Jaccard
    side entirely: output drops `n_a`/`jaccard_exact`/`err`, and
    the plan contains no
    corpus-pair SortMergeJoin (asserted by the fleet plan test) —
    the corpus is read exactly once (the heap pass), and the only
    rows that ever shuffle are the ≤ k×partitions sketch rows.  The
    sketch-side joins are hinted broadcast: every input there is
    sketch-sized (≤ k rows per source / per pair), never
    corpus-sized."""
    from bugzilla_etl_spark.functions.hashing import hash64
    from bugzilla_etl_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    th = (
        docs.select(
            "source", F.explode(tokens("text")).alias("term")
        )
        .select(
            "source",
            hash64(F.concat(F.lit("kmv:"), F.col("term"))).alias("h"),
        )
    )
    part = _kmv_partial_topk(th).distinct()
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        part.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .select("source", "h")
    )
    # Fold each source's k-minimum set into ONE array row (groupBy
    # on the window's own partitioning — no new exchange), then the
    # whole pairwise merge is codegen ARRAY algebra against the
    # broadcast pair dim: mk = k smallest of the deduped union,
    # n_both = mk members present in BOTH sketches.  ``skarr`` is
    # the SKETCH relation — ≤ |sources| rows × k longs, corpus-size-
    # independent — and every downstream branch (pair dim, both join
    # sides) reads it, so it is persisted through the cleanup
    # registry: without the cache each lazy reference physically
    # re-runs the corpus scan + Arrow heap pass (measured: 3 heap
    # passes in the executed plan).  One corpus pass total.
    skarr = pin(
        sk.groupBy("source").agg(
            F.sort_array(F.collect_set("h")).alias("hs")
        )
    )
    srcs = skarr.select("source")
    pairs = F.broadcast(
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .where(F.expr("a.source < b.source"))
        .select(
            F.expr("a.source").alias("source_a"),
            F.expr("b.source").alias("source_b"),
        )
    )
    sa = skarr.select(
        F.col("source").alias("source_a"), F.col("hs").alias("ha_s")
    )
    sb = skarr.select(
        F.col("source").alias("source_b"), F.col("hs").alias("hb_s")
    )
    est = (
        sa.join(F.broadcast(pairs), on="source_a")
        .join(F.broadcast(sb), on="source_b")
        .withColumn(
            "mk",
            F.slice(
                F.array_sort(F.array_union("ha_s", "hb_s")), 1, _KMV_K
            ),
        )
        .select(
            "source_a",
            "source_b",
            F.size("mk").alias("n_union_k"),
            F.size(
                F.expr(
                    "filter(mk, x -> array_contains(ha_s, x)"
                    " AND array_contains(hb_s, x))"
                )
            ).alias("n_both"),
        )
    )
    kmv = F.col("n_both").cast("double") / F.col("n_union_k")
    if not exact:
        return est.select(
            "source_a", "source_b", F.round(kmv, 4).alias("kmv_est")
        )
    # The exact side reads the distinct (source, token-hash) relation
    # from three branches; deliberately NOT persisted, unlike skarr:
    # measured at sf0.1, caching it ran 1.9x SLOWER (0.98 -> 1.83 s)
    # — the cache materialization is one wide all-columns job,
    # while the un-persisted branches each get column pruning and
    # partial-aggregate pushdown from Catalyst.  Persist pays off
    # for the SKETCH relation because it collapses a mapInPandas
    # heap pass (no pushdown through Python anyway) to one run;
    # here the duplicated work is cheap scans the optimizer prunes.
    exd = th.distinct()
    ea = exd.select(
        F.col("source").alias("source_a"), F.col("h").alias("ha")
    )
    eb = exd.select(
        F.col("source").alias("_sb"), F.col("h").alias("hb")
    )
    ex = (
        pairs.join(ea, on="source_a", how="left")
        .join(
            eb,
            (F.col("source_b") == F.col("_sb"))
            & (F.col("ha") == F.col("hb")),
            "left",
        )
        .drop("_sb")
        .groupBy("source_a", "source_b")
        .agg(
            F.count("ha").alias("n_a"),
            F.count(
                F.when(
                    F.col("ha").isNotNull() & F.col("hb").isNotNull(),
                    1,
                )
            ).alias("n_inter"),
        )
    )
    nb = exd.groupBy(F.col("source").alias("source_b")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    jac_exact = F.col("n_inter") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        est.join(ex, on=["source_a", "source_b"])
        .join(F.broadcast(nb), on="source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            F.round(jac_exact, 4).alias("jaccard_exact"),
            F.round(kmv, 4).alias("kmv_est"),
            F.round(F.abs(kmv - jac_exact), 4).alias("err"),
        )
    )


@register(
    "kmv_source_overlap_sketch",
    oracle=_KMV_CTES
    + """
    SELECT e.source_a, e.source_b,
           round(CAST(e.n_both AS DOUBLE) / e.n_union_k, 4)
               AS kmv_est
    FROM est e
    """,
)
def kmv_source_overlap_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`kmv_source_overlap(exact=False)` as its own oracle-checked
    catalog entry: the 100-TB form.  The exact-Jaccard side — the
    corpus-pair SortMergeJoin the full entry pays to surface
    realized error — is SKIPPED entirely; the corpus is touched by
    exactly one map-only Arrow pass (the bounded k-heap), and every
    join downstream is sketch-sized and broadcast.  The fleet plan
    test asserts zero SortMergeJoin in this mode (the allowlist
    entry for `kmv_source_overlap` covers only the exact mode).
    Oracle = the sketch half of the same CTE text, so the two
    entries cannot drift."""
    return kmv_source_overlap(spark, sf_dir, exact=False)


@register(
    "bucketed_join_zero_shuffle",
    oracle="""
    SELECT o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_zero_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BUCKETED co-located join, executed against real bucketed
    tables: orders and lineitem land as 8-bucket Hive-layout tables
    on the join key (``bucketBy + sortBy``, one file per bucket),
    and the fact⋈fact join then needs NO exchange on either side —
    the bucket layout IS the hash partitioning the SortMergeJoin
    requires, so the only shuffle in the whole plan is the final
    group-by.  This is the third leg of the shuffle-avoidance
    toolkit next to broadcast (dims) and AQE (runtime sizes): for
    the recurring big⋈big join on a stable key at 100 TB you pay
    the shuffle ONCE at write time and never again per query —
    exactly how production lakehouse tables co-locate fact joins.

    The ``merge`` hint pins the SMJ so the demonstration is
    deterministic at any SF (AQE prefers broadcast at test scale,
    which would bypass the bucket layout being demonstrated); a
    merge hint has no build side to OOM, so it sits outside the
    bounded-broadcast-hint policy by construction.  The plan test
    asserts exactly one exchange and bucketed scans on both sides.

    Tables are EXTERNAL over a tracked scratch dir with a
    per-invocation name (the in-memory catalog entry dies with the
    session; the data dir is GC'd with the tempdir registry)."""
    import os
    import uuid

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    base = tracked_mkdtemp("bes_bkt_")
    tag = uuid.uuid4().hex[:8]
    names = {}
    for stem, df, key in (
        ("orders", od, "o_orderkey"),
        ("lineitem", li, "l_orderkey"),
    ):
        name = f"bes_bkt_{stem}_{tag}"
        (
            df.repartition(8, F.col(key))  # one file per bucket
            .write.mode("overwrite")
            .option("path", os.path.join(base, stem))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
        names[stem] = name
    o = spark.table(names["orders"])
    l = spark.table(names["lineitem"])
    return (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                4,
            ).alias("rev")
        )
    )


@register(
    "partition_prune_stats",
    oracle=f"""
    WITH raw AS (
        SELECT o_orderkey, o_custkey AS x,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS y
        FROM orders
    ),
    ext AS (
        SELECT min(x) AS xlo, max(x) AS xhi,
               min(y) AS ylo, max(y) AS yhi
        FROM raw
    ),
    keyed AS (
        SELECT ((x - xlo) * 1023) // greatest(xhi - xlo, 1) AS xk,
               ((y - ylo) * 1023) // greatest(yhi - ylo, 1) AS yk
        FROM raw CROSS JOIN ext
    ),
    z AS (SELECT *, {_Z_DUCK} AS zkey FROM keyed),
    buckets AS (
        SELECT 'zorder' AS layout, CAST(zkey // 8192 AS BIGINT) AS b,
               min(xk) AS xlo, max(xk) AS xhi,
               min(yk) AS ylo, max(yk) AS yhi
        FROM z GROUP BY 2
        UNION ALL
        SELECT 'xsort', CAST(xk // 8 AS BIGINT) AS b,
               min(xk), max(xk), min(yk), max(yk)
        FROM keyed GROUP BY 2
    ),
    preds AS (
        SELECT * FROM (VALUES
            ('x_range', 256, 358, 0, 1023),
            ('y_range', 0, 1023, 512, 614),
            ('both', 256, 358, 512, 614)
        ) AS t(predicate, pxlo, pxhi, pylo, pyhi)
    )
    SELECT layout, predicate,
           count(*) AS buckets_total,
           CAST(sum(CASE WHEN xhi >= pxlo AND xlo <= pxhi
                          AND yhi >= pylo AND ylo <= pyhi
                    THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched
    FROM buckets CROSS JOIN preds
    GROUP BY layout, predicate
    ORDER BY layout, predicate
    """,
)
def partition_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-order claim MEASURED: for three predicate shapes
    (x-range only, y-range only, both), how many layout buckets a
    min/max-stat file-skipping reader must scan under (a) the
    Morton layout and (b) a single-dimension sort — the number a
    table-layout decision actually turns on.  On this data the
    x-sorted layout wins x-only predicates (its buckets are pure x
    slices) but must scan EVERY bucket for a y-only predicate,
    while z-order stays sublinear in BOTH dimensions — the
    multi-dimensional-locality trade stated as counts.

    Pure integer arithmetic end-to-end (the zorder_layout grid and
    key, bucket min/max folds, closed-interval overlap tests), so
    the counts are bit-identical across engines.  Scale shape: one
    keying pass + two map-side-combined bucket aggs (the per-file
    stats a writer collects anyway); the 3-row predicate frame
    cross-joins the bucket stats — stats-sized × 3, never
    row-scale."""
    od = load_table(spark, sf_dir, "orders")
    raw = od.select(
        F.col("o_custkey").alias("x"),
        F.expr(
            "cast(cast(o_orderdate as timestamp) as long) div 86400"
        ).alias("y"),
    )
    ext = raw.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    keyed = raw.crossJoin(F.broadcast(ext)).select(
        F.expr("((x - xlo) * 1023) div greatest(xhi - xlo, 1)").alias(
            "xk"
        ),
        F.expr("((y - ylo) * 1023) div greatest(yhi - ylo, 1)").alias(
            "yk"
        ),
    )
    z = keyed.withColumn("zkey", F.expr(_Z_SPARK))
    zb = z.groupBy(F.expr("zkey div 8192").alias("b")).agg(
        F.min("xk").alias("bxlo"),
        F.max("xk").alias("bxhi"),
        F.min("yk").alias("bylo"),
        F.max("yk").alias("byhi"),
    ).withColumn("layout", F.lit("zorder"))
    xb = keyed.groupBy(F.expr("xk div 8").alias("b")).agg(
        F.min("xk").alias("bxlo"),
        F.max("xk").alias("bxhi"),
        F.min("yk").alias("bylo"),
        F.max("yk").alias("byhi"),
    ).withColumn("layout", F.lit("xsort"))
    buckets = zb.unionByName(xb)
    preds = spark.createDataFrame(
        [
            ("x_range", 256, 358, 0, 1023),
            ("y_range", 0, 1023, 512, 614),
            ("both", 256, 358, 512, 614),
        ],
        schema="predicate STRING, pxlo INT, pxhi INT, pylo INT, pyhi INT",
    )
    return (
        buckets.crossJoin(F.broadcast(preds))
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("buckets_total"),
            F.sum(
                F.when(
                    (F.col("bxhi") >= F.col("pxlo"))
                    & (F.col("bxlo") <= F.col("pxhi"))
                    & (F.col("byhi") >= F.col("pylo"))
                    & (F.col("bylo") <= F.col("pyhi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("buckets_touched"),
        )
        .orderBy("layout", "predicate")
    )
