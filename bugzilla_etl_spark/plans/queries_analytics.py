"""Analytics backbone (SURVEY §2 #21-#25): TPC-H-style join/agg
queries — the bench headliners — plus event sessionization and a
conversion funnel.

Scale shapes: Q1 is one partial-agg shuffle over a tiny group space;
in Q3/Q5 every dim side broadcasts at test SF from MEASURED sizes
(explicit hints only on constant-size nation/region — see SCALING.md
round-6 hint policy), leaving the final aggregation as the only
fact-side exchange; sessionization is the same single entity-shuffle
window pattern as the snapshot block.

Float parity: monetary aggregates are rounded to 4 decimals with the
SAME rounding on both engines, absorbing summation-order ulps.
Timestamp filters compare whole epoch seconds (integer, portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bugzilla_etl_spark.plans.catalog import PARALLELISM_FIRST, register
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.sources.derived import PARTSUPP_CTE, partsupp
from bugzilla_etl_spark.tmpdirs import pin

# Wall-clock cutoffs: orders/lineitem timestamps are parquet ms-precision,
# which Spark 4 reads as TIMESTAMP_NTZ — compare against NTZ literals
# (tz-independent) and mirror with DuckDB naive-timestamp literals.
D_1998_09_01 = "1998-09-01 00:00:00"
D_1996_03_15 = "1996-03-15 00:00:00"
D_1996_01_01 = "1996-01-01 00:00:00"
D_1996_04_01 = "1996-04-01 00:00:00"
D_1997_01_01 = "1997-01-01 00:00:00"


def _ntz(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


@register(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                 AS sum_qty,
           round(sum(l_extendedprice), 4)            AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
                                                     AS sum_charge,
           round(avg(l_quantity), 4)                 AS avg_qty,
           round(avg(l_extendedprice), 4)            AS avg_price,
           round(avg(l_discount), 4)                 AS avg_disc,
           count(*)                                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{D_1998_09_01}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: the scan+partial-agg throughput probe."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= _ntz(D_1998_09_01))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{D_1996_03_15}'
      AND l_shipdate  > TIMESTAMP '{D_1996_03_15}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: selective sides join into the fact scan.

    No broadcast hints: the date-filtered orders slice and the
    BUILDING-segment customers both scale with SF (the q10 lesson —
    a forced broadcast OOMs at 100-TB TPC-H where AQE would degrade
    gracefully); at test SF AQE promotes both joins to broadcast from
    measured sizes, so the local plan is unchanged."""
    cu = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    od = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < _ntz(D_1996_03_15)
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > _ntz(D_1996_03_15)
    )
    joined = li.join(od, li.l_orderkey == od.o_orderkey).join(
        cu, od.o_custkey == cu.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "tpch_q6",
    oracle=f"""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{D_1996_01_01}'
      AND l_shipdate <  TIMESTAMP '{D_1997_01_01}'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting revenue change: the pure predicate-pushdown probe —
    every filter (date range, discount band, quantity cap) reaches the
    parquet scan as PushedFilters (asserted in test_plan_shape), so at
    100 TB row groups outside the ranges never decompress."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= _ntz(D_1996_01_01))
            & (F.col("l_shipdate") < _ntz(D_1997_01_01))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(c_acctbal, 4) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '{D_1996_01_01}'
      AND o_orderdate <  TIMESTAMP '{D_1996_04_01}'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting: revenue aggregates BEFORE the customer
    dim joins (the shuffle carries one row per custkey, not per
    lineitem), then nation broadcasts onto the skinny aggregate — the
    aggregate-early/join-late shape that matters when the fact side is
    100 TB and customers are millions.

    NO broadcast hint on orders or customer: a 3-month slice of orders
    is billions of rows at 100-TB TPC-H and a forced broadcast OOMs the
    build side instead of degrading; the lineitem⋈orders join shuffles
    on orderkey (both sides fact-sized) and the rev⋈customer join
    shuffles on custkey, with AQE free to promote either to broadcast
    at runtime when the filtered side actually fits.  Only nation — a
    fixed 25-row dim — carries an explicit hint."""
    od = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz(D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(D_1996_04_01))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    rev = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
    )
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    return (
        rev.join(cu, rev.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 4).alias("acctbal"),
            "n_name",
        )
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '{D_1996_01_01}'
      AND o_orderdate <  TIMESTAMP '{D_1997_01_01}'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-way star join.  The fact table is
    touched exactly once; at test SF every dim side broadcasts (from
    measured sizes — asserted in test_plan_shape), so no fact-side
    shuffle happens until the tiny final aggregation.

    Hint policy (SCALING.md round 6): only the constant-size nation
    (25 rows) and region (5 rows) dims carry explicit hints.  A year
    of orders, customer, and supplier all scale with SF — billions of
    rows at 100-TB TPC-H — so those joins are UNhinted and AQE
    promotes them to broadcast only when the measured side fits; the
    same plan degrades to shuffle joins instead of OOMing at scale."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz(D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(D_1997_01_01))
    )
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(
            su,
            (li.l_suppkey == su.s_suppkey)
            & (cu.c_nationkey == su.s_nationkey),
        )
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


@register(
    "events_sessionize",
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
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag -> flag -> cumsum ->
    per-session agg; one shuffle on user_id, windows + agg reuse it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sec = F.col("ts").cast("long")
    marked = ev.select(
        "user_id", "event_id", "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((sec - F.lag(sec).over(w)) > 1800),
            1,
        ).otherwise(0).alias("is_new"),
    )
    sessions = marked.withColumn("session_id", F.sum("is_new").over(wcum))
    # instants emitted as epoch longs (parity rule: cast(ts as long)
    # == floor(epoch(ts))::BIGINT — portable across engines/tz)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.col("ts").cast("long")).alias("session_start"),
        F.max(F.col("ts").cast("long")).alias("session_end"),
    )


@register(
    "time_rollup",
    oracle="""
    SELECT make_timestamp(((floor(epoch(ts))::BIGINT // 86400) * 86400)
                          * 1000000) AS day,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup (day x type): the standard
    continuous-aggregate shape; partial agg makes the shuffle carry
    only bucket partials.  Bucketing is epoch-UTC integer arithmetic —
    date_trunc would shift with the session timezone."""
    ev = load_table(spark, sf_dir, "events")
    day = F.timestamp_seconds(
        F.floor(F.col("ts").cast("long") / 86400) * 86400
    )
    return (
        ev.groupBy(day.alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT event_type, user_id, spend, rnk FROM (
        SELECT event_type, user_id, spend,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY spend DESC, user_id ASC) AS rnk
        FROM (
            SELECT event_type, user_id, round(sum(value), 4) AS spend
            FROM events GROUP BY event_type, user_id
        )
    ) WHERE rnk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: top-3 users by total value within each event
    type.  Agg first (shrinks to groups), THEN window — never window
    over raw events."""
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 4).alias("spend")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("spend").desc(), F.col("user_id").asc()
    )
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "user_id", "spend", "rnk")
    )


@register(
    "events_sessionize_native",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w >= 1800.0
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, count(*) AS n_events, min(ts) AS session_start
    FROM sessions GROUP BY user_id, session_id
    """,
)
def events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window (dynamic-gap
    event-time windows) — same sessions as the lag+cumsum build, and
    the operator that carries over to Structured Streaming unchanged.
    Session windows are [start, last+gap): a gap of EXACTLY 30min
    starts a new session, hence the oracle's `>= 1800` on fractional
    epoch seconds (µs-exact in a double)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", "n_events", F.col("sw.start").alias("session_start")
        )
    )


@register(
    "events_sessionize_paned",
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
def events_sessionize_paned(
    spark: SparkSession, sf_dir: str, width_s: int = 3600
) -> DataFrame:
    """events_sessionize's HOT-KEY-SPLITTABLE form (#174) — the
    third member of the skew-immune temporal trilogy (bounded frame
    #172, unbounded carry #173, gap sessionize here), same oracle as
    the classic form.  Gap sessionization looks inherently
    sequential (every session id depends on the whole prefix) but
    both of its sequential ingredients decompose:

    - the boundary flag needs only the PREVIOUS event's time: inside
      a pane that is lag(); for a pane's first event it is the last
      event time among earlier panes = max over the per-pane
      time-summary PREFIX (one row per non-empty pane — sparse keys
      whose previous event is many panes back included);
    - the session id is a prefix SUM of boundary flags: in-pane
      cumsum + the count of boundaries in earlier panes, read off a
      second per-pane summary prefix.

    The corpus crosses one (user, pane) exchange serving both
    in-pane windows and both summary joins; the summaries are
    panes-per-user rows; the final per-session aggregate partials
    combine map-side, so even a session spanning many panes (or one
    mega-session) never serializes raw rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    sec = F.col("ts").cast("long")
    base = ev.withColumn(
        "_pane", F.floor(sec / F.lit(width_s)).cast("long")
    )
    # pass A: last event time per pane -> time entering each pane
    ts_summ = base.groupBy("user_id", "_pane").agg(
        F.max(sec).alias("_pane_last_sec")
    )
    w_pref = (
        Window.partitionBy("user_id")
        .orderBy("_pane")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    entering = ts_summ.select(
        "user_id", "_pane",
        F.max("_pane_last_sec").over(w_pref).alias("_prev_sec_in"),
    )
    w_pane = (
        Window.partitionBy("user_id", "_pane")
        .orderBy("ts", "event_id")
    )
    prev_sec = F.coalesce(
        F.lag(sec).over(w_pane), F.col("_prev_sec_in")
    )
    marked = base.join(entering, on=["user_id", "_pane"]).select(
        "user_id", "event_id", "ts", "_pane",
        F.when(
            prev_sec.isNull() | ((sec - prev_sec) > 1800), 1
        ).otherwise(0).alias("is_new"),
    )
    # pass B: boundaries per pane -> session-id offset entering each
    # pane (prefix SUM over the boundary summary)
    nb_summ = marked.groupBy("user_id", "_pane").agg(
        F.sum("is_new").alias("_pane_new")
    )
    offsets = nb_summ.select(
        "user_id", "_pane",
        F.coalesce(F.sum("_pane_new").over(w_pref), F.lit(0)).alias(
            "_sess_off"
        ),
    )
    w_cum = w_pane.rowsBetween(Window.unboundedPreceding, 0)
    sessions = marked.join(offsets, on=["user_id", "_pane"]).select(
        "user_id", "ts",
        (F.col("_sess_off") + F.sum("is_new").over(w_cum)).alias(
            "session_id"
        ),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.col("ts").cast("long")).alias("session_start"),
        F.max(F.col("ts").cast("long")).alias("session_end"),
    )


@register(
    "events_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*)::BIGINT AS n_users,
           count(first_signup)::BIGINT AS n_signed,
           sum(CASE WHEN first_purchase > first_signup
                    THEN 1 ELSE 0 END)::BIGINT AS n_converted
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> purchase conversion: conditional aggregation, two
    tiny shuffles, no self-join (the naive funnel join is O(events²))."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed"),
        F.sum(
            F.when(F.col("first_purchase") > F.col("first_signup"), 1).otherwise(0)
        ).alias("n_converted"),
    )


@register(
    "tpch_q14",
    oracle=f"""
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{D_1996_01_01}'
      AND l_shipdate <  TIMESTAMP '{D_1996_04_01}'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect report: conditional aggregate over a
    fact ⋈ part join.

    NO broadcast hint on part: part scales with SF (billions of rows
    at 100-TB TPC-H), so the join shuffles on partkey and AQE
    promotes to broadcast only when the pruned side actually fits.
    The date filter reaches the lineitem scan (PushedFilters); both
    branches of the CASE fold into ONE partial aggregate — a single
    full-width pass, no second scan for the denominator."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz(D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(D_1996_04_01))
    )
    pa = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q18",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           floor(epoch(o_orderdate))::BIGINT AS o_date,
           round(o_totalprice, 4) AS totalprice,
           round(sum(l_quantity), 4) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-customer report: the agg-filtered semi-join.

    The HAVING subquery and the outer per-order aggregate both hash
    on l_orderkey, so the semi join lands on an already-partitioned
    stream — Catalyst reuses the exchange instead of shuffling twice.
    Neither lineitem side is broadcastable at scale (both fact-sized,
    big-big SMJ is correct); customer joins AFTER the per-order
    aggregate, onto order-grain rows, and carries no hint for the
    same reason as tpch_q10."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 150)
        .select("l_orderkey")
    )
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    per_order = (
        li.join(big, on="l_orderkey", how="left_semi")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )
    return (
        per_order.join(od, per_order.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("o_date"),
            F.round("o_totalprice", 4).alias("totalprice"),
            "sum_qty",
        )
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 4) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_9'))
          AND l_shipdate >= TIMESTAMP '{D_1996_01_01}'
          AND l_shipdate <  TIMESTAMP '{D_1997_01_01}'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-shipping report between two nations, by year.

    Dim-side pre-filtering: each nation branch filters to its two
    rows BEFORE joining, so supplier/customer carry the nation name
    along and the disjunctive nation-pair predicate collapses to a
    cheap post-join inequality — the fact table never sees a
    disjunction, keeping its date filter fully pushed.  Only the
    25-row nation dim is hint-broadcast; the nation-filtered
    supplier/customer sides still scale with SF (2/25 of a billion
    rows at 100-TB TPC-H), so they are UNhinted — shuffle joins that
    AQE promotes to broadcast when the filtered side actually fits
    (it does at every test SF).  lineitem ⋈ orders shuffles on
    orderkey (both fact-sized)."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    su = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n.where(F.col("n_name").isin("NATION_9", "NATION_2"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cu = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n.where(F.col("n_name").isin("NATION_9", "NATION_2"))),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz(D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(D_1997_01_01))
    )
    od = load_table(spark, sf_dir, "orders")
    return (
        li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue")
        )
    )


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{D_1996_01_01}'
          AND l_shipdate <  TIMESTAMP '{D_1996_04_01}'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue (the view + scalar-max
    shape).

    The revenue aggregate is computed once per branch off a shared
    subplan; the scalar max is a 1-row global AGGREGATE crossJoined
    back as a broadcast (BroadcastNestedLoopJoin on one row) — NOT
    an empty-partition window, which would funnel the entire
    per-suppkey aggregate (supplier-sized, SF-scaling) through a
    single task's sort.  The date filter is pushed to the lineitem
    scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz(D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(D_1996_04_01))
        # explicit, so the supplier equi-join's inferred isnotnull
        # lands in BOTH branches off `rev` — canonical-identical
        # subtrees are what lets AQE reuse the suppkey exchange
        # (one physical lineitem scan for revenue AND its max)
        & F.col("l_suppkey").isNotNull()
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("_mx")
    )
    su = load_table(spark, sf_dir, "supplier")
    return (
        top.join(su, top.supplier_no == su.s_suppkey)
        .orderBy("s_suppkey")
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17",
    oracle="""
    WITH a AS (
        SELECT l_partkey, 0.5 * avg(l_quantity) AS qty_threshold
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l
    JOIN part ON l.l_partkey = p_partkey AND p_brand = 'Brand#1'
    JOIN a    ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < a.qty_threshold
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue: the correlated-subquery ->
    join-on-aggregate decorrelation (TPC-H Q17's textbook rewrite).

    The per-part average is ONE partial-agg shuffle on partkey; the
    probe side joins it on the same key, so Catalyst lines both up on
    one partitioning instead of re-executing the subquery per row.
    Parity note: l_quantity is integer-valued, so sum/count and the
    0.5x threshold are bit-identical on both engines — the inequality
    cannot flip on summation-order ulps.  The part join is UNhinted
    (part scales with SF; the brand filter still leaves 1/25 of it —
    AQE decides)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("qty_threshold")
    )
    pa = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#1"
    )
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(a, li.l_partkey == a._pk)
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 late additions: the remaining TPC-H shapes expressible on the
# reduced test schemas.  The test tables lack partsupp (q2/q9/q11/q16/q20
# out of reach) and lineitem lacks commitdate/receiptdate/shipmode, so
# q4/q12/q21 substitute "shipped more than N days after the order date"
# for the commit/receipt lateness predicate — same plan shape (correlated
# EXISTS, conditional class agg, anti/semi self-join), adapted predicate.
# ---------------------------------------------------------------------------

D_1996_07_01 = "1996-07-01 00:00:00"
D_1998_01_01 = "1998-01-01 00:00:00"
D_1999_01_01 = "1999-01-01 00:00:00"


@register(
    "tpch_q4",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{D_1996_01_01}'
      AND o_orderdate <  TIMESTAMP '{D_1996_07_01}'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (TPC-H Q4's correlated-EXISTS shape;
    lateness = shipped >60 days after ordering, standing in for the
    commit/receipt columns the test schema lacks).

    The EXISTS is ONE left-semi join on orderkey with the correlated
    date inequality folded into the join condition — no subquery
    re-execution, no distinct pre-agg on lineitem (semi join stops at
    the first match per order).  Both sides are fact-sized so the
    semi join shuffles on orderkey; the quarter filter is pushed to
    the orders scan and prunes before the shuffle."""
    od = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz(D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(D_1996_07_01))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        od.join(
            li,
            (od.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > od.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q8",
    oracle=f"""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '{D_1996_01_01}'
        AND o_orderdate <  TIMESTAMP '{D_1998_01_01}'
        AND p_type = 'ECONOMY'
    )
    GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: the 8-table snowflake join.

    Dim-side pre-reduction before the facts join: customer joins the
    region-filtered nation (broadcast — nation/region are the only
    constant-size dims, per the round-6 hint policy) so the EUROPE
    predicate never touches a fact row; supplier carries its nation
    name the same way.  part is filtered by type at the scan
    (PushedFilters) and joins lineitem on partkey UNhinted — part
    scales with SF, AQE promotes from measured size.  The join order
    li⋈part -> li⋈supplier -> ⋈orders(date-pushed) -> ⋈customer
    keeps every intermediate at (shrinking) fact grain; the final
    conditional agg folds numerator and denominator into one pass."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    re = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_nations = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .join(re, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("_eu_nk"))
    )
    cu = load_table(spark, sf_dir, "customer").join(
        eu_nations, F.col("c_nationkey") == F.col("_eu_nk")
    ).select("c_custkey")
    su = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    pa = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    od = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz(D_1996_01_01))
        & (F.col("o_orderdate") < _ntz(D_1998_01_01))
    )
    li = load_table(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_7", volume).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q12",
    oracle=f"""
    SELECT late_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 'LATE' ELSE 'ONTIME' END AS late_class
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '{D_1996_01_01}'
        AND l_shipdate <  TIMESTAMP '{D_1997_01_01}'
    )
    GROUP BY late_class ORDER BY late_class
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-lateness report (TPC-H Q12's conditional-class-count
    shape; LATE/ONTIME classes derived from ship-vs-order date stand
    in for the missing shipmode/commit/receipt columns).

    One big-big join on orderkey (neither side broadcastable at
    scale), then both priority counts fold into ONE partial
    aggregate over a 2-row group space — map-side combine reduces
    each partition to <=2 rows before the exchange.  The ship-year
    filter is pushed to the lineitem scan."""
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz(D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(D_1997_01_01))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .withColumn(
            "late_class",
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                F.lit("LATE"),
            ).otherwise(F.lit("ONTIME")),
        )
        .groupBy("late_class")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("late_class")
    )


@register(
    "tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution: the left-outer +
    two-level-aggregate shape (customers with zero qualifying orders
    must survive as c_count=0, so the filter lives in the JOIN
    CONDITION, not a WHERE).

    First agg shuffles on custkey — the same key as the join, so
    Catalyst reuses the exchange; second agg shuffles the per-
    customer counts (one row per customer) into a tiny distribution.
    No hints: orders and customer both scale with SF."""
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        cu.join(od, cu.c_custkey == od.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q19",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue report: the disjunctive mixed-table
    predicate (Q19's shape, minus the shipmode/shipinstruct columns
    the test schema lacks).

    The cross-table OR cannot be pushed whole, so each side also
    gets its IMPLIED single-table conjunct made explicit — part
    pre-filters to the three brands (IN-list reaches the scan via
    PushedFilters) and lineitem to the covering quantity envelope
    [1,40] — the textbook Q19 rewrite; the residual disjunction then
    runs post-join on the already-reduced stream.  The partkey join
    is UNhinted (part scales with SF; the brand filter leaves 3/25 —
    AQE decides)."""
    pa = load_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(1, 40)
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .where(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q21",
    oracle="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, count(*) AS numwait
    FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.is_late
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late)
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (Q21's EXISTS / NOT-EXISTS
    pair; lateness = shipped >90 days after ordering).

    The two correlated self-joins are rewritten as ONE window pass:
    per order, the distinct-supplier set and the distinct-LATE-
    supplier set ride a single partitionBy(orderkey) window
    (collect_set — order-insensitive, so no sort requirement), and a
    line qualifies iff it is late, the order has >=2 suppliers, and
    the late-set is exactly {itself}.  That turns two extra
    fact-table shuffles into zero — the window reuses the join's
    orderkey partitioning.  supplier joins UNhinted at order grain
    (scales with SF; AQE promotes when it fits)."""
    od = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    l = od.join(li, od.o_orderkey == li.l_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    marked = l.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("_n_supp"),
        F.size(
            F.collect_set(
                F.when(F.col("is_late"), F.col("l_suppkey"))
            ).over(w)
        ).alias("_n_late_supp"),
    )
    su = load_table(spark, sf_dir, "supplier")
    return (
        marked.where(
            F.col("is_late")
            & (F.col("_n_supp") >= 2)
            & (F.col("_n_late_supp") == 1)
        )
        .join(su, F.col("l_suppkey") == su.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
    )


@register(
    "tpch_q22",
    oracle=f"""
    SELECT n_name, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                       WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '{D_1999_01_01}')
    GROUP BY n_name ORDER BY n_name
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (Q22's scalar-subquery + anti-join
    shape): above-average-balance customers with no RECENT orders,
    grouped by nation (the test schema has no c_phone, so nation
    stands in for the phone-prefix country code; "no orders since
    1999" keeps the anti-join non-degenerate at every test SF).

    The balance average is a 1-row aggregate crossJoined in (a
    broadcast nested loop over one row — the catalog's standard
    scalar pattern); the NOT EXISTS is one left-anti join on custkey
    against the date-pruned orders scan (filter pushed, so the anti
    side shrinks before the shuffle).  Only the 25-row nation dim is
    hint-broadcast."""
    cu = load_table(spark, sf_dir, "customer")
    avg_bal = cu.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= _ntz(D_1999_01_01)
    ).select("o_custkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, cu.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@register(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts/supplier relationship report (TPC-H Q16's
    distinct-count + NOT-IN shape; the test schema has no partsupp,
    so lineitem is the part↔supplier association, and no s_comment,
    so negative account balance stands in for the complaint filter).

    The excluded-supplier subquery is ONE left-anti join — s_suppkey
    is non-null by schema so NOT IN degenerates to anti-join
    semantics safely; the blacklist scales with SF (a fixed fraction
    of suppliers), so it carries NO hint and AQE promotes from
    measured size.  The distinct count is Spark's standard two-phase
    plan: partial dedup on (brand, type, size, suppkey) with
    map-side combine, then the count — both shuffles carry
    already-collapsed rows.  Brand/size filters reach the part
    scan."""
    pa = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(pa, li.l_partkey == pa.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            "p_brand",
            "p_type",
            "p_size",
        )
    )


# ---------------------------------------------------------------------------
# The partsupp four (q2/q9/q11/q20) — the last TPC-H shapes, reachable
# once sources/derived.py synthesizes partsupp identically on both
# engines.  partsupp is FACT-class (4x|part| — ~0.8 B rows at SF 1000),
# so it carries no broadcast hint anywhere below.


@register(
    "tpch_q2",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    eligible AS (
      SELECT s_acctbal, s_name, n_name, ps_partkey, p_brand,
             ps_supplycost,
             min(ps_supplycost) OVER (PARTITION BY ps_partkey)
                 AS min_cost
      FROM partsupp
      JOIN part     ON p_partkey = ps_partkey
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      JOIN region   ON r_regionkey = n_regionkey
      WHERE p_size <= 15 AND p_type = 'STANDARD' AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey, p_brand,
           ps_supplycost AS supply_cost
    FROM eligible
    WHERE ps_supplycost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (TPC-H Q2's correlated-min subquery —
    cheapest EUROPE supplier per qualifying part; p_size <= 15
    stands in for the spec's size equality so every test SF keeps a
    non-degenerate result, p_brand for the absent p_mfgr).

    The correlated subquery decorrelates to ONE window min over the
    already-joined eligible rows — the min is per ps_partkey, so the
    window REUSES the part-join's key and adds no exchange beyond
    the partkey shuffle the join already pays.  partsupp/part/
    supplier are unhinted (all scale with SF); only the constant
    nation/region dims carry hints.  The final ORDER + LIMIT 100 is
    a TakeOrderedAndProject — no global sort of the eligible set."""
    ps = partsupp(spark, sf_dir)
    pa = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_brand")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    re = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    ).select("r_regionkey")
    eligible = (
        ps.join(pa, ps.ps_partkey == pa.p_partkey)
        .join(su, ps.ps_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eligible.withColumn(
            "_min_cost", F.min("ps_supplycost").over(w)
        )
        .where(F.col("ps_supplycost") == F.col("_min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            F.col("ps_supplycost").alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
        )
        .limit(100)
    )


@register(
    "tpch_q9",
    oracle=f"""
    WITH {PARTSUPP_CTE}
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity), 4) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit measure (TPC-H Q9: the 6-way snowflake —
    profit = revenue minus supply cost, by supplier nation and order
    year, over '%red%' parts).

    Join order puts the most selective reduction first: lineitem ⋈
    filtered part (13% of parts) shrinks the fact stream before the
    composite-key partsupp join; orders joins at order grain for the
    year only.  lineitem⋈partsupp and lineitem⋈orders are big-big at
    100-TB TPC-H — shuffle joins on their keys are the intended
    shape (AQE promotes partsupp/part/supplier to broadcast at test
    SF from measured sizes; no explicit hints, only the 25-row
    nation dim is hinted)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    pa = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    ps = partsupp(spark, sf_dir)
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey)
            & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "tpch_q11",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    natps AS (
      SELECT ps_partkey, ps_supplycost * ps_availqty AS value
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
    ),
    tot AS (
      SELECT sum(value) AS total,
             count(DISTINCT ps_partkey) AS nparts
      FROM natps
    )
    SELECT ps_partkey, round(sum(value), 4) AS part_value
    FROM natps, tot
    GROUP BY ps_partkey, total, nparts
    HAVING sum(value) > 2.0 * total / nparts
    ORDER BY part_value DESC, ps_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (TPC-H Q11's scalar-subquery
    HAVING: parts whose national inventory value exceeds a
    threshold).  The spec's fixed FRACTION is 0.0001/SF — scaled by
    hand per run; here the threshold is 2x the MEAN per-part value
    (total/nparts from the same scalar subquery), which keeps the
    selectivity character stable at every SF without a per-SF
    constant.

    Shape: one partkey-grouped aggregation over the nation-filtered
    partsupp slice, then the 1-row totals crossJoined in (broadcast
    nested loop over one row — the catalog's scalar pattern) and the
    HAVING applied as a filter.  The nation filter reaches partsupp
    THROUGH the supplier join (a fixed 1/|nation| of suppliers —
    scales with SF, unhinted)."""
    ps = partsupp(spark, sf_dir)
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    na = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    ).select("n_nationkey")
    natps = (
        ps.join(su, ps.ps_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("value"),
        )
    )
    tot = natps.agg(
        F.sum("value").alias("_total"),
        F.countDistinct("ps_partkey").alias("_nparts"),
    )
    return (
        natps.groupBy("ps_partkey")
        .agg(F.sum("value").alias("_value"))
        .crossJoin(F.broadcast(tot))
        .where(
            F.col("_value") > 2.0 * F.col("_total") / F.col("_nparts")
        )
        .select(
            "ps_partkey", F.round("_value", 4).alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


@register(
    "tpch_q20",
    oracle=f"""
    WITH {PARTSUPP_CTE},
    shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{D_1996_01_01}'
        AND l_shipdate <  TIMESTAMP '{D_1997_01_01}'
      GROUP BY l_partkey, l_suppkey
    ),
    qualifying AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN part    ON p_partkey = ps_partkey AND p_name LIKE 'red%'
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_availqty > 0.5 * qty
    )
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN qualifying ON ps_suppkey = s_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
    ORDER BY s_name
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential-part-promotion (TPC-H Q20's nested semi-join chain:
    EUROPE suppliers holding excess stock — availqty above half of
    what they shipped in 1996 — of some 'red...' part).

    The two nested IN-subqueries flatten into a join chain that
    reduces BEFORE touching supplier: lineitem aggregates to
    (partkey, suppkey, qty) behind its pushed 1996 shipdate filter,
    partsupp semi-reduces through the red-part join, and the
    excess-stock comparison is an inner join on the composite key
    (spec semantics: a pair with NO 1996 shipments compares NULL and
    drops).  The final DISTINCT suppkey set is dim-sized, so the
    supplier join broadcasts by AQE measurement — unhinted, since
    qualifying suppliers scale with SF."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz(D_1996_01_01))
        & (F.col("l_shipdate") < _ntz(D_1997_01_01))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("_qty")
    )
    pa = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    ps = partsupp(spark, sf_dir)
    qualifying = (
        ps.join(pa, ps.ps_partkey == pa.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    re = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    ).select("r_regionkey")
    return (
        su.join(qualifying, su.s_suppkey == F.col("ps_suppkey"))
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


_PR_SCALE = 1_000_000_000_000  # 1e12 integer rank grid


def _pr_iter_sql(i: int) -> str:
    """One DuckDB power-iteration CTE pair (s{i}, r{i}) from r{i-1}.
    MATERIALIZED on both: each iteration must be computed once over
    the materialized graph, never inlined back through the chain
    (see the pagerank oracle's header comment)."""
    return f"""
    s{i} AS MATERIALIZED (
        SELECT e.dst AS node, sum(r.r // o.d) AS s
        FROM edges e
        JOIN r{i-1} r ON r.node = e.src
        JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS MATERIALIZED (
        SELECT n0.node,
               (15 * ({_PR_SCALE} // nn.n)) // 100
               + (85 * coalesce(s, 0)) // 100 AS r
        FROM nodes n0
        LEFT JOIN s{i} USING (node), nn
    )"""


@register(
    "pagerank_trade",
    oracle=f"""
    -- MATERIALIZED throughout is load-bearing at scale, not style
    -- (same lesson as triangle_count's r12 sf1 red row): the graph
    -- CTEs are consumed by every unrolled iteration (edges ~8
    -- consumers counting the per-iteration node lists), and DuckDB
    -- inlines plain CTEs — the un-hinted form re-ran the
    -- lineitem-join-orders distinct per consumer and blew through a
    -- ~19 GB spill budget at sf1, while the hinted form computes
    -- each stage once, exactly like the stepwise/Spark execution.
    WITH trade AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
        SELECT src, dst FROM trade
        UNION ALL
        SELECT dst, src FROM trade
    ),
    outdeg AS MATERIALIZED (
        SELECT src, count(*) AS d FROM edges GROUP BY src
    ),
    nn AS MATERIALIZED (SELECT count(DISTINCT src) AS n FROM edges),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    r0 AS MATERIALIZED (
        SELECT node, {_PR_SCALE} // n AS r FROM nodes, nn
    ),
    {_pr_iter_sql(1)},
    {_pr_iter_sql(2)},
    {_pr_iter_sql(3)}
    SELECT node, round(r / 1e12, 6) AS rank
    FROM r3 ORDER BY r DESC, node ASC LIMIT 20
    """,
)
def pagerank_trade(
    spark: SparkSession, sf_dir: str, persist_edges: bool = False
) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph
    (3 power iterations, damping 0.85): the graph-centrality pass a
    curation pipeline runs over citation/link graphs to weight
    sources.  Symmetrizing removes dangling mass (every node has
    out-degree ≥ 1), keeping the oracle a pure iteration chain.

    Determinism contract (the kmeans/HLL rule applied to an
    ITERATIVE float algorithm): ranks live on an integer 1e-12 grid
    — per-edge contributions are integer floor-divisions and the
    per-node fold is an integer sum (order-independent!) — so three
    chained iterations stay bit-identical across engines where
    floating-point power iteration would drift by summation order.

    Scale shape: the 3 iterations build ONE static declarative DAG
    (no driver loop state, no collect — Catalyst sees the whole
    lineage): per iteration, one edges⋈ranks join on src (both
    corpus-scale: co-partition edges by src and the join reuses the
    partitioning across iterations) + one map-side-combined sum on
    dst.  Classic BSP/Pregel as DataFrame algebra; iterations are a
    fixed unrolled count, the deterministic-snapshot equivalent of
    iterate-until-converged."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # Node ids travel as LONGS through every corpus-grain exchange
    # (customer c -> 2c, supplier s -> 2s+1 — injective, parity
    # recovers the class): the graph passes below — the distinct, the
    # three per-iteration contribution aggregations, the outdeg/nodes
    # builds — shuffle and hash 8-byte keys instead of the "c123"/
    # "s45" strings the output speaks (narrower shuffle keys; the
    # display string is attached at NODES grain, after the last
    # aggregation, where rows number |V| not |E|).
    trade = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # The edge list feeds every iteration (plus outdeg/nodes/nn), so
    # each reference re-runs the lineitem⋈orders distinct — the
    # GraphX instinct says persist it.  MEASURED OTHERWISE at this
    # scale: persisting planned 5.7 -> 9.3 s, because the cache
    # materialization barrier hides size stats from AQE, turning the
    # per-iteration edges⋈ranks joins into fixed-partition SMJs where
    # the un-persisted plan broadcasts the (nodes-sized) rank frame
    # from measured sizes.  At 100-TB graph scale the calculus flips
    # — ranks stop being broadcastable, the SMJ is the intended
    # shape, and you materialize the edge list once — which is what
    # persist_edges=True selects (the wired scale knob; identical
    # results, property-tested).
    edges = trade.unionAll(
        trade.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    if persist_edges:
        # pinned per invocation (tmpdirs.pin): repeated bench/probe
        # passes measure a cold build, and the cache is released with
        # the run instead of accumulating across knob invocations
        edges = pin(edges, StorageLevel.MEMORY_AND_DISK_DESER)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    nodes = edges.select("src").distinct().withColumnRenamed(
        "src", "node"
    )
    nn = edges.agg(F.countDistinct("src").alias("nn"))
    ranks = (
        nodes.crossJoin(F.broadcast(nn))
        .selectExpr(
            "node", f"cast({_PR_SCALE} as bigint) div nn AS r", "nn"
        )
    )
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, on="src")
            .selectExpr("dst", "r div d AS c")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(nn))
            .selectExpr(
                "node",
                f"(15 * (cast({_PR_SCALE} as bigint) div nn)) div 100"
                " + (85 * coalesce(s, 0)) div 100 AS r",
                "nn",
            )
        )
    # Re-attach the display string at nodes grain; the tie-break must
    # be the STRING order the contract pins (e.g. "c10" < "c2"), so
    # the string is computed before the top-20 selection — |V| rows,
    # not |E|.
    node_str = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("node div 2").cast("string"),
    )
    return (
        ranks.select(node_str.alias("node"), "r")
        .orderBy(F.col("r").desc(), F.col("node").asc())
        .limit(20)
        .select(
            "node",
            F.round(F.col("r") / 1e12, 6).alias("rank"),
        )
    )


@register(
    "triangle_count",
    conf={PARALLELISM_FIRST: "false"},
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    ok_parts AS (
        SELECT pk FROM ps GROUP BY pk HAVING count(*) <= 64
    ),
    co AS (
        SELECT a.sk AS s1, b.sk AS s2, count(*) AS w
        FROM ps a
        JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
        JOIN ok_parts op ON op.pk = a.pk
        GROUP BY a.sk, b.sk
    ),
    -- MATERIALIZED is load-bearing at scale, not a style choice:
    -- edges is consumed three times (e1, e2, and the EXISTS's e3)
    -- and DuckDB inlines plain CTEs, so the un-hinted form re-runs
    -- the whole ps->co->top-5000 pipeline per consumer plus a
    -- delim-join decorrelation — three simultaneous corpus-scale
    -- hash builds that spilled >17 GB and exhausted local disk at
    -- sf1 (LOCAL_GATE_sf1_r12's one red row) while the hinted form
    -- runs in ~6 s.  Spark's side needs no hint: Catalyst's
    -- ReuseExchange deduplicates the identical subtree (see the
    -- operator docstring).
    edges AS MATERIALIZED (
        SELECT s1, s2 FROM co
        ORDER BY w DESC, s1 ASC, s2 ASC LIMIT 5000
    ),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM edges e1
        JOIN edges e2 ON e1.s2 = e2.s1
        WHERE EXISTS (
            SELECT 1 FROM edges e3
            WHERE e3.s1 = e1.s1 AND e3.s2 = e2.s2
        )
    ),
    pernode AS (
        SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT node AS s_suppkey, tri_cnt
    FROM pernode
    ORDER BY tri_cnt DESC, s_suppkey ASC LIMIT 10
    """,
)
def triangle_count(
    spark: SparkSession, sf_dir: str, backbone: int = 5000
) -> DataFrame:
    """Per-node triangle participation over the supplier co-supply
    graph (edge = two suppliers carrying the same part) — the graph
    clustering-coefficient probe beside pagerank_trade's centrality:
    triangle-dense nodes sit in tight communities (the structure a
    curation pipeline exploits to spot mirror farms in a link
    graph).

    Bounded at every stage, the pair-generation discipline of the
    dedup family applied to a graph build:
    1. per-part supplier lists are df-CAPPED (parts with > 64
       suppliers are dropped, the hot-shingle guard — a universal
       part contributes O(cap²), never O(suppliers²));
    2. the projection is then SPARSIFIED to the top-``backbone``
       strongest edges by co-supply weight (deterministic total
       order: weight desc, then endpoints) — triangle counting on
       the backbone graph, the standard sparsify-then-count shape,
       planned as TakeOrderedAndProject (per-partition k-heap, no
       sort shuffle).  ``backbone`` is the wired scale knob (the
       oracle pins the default 5000): wedge/closure cost grows
       ~O(backbone^1.5) independent of corpus size, so the cap is
       where recall is traded for cost — measured across the data
       decade in SCALEPROBE_r10 (default vs 2x cap).
       CAP-INTERPLAY, measured at sf1 (round-13): the cap binds
       HARD well before cost does — the co-supply candidate set is
       ~500k edges per sf0.1 decade (~5M at sf1), so the default
       keeps 0.1% of edges, the cut sits mid-distribution (weight
       32 of max 42, with ~2.1k further edges TIED at the cut and
       dropped by the deterministic (w, s1, s2) order — on a
       replicated corpus that tie-break systematically favors
       low-id suppliers), and growth in corpus size only sharpens
       the selection.  The scale story is therefore NOT "raise
       backbone with the data": it is that per-node triangle
       counts are computed over a fixed-size strongest-edge
       backbone whose graph coverage SHRINKS as the corpus grows —
       callers wanting constant coverage must scale ``backbone``
       (cost ~backbone^1.5, all broadcast-side) or shard the graph
       (per-community backbones) upstream.  The x10->x40 walls and
       the cut/tie diagnostics are recorded in SCALING.md;
    3. triangles enumerate ORIENTED (s1 < s2 everywhere), so each
       triangle is produced exactly once: wedge join on the middle
       vertex + a semi join closing the third side — never an
       unordered 3-way product.
    The backbone is 5000 rows by construction, so Spark broadcasts
    it to both sides of the wedge/closure joins regardless of
    corpus size.  The distinct (pk, sk) projection and the backbone
    itself are each PINNED for the invocation (r16): un-pinned, the
    df-cap aggregate re-planned its own parquet scan + distinct
    shuffle beside the ReuseExchange-recovered pair sides, and the
    three backbone references each re-ran the TakeOrdered selection
    over the 500k-row edge aggregate.  (A driver-side
    materialization of the 5000 rows — the PCA/kmeans instinct —
    was measured 2x SLOWER back in r7 because collect breaks the
    subtree reuse entirely; the executor-side persist keeps the
    rows distributed and the joins broadcasting from measured
    sizes.)"""
    li = load_table(spark, sf_dir, "lineitem")
    ps = pin(
        li.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        ).distinct(),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    ok = ps.groupBy("pk").agg(F.count(F.lit(1)).alias("ns")).where(
        F.col("ns") <= 64
    ).select("pk")
    a = ps.alias("a")
    b = ps.alias("b")
    co = (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.sk") < F.col("b.sk")))
        .join(ok, on="pk")
        .groupBy(
            F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pin(
        co.orderBy(F.col("w").desc(), F.col("s1").asc(), F.col("s2").asc())
        .limit(backbone)
        .select("s1", "s2"),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.s2") == F.col("e2.s1")).select(
        F.col("e1.s1").alias("ta"),
        F.col("e1.s2").alias("tb"),
        F.col("e2.s2").alias("tc"),
    )
    tri = wedges.join(
        edges.select(
            F.col("s1").alias("ta"), F.col("s2").alias("tc")
        ),
        on=["ta", "tc"],
        how="left_semi",
    )
    nodes = (
        tri.select(F.col("ta").alias("node"))
        .unionAll(tri.select(F.col("tb").alias("node")))
        .unionAll(tri.select(F.col("tc").alias("node")))
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
        .orderBy(F.col("tri_cnt").desc(), F.col("node").asc())
        .limit(10)
        .select(F.col("node").alias("s_suppkey"), "tri_cnt")
    )


def _tri_scaled_oracle(frac_bp: int = 100, min_cap: int = 500) -> str:
    """Oracle for triangle_count_scaled, parameterized so the test
    suite can oracle-check a SECOND (frac_bp, min_cap) setting beyond
    the registered default (round-13 verdict task 2).  The fraction
    is BASIS POINTS (100 bp = 1%) so the cap is exact integer
    arithmetic on both engines — a float ``ceil(0.01 * n)`` can tip
    over an integer boundary where DECIMAL math does not."""
    return f"""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    ok_parts AS (
        SELECT pk FROM ps GROUP BY pk HAVING count(*) <= 64
    ),
    co AS MATERIALIZED (
        SELECT a.sk AS s1, b.sk AS s2, count(*) AS w
        FROM ps a
        JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
        JOIN ok_parts op ON op.pk = a.pk
        GROUP BY a.sk, b.sk
    ),
    cap AS (
        SELECT greatest({min_cap},
                        ({frac_bp} * count(*) + 9999) // 10000) AS cap,
               count(*) AS n_edges
        FROM co
    ),
    ranked AS (
        SELECT s1, s2,
               row_number() OVER (ORDER BY w DESC, s1 ASC, s2 ASC) AS rn
        FROM co
    ),
    -- MATERIALIZED for the same three-consumer reason as #112's
    -- oracle (LOCAL_GATE_sf1_r12's red-row lesson)
    edges AS MATERIALIZED (
        SELECT s1, s2 FROM ranked, cap WHERE rn <= cap.cap
    ),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM edges e1
        JOIN edges e2 ON e1.s2 = e2.s1
        WHERE EXISTS (
            SELECT 1 FROM edges e3
            WHERE e3.s1 = e1.s1 AND e3.s2 = e2.s2
        )
    ),
    pernode AS (
        SELECT node, count(*) AS tri_cnt FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT node AS s_suppkey, tri_cnt,
           round(CAST(least(cap.cap, cap.n_edges) AS DOUBLE)
                 / cap.n_edges, 6) AS kept_fraction
    FROM pernode, cap
    ORDER BY tri_cnt DESC, s_suppkey ASC LIMIT 10
    """


@register(
    "triangle_count_scaled",
    oracle=_tri_scaled_oracle(),
    conf={PARALLELISM_FIRST: "false"},
)
def triangle_count_scaled(
    spark: SparkSession,
    sf_dir: str,
    frac_bp: int = 100,
    min_cap: int = 500,
) -> DataFrame:
    """#112 with the backbone cap wired as a DATA-SCALED parameter
    (round-13 verdict task 2): the fixed top-5000 backbone keeps a
    VANISHING fraction of the co-supply graph as the corpus grows
    (TRI_DECADE_r13 measured coverage 0.1% -> 0.025% across one
    decade), so this form keeps ``max(min_cap, ceil(frac_bp *
    n_edges / 10000))`` strongest edges (``frac_bp`` in basis
    points; integer ceil, engine-exact) — constant COVERAGE, cost
    growing ~O((frac·E)^1.5) — and surfaces ``kept_fraction`` on
    every output row (the no-silent-caps discipline, #166's
    precedent).

    Oracle-checked at TWO settings: the registered default here and
    (frac_bp=500, min_cap=100) in tests/test_round14.py, both built
    from ``_tri_scaled_oracle``.

    Scale strategy — how a data-dependent top-N avoids both a global
    sort and a driver-sized TakeOrdered heap:
    1. the co-supply edge aggregate ``co`` is persisted once (the
       materialize-the-projection-once shape; at 100 TB the edge
       list is orders of magnitude smaller than the corpus);
    2. its WEIGHT HISTOGRAM — one row per distinct co-supply count,
       dozens of rows regardless of corpus size — is the only thing
       collected (bounded-model fold, the kmeans-centroid
       precedent).  The driver derives n_edges, the cap, and the
       boundary weight w* from the histogram alone;
    3. one pushed-down FILTER keeps w >= w*; a row_number windowed
       per WEIGHT CLASS (every class bounded — the w* class matches
       #112's measured ~2.1k-ties-at-the-cut profile) admits the
       w > w* rows outright and the w* ties up to the remainder.
       No global window, no corpus-size-dependent heap on any
       single node; the cap-sized edge frame is then pinned once
       for its three join references (r16).
    The wedge/closure enumeration and the oriented-triangle
    discipline are #112's verbatim; the backbone stays broadcast-
    able by construction at the default frac (caller-scaled beyond
    that, documented trade in SCALING.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct (pk, sk) projection feeds THREE consumers (pair
    # sides a/b and the df-cap aggregate): un-pinned, ReuseExchange
    # recovered a/b but the cap aggregate re-planned its own scan +
    # distinct shuffle (r16 plan audit: 2 parquet scans, 2 distinct
    # exchanges).  Pinning the skinny two-long frame (nonce: see the
    # co comment below) makes all three read one materialization.
    ps = pin(
        li.select(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        ).distinct(),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    ok = ps.groupBy("pk").agg(F.count(F.lit(1)).alias("ns")).where(
        F.col("ns") <= 64
    ).select("pk")
    a = ps.alias("a")
    b = ps.alias("b")
    # pin's per-invocation nonce: Spark's CacheManager matches
    # persisted plans STRUCTURALLY, so without it a second
    # invocation's identical plan silently reads the first's cache —
    # bench/probe passes then measure a warm cache, not the query
    # (the r14 tri_decade first cut read a 0.03 exponent that way).
    # The nonce keeps reuse within ONE invocation (pay the edge
    # aggregate once) and makes every cross-invocation pass honestly
    # cold.
    co = pin(
        a.join(
            b,
            (F.col("a.pk") == F.col("b.pk"))
            & (F.col("a.sk") < F.col("b.sk")),
        )
        .join(ok, on="pk")
        .groupBy(F.col("a.sk").alias("s1"), F.col("b.sk").alias("s2"))
        .agg(F.count(F.lit(1)).alias("w")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    hist = sorted(
        co.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect(),
        key=lambda r: -r.w,
    )  # bounded: one row per distinct co-supply weight
    n_edges = sum(r.c for r in hist)
    if n_edges == 0:
        return spark.createDataFrame(
            [], "s_suppkey bigint, tri_cnt bigint, kept_fraction double"
        )
    cap = max(min_cap, (frac_bp * n_edges + 9999) // 10000)
    run, wstar, remaining = 0, None, cap
    for r in hist:
        if run + r.c >= cap:
            wstar, remaining = r.w, cap - run
            break
        run += r.c
    if wstar is None:  # cap >= n_edges: whole graph kept
        edges = co.select("s1", "s2")
    else:
        # ONE windowed pass instead of above ∪ boundary: filter to
        # w >= w*, row_number within each (bounded) weight class,
        # keep w > w* outright and w == w* up to the remainder.  The
        # union form read the co cache twice and doubled the edges
        # subtree under each of its three downstream references
        # (r16: 6 cache scans -> 3, and the plan halves).
        bw = Window.partitionBy("w").orderBy(
            F.col("s1").asc(), F.col("s2").asc()
        )
        edges = (
            co.where(F.col("w") >= wstar)
            .withColumn("rn", F.row_number().over(bw))
            .where((F.col("w") > wstar) | (F.col("rn") <= remaining))
            .select("s1", "s2")
        )
        # The cap-sized edge frame is consumed three times (wedge
        # sides e1/e2 and the closure semi join): pinned, those
        # joins read a few-thousand-row cache instead of re-running
        # filter + window over the 500k-row co cache per reference.
        # This is a PERSIST, not the driver-side collect the
        # docstring above warns about — the rows stay executor-side
        # and the joins still broadcast from measured sizes.  (The
        # cap >= n_edges branch above skips it: there edges IS co,
        # already cached — a second cache would just duplicate it.)
        edges = pin(edges, StorageLevel.MEMORY_AND_DISK_DESER)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.s2") == F.col("e2.s1")).select(
        F.col("e1.s1").alias("ta"),
        F.col("e1.s2").alias("tb"),
        F.col("e2.s2").alias("tc"),
    )
    tri = wedges.join(
        edges.select(F.col("s1").alias("ta"), F.col("s2").alias("tc")),
        on=["ta", "tc"],
        how="left_semi",
    )
    nodes = (
        tri.select(F.col("ta").alias("node"))
        .unionAll(tri.select(F.col("tb").alias("node")))
        .unionAll(tri.select(F.col("tc").alias("node")))
    )
    # engine-side HALF_UP round (the repo's established round-parity
    # path vs DuckDB's round), not Python's banker's round
    kept_fraction = F.round(
        F.lit(float(min(cap, n_edges))) / F.lit(float(n_edges)), 6
    )
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_cnt"))
        .orderBy(F.col("tri_cnt").desc(), F.col("node").asc())
        .limit(10)
        .select(
            F.col("node").alias("s_suppkey"),
            "tri_cnt",
            kept_fraction.alias("kept_fraction"),
        )
    )


_BJ_SEED0 = 200  # key-Bloom seed family (shingle Bloom uses 100..103)


def _bj_duck_pos(j: int) -> str:
    from bugzilla_etl_spark.functions.hashing import duckdb_hash64

    return f"({duckdb_hash64('c', seed=_BJ_SEED0 + j)} % 65536)"


def _bj_oracle() -> str:
    pos_cases = " ".join(
        f"WHEN {j} THEN {_bj_duck_pos(j)}" for j in range(4)
    )
    return f"""
    WITH seg AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    spos AS (
        SELECT CASE j {pos_cases} END AS pos
        FROM (SELECT c_custkey AS c FROM seg),
             (SELECT unnest(range(0, 4)) AS j)
    ),
    words AS (
        SELECT pos // 32 AS w,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        FROM spos GROUP BY 1
    ),
    opos AS (
        SELECT o_orderkey,
               CASE j {pos_cases} END AS pos
        FROM (SELECT o_orderkey, o_custkey AS c FROM orders),
             (SELECT unnest(range(0, 4)) AS j)
    ),
    cand AS (
        SELECT o_orderkey
        FROM opos JOIN words ON words.w = opos.pos // 32
        WHERE (bits & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0
        GROUP BY o_orderkey HAVING count(*) = 4
    )
    SELECT count(*) AS n_orders,
           CAST(sum(CASE WHEN c.o_orderkey IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN s.c_custkey IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           round(sum(CASE WHEN s.c_custkey IS NOT NULL
                     THEN o.o_totalprice ELSE 0 END), 4)
               AS revenue_matched
    FROM orders o
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM cand) c
           ON o.o_orderkey = c.o_orderkey
    LEFT JOIN seg s ON o.o_custkey = s.c_custkey
    """


@register("bloom_join_prune", oracle=_bj_oracle())
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pushdown — the runtime-filter trick
    that makes dim⋈fact joins cheap at 100 TB: the filtered build
    side (BUILDING-segment customers) folds its join keys into an
    8 KB Bloom filter, the fact scan probes it MAP-ONLY (pure
    codegen bit tests against a literal word array — no join, no
    shuffle), and only surviving rows reach the exact semi join
    that removes the deterministic false positives.  Spark's own
    runtime bloom join (spark.sql.optimizer.runtime.bloomFilter)
    does this adaptively and invisibly; this operator makes the
    mechanics explicit with the portable md5 hash family, so the
    pruned counts — including the FP count, n_candidates −
    n_matched — value-oracle exactly.

    Output row: (n_orders, n_candidates, n_matched,
    revenue_matched): the scan-reduction ratio IS the result.
    Scale shape: build side is one dim-bounded aggregate collected
    as the 8 KB model (the bloom_build contract); probe adds zero
    exchanges to the fact scan; the verifying semi join runs on the
    ~20% survivor slice instead of the full fact."""
    from bugzilla_etl_spark.functions.hashing import hash64_seeded
    from bugzilla_etl_spark.operators.dedup import (
        BLOOM_BITS,
        bloom_fold_words,
    )

    cu = load_table(spark, sf_dir, "customer")
    seg = cu.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    words = bloom_fold_words(seg, "c_custkey", _BJ_SEED0)

    wlit = F.array(*[F.lit(int(x)) for x in words])
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    probe = od.withColumn("_words", wlit)
    # materialize the four probe positions as columns once, then
    # test word bits — all codegen, zero joins
    for j in range(4):
        probe = probe.withColumn(
            f"_p{j}",
            hash64_seeded(F.col("o_custkey"), _BJ_SEED0 + j) % BLOOM_BITS,
        )
    tests = [
        F.expr(
            f"(element_at(_words, cast(_p{j} div 32 as int) + 1)"
            f" & shiftleft(cast(1 as bigint),"
            f" cast(_p{j} % 32 as int))) != 0"
        )
        for j in range(4)
    ]
    cand_flag = tests[0]
    for t in tests[1:]:
        cand_flag = cand_flag & t
    flagged = probe.withColumn("cand", cand_flag).drop(
        "_words", "_p0", "_p1", "_p2", "_p3"
    )
    joined = flagged.join(
        seg.withColumnRenamed("c_custkey", "o_custkey").withColumn(
            "_m", F.lit(1)
        ),
        on="o_custkey",
        how="left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("cand"), 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        F.sum(F.when(F.col("_m").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.round(
            F.sum(
                F.when(
                    F.col("_m").isNotNull(), F.col("o_totalprice")
                ).otherwise(0.0)
            ),
            4,
        ).alias("revenue_matched"),
    )


@register(
    "frequent_pairs",
    oracle="""
    WITH b AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM b),
    thr AS (SELECT greatest(n // 1000, 2) AS minsup FROM nb),
    freq AS (
        SELECT l_suppkey FROM b, thr
        GROUP BY l_suppkey, minsup HAVING count(*) >= minsup
    ),
    pairs AS (
        SELECT a.l_suppkey AS s1, c.l_suppkey AS s2, count(*) AS support
        FROM b a
        JOIN b c ON a.l_orderkey = c.l_orderkey
                AND a.l_suppkey < c.l_suppkey
        JOIN freq f1 ON f1.l_suppkey = a.l_suppkey
        JOIN freq f2 ON f2.l_suppkey = c.l_suppkey
        GROUP BY a.l_suppkey, c.l_suppkey
    )
    SELECT s1, s2, support
    FROM pairs, thr WHERE support >= minsup
    ORDER BY support DESC, s1 ASC, s2 ASC LIMIT 20
    """,
)
def frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-occurring item pairs (A-priori levels 1-2 over
    order baskets): the market-basket probe behind co-occurrence
    recommendations and correlated-failure analysis.  Support
    threshold is RELATIVE (0.1% of baskets, floor 2), so the same
    query is meaningful at every SF.

    A-priori's downward-closure does the pruning work: items below
    threshold are dropped BEFORE pair generation (a pair of
    infrequent items cannot be frequent), so the per-basket pair
    explode runs over frequent items only — the same
    bound-the-pair-space discipline as the dedup family's df caps,
    justified here by theorem instead of heuristic.  One
    basket-keyed self-join + map-side-combined count; threshold is
    a 1-row broadcast; top-20 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_suppkey").distinct()
    nb = b.agg(
        F.countDistinct("l_orderkey").alias("n")
    ).select(
        F.greatest(F.expr("n div 1000"), F.lit(2)).alias("minsup")
    )
    freq = (
        b.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(nb))
        .where(F.col("cnt") >= F.col("minsup"))
        .select("l_suppkey")
    )
    bf = b.join(freq, on="l_suppkey", how="left_semi")
    a = bf.alias("a")
    c = bf.alias("c")
    pairs = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("c.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"),
            F.col("c.l_suppkey").alias("s2"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs.crossJoin(F.broadcast(nb))
        .where(F.col("support") >= F.col("minsup"))
        .orderBy(F.col("support").desc(), F.col("s1").asc(), F.col("s2").asc())
        .limit(20)
        .select("s1", "s2", "support")
    )
