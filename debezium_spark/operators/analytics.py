"""Window, sessionization, as-of join, and event-stream analytics.

Spark-first: every operator is a declarative plan built from window
functions and joins — no Python in the hot path. The as-of join is the
composition pattern (equi-join on key + predicate + row_number pick),
which at 100 TB is one shuffle on the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.functions.rounding import round_half_up, to_units
from debezium_spark.functions.rounding import sql_round_half_up, sql_to_units
from debezium_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Top-K per group: top 3 parts by revenue within each brand
# --------------------------------------------------------------------------
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("p_brand", "rank")
    )


# --------------------------------------------------------------------------
# Running total: cumulative spend per customer ordered by order date
# --------------------------------------------------------------------------
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_spend"),
    ).orderBy("o_custkey", "o_orderdate", "o_orderkey")


# --------------------------------------------------------------------------
# Sessionization: gaps-and-islands with lag() — 30-minute inactivity gap
# --------------------------------------------------------------------------
SESSION_GAP_MIN = 30


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microseconds: like the oracle's epoch(ts), the gap test must see
    # sub-second fractions (a 1800.5 s gap starts a new session)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = e.withColumn("session_start", new_session)
    return (
        sess.groupBy("user_id")
        .agg(
            F.sum("session_start").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# As-of join: for each purchase event, the most recent order of the
# same customer at that timestamp (composition: equi-join + window pick)
# --------------------------------------------------------------------------
def asof_purchase_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    o = load_table(spark, sf_dir, "orders")
    joined = e.join(o, e.user_id == o.o_custkey).filter(
        F.col("o_orderdate") <= F.col("ts")
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Tumbling-window aggregation over the event stream (batch analog of
# the streaming windowed agg in streaming/)
# --------------------------------------------------------------------------
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # window_start as a string: engine-neutral (a timestamp column
    # may collect tz-aware in Spark but naive in DuckDB)
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Funnel: users that did view → click → purchase in temporal order
# --------------------------------------------------------------------------
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_view"),
        F.sum(
            ((F.col("t_view") < F.col("t_click"))).cast("long")
        ).alias("n_view_click"),
        F.sum(
            (
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase"))
            ).cast("long")
        ).alias("n_view_click_purchase"),
    )


# --------------------------------------------------------------------------
# Exact percentiles per event type (linear interpolation — matches
# DuckDB quantile_cont)
# --------------------------------------------------------------------------
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.9), 4).alias("p90"),
            F.round(F.percentile("value", 0.99), 4).alias("p99"),
            F.countDistinct("user_id").alias("distinct_users"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity week, counted in
# each subsequent week
# --------------------------------------------------------------------------
COHORT_EPOCH = "2024-01-01"


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    week = (
        F.datediff(F.col("ts").cast("date"), F.lit(COHORT_EPOCH).cast("date"))
        / 7
    ).cast("long")
    weekly = e.select("user_id", week.alias("week")).distinct()
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .groupBy("cohort_week", "week")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week")
    )


ORACLES: dict[str, str] = {
    "topk_parts_per_brand": """
        SELECT p_brand, p_partkey, revenue, rank FROM (
            SELECT p_brand, p_partkey, revenue,
                   CAST(row_number() OVER (PARTITION BY p_brand
                                           ORDER BY revenue DESC, p_partkey) AS INT) AS rank
            FROM (SELECT p_brand, p_partkey,
                         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  GROUP BY p_brand, p_partkey))
        WHERE rank <= 3
        ORDER BY p_brand, rank
    """,
    "running_total_per_customer": """
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS cum_spend
        FROM orders
        WHERE o_custkey < 100
        ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
    "sessionize_events": f"""
        SELECT user_id, CAST(sum(session_start) AS BIGINT) AS n_sessions, count(*) AS n_events
        FROM (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS session_start
            FROM events)
        GROUP BY user_id
        ORDER BY user_id
    """,
    "asof_purchase_order": """
        SELECT event_id, user_id, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
        FROM (
            SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
                   row_number() OVER (PARTITION BY e.event_id
                                      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
            FROM events e JOIN orders o ON e.user_id = o.o_custkey
            WHERE e.event_type = 'purchase' AND o.o_orderdate <= e.ts)
        WHERE rn = 1
        ORDER BY event_id
    """,
    "events_hourly_window": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "funnel_view_click_purchase": """
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
               CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_view_click_purchase
        FROM (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM events GROUP BY user_id)
    """,
    "cohort_retention": """
        WITH weekly AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS week
            FROM events),
        cohorts AS (
            SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY user_id)
        SELECT cohort_week, week, count(DISTINCT w.user_id) AS n_users
        FROM weekly w JOIN cohorts c ON w.user_id = c.user_id
        GROUP BY cohort_week, week
        ORDER BY cohort_week, week
    """,
    "events_value_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4)  AS p50,
               round(quantile_cont(value, 0.9), 4)  AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99,
               count(DISTINCT user_id) AS distinct_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
}

QUERIES = {
    "sessionize_events": sessionize_events,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "topk_parts_per_brand": topk_parts_per_brand,
    "running_total_per_customer": running_total_per_customer,
    "asof_purchase_order": asof_purchase_order,
    "events_hourly_window": events_hourly_window,
    "events_value_percentiles": events_value_percentiles,
    "cohort_retention": cohort_retention,
}


def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function suite (row_number / ntile / percent_rank /
    cume_dist / lag) over per-customer spend, partitioned by nation.

    Scale notes: spend is integer cents (exact — double sums would
    drift per shuffle order), the window partitions by c_nationkey so
    no single-task global sort exists, and the ordering key
    (spend_cents, custkey) is unique so every ranking function is
    deterministic (ntile over ties is not)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cents = to_units(F.col("o_totalprice"), 2)
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents).alias("spend_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    j = spend.join(F.broadcast(c), spend["o_custkey"] == c["c_custkey"])
    w = Window.partitionBy("c_nationkey").orderBy("spend_cents", "o_custkey")
    return (
        j.select(
            "c_nationkey",
            F.col("o_custkey").alias("custkey"),
            "spend_cents",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.row_number().over(w).cast("int").alias("rn"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            round_half_up(F.percent_rank().over(w), 6).alias("pr"),
            round_half_up(F.cume_dist().over(w), 6).alias("cd"),
            F.lag("spend_cents", 1, 0).over(w).alias("prev_spend_cents"),
        )
        .orderBy("c_nationkey", "rn")
    )


def range_join_views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join: for every purchase, count the same user's
    views in the strictly-preceding hour.

    Scale design: a naive plan is a theta join (BroadcastNestedLoop /
    cartesian at 100 TB). Here both sides are bucketed to hour bins
    and the purchase side probes its two candidate bins (an interval
    of length 1h overlaps at most 2 bins), so the join is a plain
    shuffle equi-join on (user_id, bin) with the range predicate as a
    post-filter — shuffle volume is O(events), never O(events²).
    Microsecond epochs keep the bound exact."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    binc = F.floor(us / F.lit(3_600_000_000)).cast("long")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        us.alias("v_us"),
        binc.alias("v_bin"),
        F.col("value").alias("v_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
        F.explode(F.array(binc, binc - 1)).alias("jbin"),
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user")) & (F.col("jbin") == F.col("v_bin")),
        "left",
    )
    in_range = (
        F.col("v_us").isNotNull()
        & (F.col("v_us") > F.col("p_us") - 3_600_000_000)
        & (F.col("v_us") < F.col("p_us"))
    )
    return (
        joined.groupBy("event_id")
        .agg(
            F.sum(in_range.cast("long")).alias("n_views_prior_hour"),
            round_half_up(
                F.max(F.when(in_range, F.col("v_value"))), 4
            ).alias("max_view_value"),
        )
        .orderBy("event_id")
    )


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2h window, 1h slide): each event
    lands in exactly two windows. Structured-Streaming-compatible
    `F.window` semantics in a batch plan; one groupBy shuffle keyed
    by (window, type) — the window explosion is map-side."""
    e = load_table(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "2 hours", "1 hour")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("n_users").cast("long").alias("n_users"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLES["window_rank_suite"] = f"""
        WITH spend AS (
            SELECT o_custkey AS custkey,
                   CAST(sum({sql_to_units("o_totalprice", 2)}) AS BIGINT)
                       AS spend_cents,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT c_nationkey, custkey, spend_cents, n_orders,
               CAST(row_number() OVER w AS INT) AS rn,
               CAST(ntile(4) OVER w AS INT) AS quartile,
               {sql_round_half_up("percent_rank() OVER w", 6)} AS pr,
               {sql_round_half_up("cume_dist() OVER w", 6)} AS cd,
               coalesce(lag(spend_cents, 1) OVER w, 0) AS prev_spend_cents
        FROM spend JOIN customer ON custkey = c_custkey
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend_cents, custkey)
        ORDER BY c_nationkey, rn
    """

ORACLES["range_join_views_before_purchase"] = f"""
        SELECT p.event_id,
               CAST(count(v.v_us) AS BIGINT) AS n_views_prior_hour,
               {sql_round_half_up("max(v.v_value)", 4)} AS max_view_value
        FROM (SELECT event_id, user_id, epoch_us(ts) AS p_us
              FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT user_id AS v_user, epoch_us(ts) AS v_us,
                          value AS v_value
                   FROM events WHERE event_type = 'view') v
          ON v.v_user = p.user_id
         AND v.v_us > p.p_us - 3600000000
         AND v.v_us < p.p_us
        GROUP BY p.event_id
        ORDER BY p.event_id
    """

ORACLES["events_sliding_window"] = """
        WITH exploded AS (
            SELECT unnest([
                       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000),
                       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 - 3600000000)
                   ]) AS w_start,
                   event_type, user_id
            FROM events
        )
        SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM exploded
        GROUP BY w_start, event_type
        ORDER BY window_start, event_type
    """

QUERIES["window_rank_suite"] = window_rank_suite
QUERIES["range_join_views_before_purchase"] = range_join_views_before_purchase
QUERIES["events_sliding_window"] = events_sliding_window
