"""Second-tier relational operators: JSON extraction, pivot, rollup,
set operations, distinct counting — rounding out the SURVEY §2
coverage of everyday query shapes over the CDC-materialized tables.
All pure DataFrame plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.sources.tables import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_json_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the JSON payload field k from props, bucket it, and
    aggregate — the outbox-payload analytics path."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .withColumn("k_bucket", (F.col("k") / 10).cast("long"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("k_bucket")
    )


def pivot_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type pivot (explicit value list so the plan is
    a single pass, no distinct-scan)."""
    e = load_table(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    renamed = out.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in EVENT_TYPES]
    )
    return renamed.orderBy("user_id")


def rollup_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal rows carry
    NULLs, matching ANSI ROLLUP semantics."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def distinct_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per nation (the approx_count_distinct
    twin is covered rows-only in tests — sketches are not
    oracle-stable)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_nationkey")
    )


def orders_set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with 1996 orders INTERSECT customers
    with 1997 orders, EXCEPT those with any 'F' order."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    fstat = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        y96.intersect(y97)
        .exceptAll(fstat.distinct())
        .select(F.col("o_custkey"))
        .orderBy("o_custkey")
    )


ORACLES: dict[str, str] = {
    "events_json_extract": """
        SELECT CAST(k AS BIGINT) // 10 AS k_bucket, count(*) AS n,
               min(k) AS k_min, max(k) AS k_max,
               round(avg(value), 4) AS avg_value
        FROM (SELECT CAST(props ->> '$.k' AS BIGINT) AS k, value FROM events)
        GROUP BY k_bucket ORDER BY k_bucket
    """,
    "pivot_event_counts": """
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    "rollup_revenue": """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "distinct_counts": """
        SELECT c_nationkey,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderpriority) AS n_priorities,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "orders_set_ops": """
        SELECT o_custkey FROM (
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            INTERSECT
            SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        )
        EXCEPT ALL
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        ORDER BY o_custkey
    """,
}

QUERIES = {
    "events_json_extract": events_json_extract_q,
    "pivot_event_counts": pivot_event_counts_q,
    "rollup_revenue": rollup_revenue_q,
    "distinct_counts": distinct_counts_q,
    "orders_set_ops": orders_set_ops_q,
}


# --------------------------------------------------------------------------
# CUBE: the full grouping lattice over (returnflag, linestatus) with
# GROUPING() ids so subtotal NULLs are distinguishable from data NULLs
# — completes the multi-dimensional aggregate surface next to ROLLUP.
# --------------------------------------------------------------------------
def cube_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy(
            F.col("g_flag"),
            F.col("g_status"),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ORACLES["cube_revenue"] = """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY g_flag, g_status,
                 l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """
QUERIES["cube_revenue"] = cube_revenue_q


# --------------------------------------------------------------------------
# GROUPING SETS: the explicit lattice form — together with ROLLUP and
# CUBE above this completes the multi-dimensional aggregate surface.
# Expressed via Spark SQL (the DataFrame API has no grouping-sets
# builder); Catalyst expands it to a single Expand + one aggregate
# exchange, identical plan shape to rollup/cube.
# --------------------------------------------------------------------------
def grouping_sets_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a DataFrame argument gets a temp view that spark.sql drops on return
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(1) AS n,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_flag, g_status,
                 l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


ORACLES["grouping_sets_revenue"] = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY g_flag, g_status,
             l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""
QUERIES["grouping_sets_revenue"] = grouping_sets_revenue_q
