"""TPC-H-style relational analytics, Spark-first.

These mirror the classic TPC-H query shapes adapted to the columns the
test star schema actually carries (no partsupp / shipmode / commitdate
in the synthetic schema, so Q2/Q12's original predicates are adapted —
noted per query). Every query is a declarative DataFrame plan: filters
sit directly on the scans (parquet pushdown), dimension joins
broadcast, aggregations are partial-agg friendly, and final float
columns are rounded identically to the DuckDB oracle (SURVEY §6).

Scale notes: at 100 TB lineitem, the only shuffles in each plan are
the groupBy on the (low-cardinality) grouping keys after map-side
partial aggregation, and fact-fact joins on orderkey, which AQE
skew-splits. region/nation/customer/supplier/part stay broadcast
(≤ ~150 MB even at sf1000 for region/nation/supplier).

Each SPARK operator has a matching entry in ORACLES (ANSI SQL for
DuckDB) — same aliases, same rounding, same ordering keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.functions.rounding import round_half_up, sql_round_half_up
from debezium_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Q1: pricing summary report
# --------------------------------------------------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3: shipping priority — top 10 unshipped-revenue orders
# --------------------------------------------------------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4: order-priority checking (EXISTS semi-join).
# Adapted: no commitdate/receiptdate in schema → "late" proxy is a
# lineitem shipped after the order date.
# --------------------------------------------------------------------------
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5: local-supplier volume
# --------------------------------------------------------------------------
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Q6: forecasting revenue change — pure scan-filter-agg; the filters
# must reach the parquet scan (PushedFilters).
# --------------------------------------------------------------------------
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q7: volume shipping between two nations (customer nation × supplier
# nation flows)
# --------------------------------------------------------------------------
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        pairs.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q9-style: product-type profit by nation and year (PROMO parts)
# --------------------------------------------------------------------------
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        # per-item rounding to integer cents, integer sum: at sf0.1+
        # the plain double sum crossed a round(…, 2) half-boundary
        # between engines (non-associative + over different partition
        # orders); the integer sum is reorder-proof at any scale
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
        .select(
            "nation",
            "o_year",
            F.round(F.col("cents") / 100.0, 2).alias("sum_profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10: returned-item reporting — top 20 customers by lost revenue
# --------------------------------------------------------------------------
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12-style: order priority classes per line status (adapted — no
# shipmode column in the synthetic schema)
# --------------------------------------------------------------------------
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(is_high).alias("high_line_count"),
            F.sum(1 - is_high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# Q14: promotion effect — % of revenue from PROMO parts
# --------------------------------------------------------------------------
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                * 100.0
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# Q18: large-volume customers
# --------------------------------------------------------------------------
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19: discounted revenue over disjunctive brand/size/qty predicates
# --------------------------------------------------------------------------
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# --------------------------------------------------------------------------
# Q8: national market share — NATION_1's share of ASIA revenue by year
# --------------------------------------------------------------------------
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n_supp = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("supp_nation"),
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            round_half_up(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(0.0)
                )
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q13: customer order-count distribution (zero-order customers included)
# --------------------------------------------------------------------------
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue (ties kept via max-join)
# --------------------------------------------------------------------------
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue")
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue — lineitems under 20% of the
# part's average quantity
# --------------------------------------------------------------------------
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    l = load_table(spark, sf_dir, "lineitem")
    avg_qty = l.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            round_half_up(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q21-style: suppliers who shipped last in multi-supplier 'F' orders
# (adapted — no commit/receipt dates in the synthetic schema)
# --------------------------------------------------------------------------
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    li = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("last_ship"),
    )
    late = (
        li.join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("l_shipdate") == F.col("last_ship")))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        late.join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q22-style: high-balance customers with no orders since 1999, grouped
# by nation bucket (adapted — no phone column)
# --------------------------------------------------------------------------
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    inactive = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        inactive.groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL — same aliases, same rounding, same predicates.
# --------------------------------------------------------------------------
ORACLES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                        AS sum_qty,
               round(sum(l_extendedprice), 2)                                   AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
               round(avg(l_quantity), 4)                                        AS avg_qty,
               round(avg(l_extendedprice), 4)                                   AS avg_price,
               round(avg(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount >= 0.03 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7_volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q9_product_profit": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT)) / 100.0, 2) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY n_name, o_year DESC
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q12_priority_lines": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1999-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "q14_promo_effect": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    "q18_large_volume_customers": """
        SELECT c_name, c_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
               round(total_qty, 2) AS total_qty
        FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 300) big
        JOIN orders   ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "q8_market_share": f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               {sql_round_half_up(
                   "sum(CASE WHEN n2.n_name = 'NATION_1'"
                   " THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)"
                   " / sum(l_extendedprice * (1 - l_discount))", 4
               )} AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY o_year ORDER BY o_year
    """,
    "q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                              AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "q17_small_quantity": f"""
        SELECT {sql_round_half_up("sum(l_extendedprice) / 7.0", 2)} AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN (SELECT l_partkey AS ap_key, avg(l_quantity) AS avg_qty
              FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_key
        WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
    "q21_waiting_supplier": """
        WITH li AS (
            SELECT l_orderkey, l_suppkey, l_shipdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'),
        stats AS (
            SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
                   max(l_shipdate) AS last_ship
            FROM li GROUP BY l_orderkey),
        late AS (
            SELECT DISTINCT li.l_orderkey, li.l_suppkey
            FROM li JOIN stats USING (l_orderkey)
            WHERE n_supp > 1 AND l_shipdate = last_ship)
        SELECT s_name, count(*) AS numwait
        FROM late JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q22_global_sales_opportunity": """
        SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode ORDER BY cntrycode
    """,
    "q19_disjunctive_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1  AND 11 AND p_size BETWEEN 1 AND 5)
           OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
           OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
}

QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_priority_lines": q12_priority_lines,
    "q14_promo_effect": q14_promo_effect,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q8_market_share": q8_market_share,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
}


# --------------------------------------------------------------------------
# Round-5: the four remaining TPC-H shapes (Q2, Q11, Q16, Q20),
# completing the 22-query suite. The synthetic schema has no partsupp
# table, so the part-supplier relation is derived from lineitem
# (distinct (l_partkey, l_suppkey) pairs; supplycost = min observed
# unit price) — the SHAPES are the point: Q2's correlated-min
# subquery, Q11's HAVING-vs-global-scalar, Q16's NOT-IN + distinct
# count, Q20's nested semi-join chain.
# --------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for STANDARD parts of size <= 15, the EUROPE
    suppliers offering the minimum unit price — correlated min
    resolved as an aggregate + equality join back (the classic
    decorrelation Catalyst itself applies to the scalar subquery).
    Unit prices are identical IEEE doubles in both engines, so the
    min-equality join is exact."""
    l = load_table(spark, sf_dir, "lineitem")
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "supplycost"
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eligible = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "supplycost", "s_acctbal", "s_name", "n_name")
    )
    mc = eligible.groupBy("l_partkey").agg(
        F.min("supplycost").alias("min_cost")
    ).select(F.col("l_partkey").alias("mc_partkey"), "min_cost")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        eligible.join(
            mc,
            (eligible.l_partkey == mc.mc_partkey)
            & (eligible.supplycost == mc.min_cost),
        )
        .join(F.broadcast(p), eligible.l_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            round_half_up(F.col("supplycost"), 4).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


Q11_SHARE_MULT = 1000  # keep parts holding > 1/1000 of the nation's value


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part value held by NATION_7's suppliers, kept
    only when above a fraction of the nation's total — a group
    aggregate HAVING-compared against a global scalar. Values are
    integer cents (per-item round, then integer sum) so the threshold
    comparison is reorder-proof in both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    v = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    tot = v.agg(F.sum("cents").alias("total"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("cents") * Q11_SHARE_MULT > F.col("total"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.round(F.col("cents") / 100.0, 2).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier counts per (brand, type, size)
    over the derived part-supplier pairs, excluding a 'complaints'
    supplier set via NOT IN (planned as a broadcast anti-join)."""
    l = load_table(spark, sf_dir, "lineitem")
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 13 == 0
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(*Q16_SIZES))
    )
    return (
        pairs.join(
            F.broadcast(complaints),
            pairs.l_suppkey == complaints.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(p), pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q20_QTY_THRESHOLD = 30


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers in the ASIA region who shipped more than
    the threshold quantity of any 'red…' part during 1997 — the
    nested semi-join chain (part filter → per-(supplier, part)
    shipped quantity → distinct supplier semi-join → nation filter).
    Quantities are integral doubles, so sums are exact in both
    engines."""
    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    shipped = l.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    heavy = (
        shipped.join(F.broadcast(red), shipped.l_partkey == red.p_partkey)
        .filter(F.col("qty") > Q20_QTY_THRESHOLD)
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLES["q2_min_cost_supplier"] = f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS supplycost
        FROM lineitem GROUP BY 1, 2),
    eligible AS (
        SELECT ps.l_partkey, ps.supplycost, s.s_acctbal, s.s_name, n.n_name
        FROM ps
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
                     AND r.r_name = 'EUROPE'),
    mc AS (SELECT l_partkey, min(supplycost) AS min_cost
           FROM eligible GROUP BY 1)
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           {sql_round_half_up("e.supplycost", 4)} AS supplycost
    FROM eligible e
    JOIN mc ON e.l_partkey = mc.l_partkey AND e.supplycost = mc.min_cost
    JOIN part p ON e.l_partkey = p.p_partkey
               AND p.p_size <= 15 AND p.p_type = 'STANDARD'
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 20
"""

ORACLES["q11_important_stock"] = f"""
    WITH v AS (
        SELECT l_partkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
                     AND n.n_name = 'NATION_7'
        GROUP BY 1),
    tot AS (SELECT sum(cents) AS total FROM v)
    SELECT l_partkey AS ps_partkey, round(cents / 100.0, 2) AS value
    FROM v CROSS JOIN tot
    WHERE cents * {Q11_SHARE_MULT} > total
    ORDER BY value DESC, ps_partkey
"""

ORACLES["q16_supplier_part_counts"] = f"""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON pr.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN {Q16_SIZES}
      AND pr.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""

ORACLES["q20_potential_promotion"] = f"""
    WITH red_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    shipped AS (
        SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        GROUP BY 1, 2),
    heavy AS (
        SELECT DISTINCT sh.l_suppkey
        FROM shipped sh JOIN red_parts rp ON sh.l_partkey = rp.p_partkey
        WHERE sh.qty > {Q20_QTY_THRESHOLD})
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN heavy h ON s.s_suppkey = h.l_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_regionkey = 2
    ORDER BY s.s_name
"""

QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier
QUERIES["q11_important_stock"] = q11_important_stock
QUERIES["q16_supplier_part_counts"] = q16_supplier_part_counts
QUERIES["q20_potential_promotion"] = q20_potential_promotion
