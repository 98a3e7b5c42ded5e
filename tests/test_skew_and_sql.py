"""Salted aggregation correctness + the SQL-API front-end path."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.functions.skew import salted_sum_count
from debezium_spark.sources.tables import load_table


def test_salted_agg_matches_plain(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    got = salted_sum_count(l, "l_returnflag", "l_quantity")
    want = l.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_l_quantity"),
        F.count(F.lit(1)).alias("n"),
    )
    j = got.alias("g").join(want.alias("w"), "l_returnflag")
    bad = j.filter(
        (F.abs(F.col("g.sum_l_quantity") - F.col("w.sum_l_quantity")) > 1e-6)
        | (F.col("g.n") != F.col("w.n"))
    )
    assert bad.count() == 0


def test_salted_agg_on_hot_key(spark):
    """90% of rows share one key — salting must not change results."""
    df = spark.range(0, 100_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .otherwise(F.lit("cold"))
        .alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    got = {r["k"]: (r["sum_v"], r["n"]) for r in
           salted_sum_count(df, "k", "v").collect()}
    want = {r["k"]: (r["s"], r["n"]) for r in
            df.groupBy("k").agg(F.sum("v").alias("s"),
                                F.count(F.lit(1)).alias("n")).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][1] == want[k][1]
        assert abs(got[k][0] - want[k][0]) < 1e-6


def test_sql_api_front_end(spark, sf_dir):
    """spark.sql over a table frame produces the same result as the
    DataFrame plan — the SQL front-end is a first-class entry path."""
    sql_out = spark.sql(
        """
        SELECT l_returnflag, round(sum(l_extendedprice), 2) AS s, count(*) AS n
        FROM {lineitem} GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    ).collect()
    df_out = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("s"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in sql_out] == [tuple(r) for r in df_out]


def test_watermark_drops_late_events(spark, sf_dir):
    """Append-mode watermark semantics: events older than the
    watermark are excluded from finalized windows (the late-data
    contract a production unbounded stream relies on)."""
    import os
    import tempfile
    import uuid

    e = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    with tempfile.TemporaryDirectory() as workdir:
        # file 0: everything except one early hour; file 1: that early
        # hour (arrives late, far behind the watermark)
        cut = e.selectExpr("min(ts) AS m").first()["m"]
        early = e.filter(F.col("ts") < F.lit(cut) + F.expr("INTERVAL 1 HOUR"))
        rest = e.subtract(early)
        topic = os.path.join(workdir, "t")
        rest.coalesce(1).write.parquet(topic)
        early.coalesce(1).write.mode("append").parquet(topic)

        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", True)  # big/late-ordered delivery
            .format("parquet")
            .load(topic)
        )
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        name = f"wm_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.sql(f"SELECT sum(n) AS s FROM {name}").first()["s"] or 0
        # finalized (append-emitted) windows exclude the late early-hour
        # file and the unclosed tail window → strictly fewer than total
        assert got < e.count()


def test_salted_join_equals_plain_join(spark):
    from debezium_spark.functions.skew import salted_join

    fact = spark.createDataFrame(
        [(k, v) for k in ("a", "a", "b") for v in range(4)],
        "k string, v int",
    )
    dim = spark.createDataFrame([("a", 1), ("b", 2)], "k string, d int")
    got = sorted(
        (r["k"], r["v"], r["d"])
        for r in salted_join(fact, dim, "k", n_salts=4).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["d"]) for r in fact.join(dim, "k").collect()
    )
    assert got == want


def test_relational_suite_invariants(spark, sf_dir):
    """Structural invariants for the relational block: ROLLUP's grand
    total equals the detail sum; CUBE produces all four grouping-flag
    combinations; pivot row sums equal the flat event count; the
    set-ops result excludes every 'F'-status customer."""
    import pyspark.sql.functions as F

    from debezium_spark.operators.relational import (
        cube_revenue_q,
        orders_set_ops_q,
        pivot_event_counts_q,
        rollup_revenue_q,
    )
    from debezium_spark.sources.tables import load_table

    roll = rollup_revenue_q(spark, sf_dir).collect()
    grand = [r for r in roll
             if r["l_returnflag"] is None and r["l_linestatus"] is None]
    detail = [r for r in roll
              if r["l_returnflag"] is not None
              and r["l_linestatus"] is not None]
    assert len(grand) == 1
    assert grand[0]["n"] == sum(r["n"] for r in detail)

    cube = cube_revenue_q(spark, sf_dir).collect()
    assert {(r["g_flag"], r["g_status"]) for r in cube} == {
        (0, 0), (0, 1), (1, 0), (1, 1)
    }

    ev_total = load_table(spark, sf_dir, "events").count()
    piv = pivot_event_counts_q(spark, sf_dir).collect()
    pivot_total = sum(
        v for r in piv for k, v in r.asDict().items() if k != "user_id"
    )
    assert pivot_total == ev_total

    o = load_table(spark, sf_dir, "orders")
    f_cust = {r["o_custkey"] for r in
              o.filter(F.col("o_orderstatus") == "F")
              .select("o_custkey").distinct().collect()}
    got = {r["o_custkey"] for r in orders_set_ops_q(spark, sf_dir).collect()}
    assert got and not (got & f_cust)
