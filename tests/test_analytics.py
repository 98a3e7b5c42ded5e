"""Sanity checks for the relational/window analytics operators at
sf0.001 (full value parity is covered by the DuckDB oracle gate)."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.operators.analytics import (
    asof_purchase_order,
    running_total_per_customer,
    sessionize_events,
    topk_parts_per_brand,
)
from debezium_spark.operators.tpch import (
    q1_pricing_summary,
    q6_forecast_revenue,
)
from debezium_spark.sources.tables import load_table


def test_q1_covers_all_flag_combinations(spark, sf_dir):
    out = q1_pricing_summary(spark, sf_dir).collect()
    assert 1 <= len(out) <= 6
    for r in out:
        assert r["count_order"] > 0
        assert r["sum_disc_price"] <= r["sum_base_price"]


def test_q6_manual_recompute(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    manual = l.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).count()
    out = q6_forecast_revenue(spark, sf_dir).first()
    assert out["n_items"] == manual


def test_topk_bounded_per_group(spark, sf_dir):
    out = topk_parts_per_brand(spark, sf_dir)
    per_brand = out.groupBy("p_brand").count()
    assert per_brand.filter(F.col("count") > 3).count() == 0


def test_running_total_monotone(spark, sf_dir):
    out = running_total_per_customer(spark, sf_dir)
    w_bad = out.groupBy("o_custkey").agg(
        (F.max("cum_spend") - F.sum(F.lit(0.0))).alias("mx")
    )
    last = out.orderBy("o_custkey", "o_orderdate", "o_orderkey").collect()
    prev = {}
    for r in last:
        k = r["o_custkey"]
        if k in prev:
            assert r["cum_spend"] >= prev[k] - 1e-6
        prev[k] = r["cum_spend"]


def test_sessionize_counts(spark, sf_dir):
    out = sessionize_events(spark, sf_dir)
    bad = out.filter(
        (F.col("n_sessions") < 1) | (F.col("n_sessions") > F.col("n_events"))
    )
    assert bad.count() == 0


def test_sessionize_sub_second_gap_splits(spark, tmp_path):
    """A 1800.5 s gap exceeds the 30-minute session gap: two sessions,
    in Spark and in the DuckDB oracle alike."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debezium_spark.operators.analytics import ORACLES

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    events = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array(
                [t0, t0 + dt.timedelta(seconds=1800.5)], pa.timestamp("us")
            ),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": ["view", "view"],
            "value": [1.0, 2.0],
            "props": ['{"k": 0}', '{"k": 1}'],
        }
    )
    pq.write_table(events, tmp_path / "events.parquet")

    got = [tuple(r) for r in sessionize_events(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    want = con.execute(ORACLES["sessionize_events"]).fetchall()
    assert got == [(7, 2, 2)]
    assert got == want


def test_asof_only_past_orders(spark, sf_dir):
    out = asof_purchase_order(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    joined = out.join(e, "event_id")
    late = joined.filter(F.col("o_orderdate") > F.col("ts").cast("date"))
    assert late.count() == 0


# ---------------------------------------------------------------------------
# Round-4 additions: rank suite, binned range join, sliding windows,
# grouping sets
# ---------------------------------------------------------------------------

from debezium_spark.operators import analytics as _an
from debezium_spark.operators import relational as _rel


def test_range_join_plan_has_no_nested_loop(spark, sf_dir):
    df = _an.range_join_views_before_purchase(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_matches_naive_theta_join(spark, sf_dir):
    from debezium_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    got = {
        r["event_id"]: r["n_views_prior_hour"]
        for r in _an.range_join_views_before_purchase(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = e.filter("event_type = 'purchase'").select(
        "event_id", F.col("user_id").alias("pu"), us.alias("pus")
    )
    v = e.filter("event_type = 'view'").select(
        F.col("user_id").alias("vu"), us.alias("vus")
    )
    naive = (
        p.join(
            v,
            (F.col("pu") == F.col("vu"))
            & (F.col("vus") > F.col("pus") - 3_600_000_000)
            & (F.col("vus") < F.col("pus")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.sum(F.col("vus").isNotNull().cast("long")).alias("n"))
        .collect()
    )
    want = {r["event_id"]: r["n"] for r in naive}
    assert got == want


def test_sliding_window_covers_each_event_twice(spark, sf_dir):
    from debezium_spark.sources.tables import load_table

    out = _an.events_sliding_window(spark, sf_dir).collect()
    total = sum(r["n"] for r in out)
    n_events = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_window_rank_suite_invariants(spark, sf_dir):
    rows = _an.window_rank_suite(spark, sf_dir).collect()
    by_nation: dict = {}
    for r in rows:
        by_nation.setdefault(r["c_nationkey"], []).append(r)
    for nk, grp in by_nation.items():
        grp.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in grp] == list(range(1, len(grp) + 1))
        spends = [r["spend_cents"] for r in grp]
        assert spends == sorted(spends)
        assert grp[0]["prev_spend_cents"] == 0
        assert grp[-1]["cd"] == 1.0
        assert all(1 <= r["quartile"] <= 4 for r in grp)


def test_grouping_sets_matches_unions(spark, sf_dir):
    rows = _rel.grouping_sets_revenue_q(spark, sf_dir).collect()
    # one () row + per-flag rows + per-status rows; the () row has
    # both grouping bits set
    tot = [r for r in rows if r["g_flag"] == 1 and r["g_status"] == 1]
    assert len(tot) == 1
    n_all = tot[0]["n"]
    by_flag = [r for r in rows if r["g_flag"] == 0 and r["g_status"] == 1]
    by_status = [r for r in rows if r["g_flag"] == 1 and r["g_status"] == 0]
    assert sum(r["n"] for r in by_flag) == n_all
    assert sum(r["n"] for r in by_status) == n_all
