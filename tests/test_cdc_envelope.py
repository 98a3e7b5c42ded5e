"""Envelope synthesis + materialization invariants (SURVEY §5)."""

import duckdb
import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.envelope import (
    is_deleted,
    n_versions,
    sql_is_deleted,
    sql_n_versions,
    sql_txn_id,
    synthesize_cdc_envelope,
    synthesize_cdc_flat,
    synthesize_snapshot_flat,
    txn_id,
)
from debezium_spark.cdc.materialize import (
    incremental_snapshot_merge,
    latest_state,
    scd2,
    tombstones,
)


@pytest.fixture(scope="module")
def cdc(spark, sf_dir):
    return synthesize_cdc_flat(spark, sf_dir).cache()


def test_event_counts_match_generation_rule(cdc, spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_orders = orders.count()
    per_key = cdc.groupBy("key").count()
    assert per_key.count() == n_orders  # every key emits events
    counts = {r["count"] for r in per_key.collect()}
    assert counts <= {1, 2, 3, 4}  # 1..3 versions + optional delete


def test_generation_law_matches_duckdb(spark):
    # each rule of the law against its DuckDB twin, up to keys whose
    # product with the Knuth multiplier nears the BIGINT limit
    keys = [1, 2, 3, 7, 99, 100, 101, 199, 10**6 + 3, 3 * 10**9 + 11]
    rows = [(k,) for k in keys]
    k = F.col("k")
    got = sorted(
        tuple(r)
        for r in spark.createDataFrame(rows, "k long")
        .select("k", n_versions(k), is_deleted(k), txn_id(k))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    want = con.execute(
        f"SELECT k, {sql_n_versions('k')}, {sql_is_deleted('k')},"
        f" {sql_txn_id('k')} FROM t ORDER BY k"
    ).fetchall()
    assert got == want
    assert {nv for _, nv, _, _ in got} == {1, 2, 3}


def test_ops_well_formed(cdc):
    ops = {r["op"] for r in cdc.select("op").distinct().collect()}
    assert ops == {"c", "u", "d"}
    # exactly one create per key
    creates = cdc.filter(F.col("op") == "c").groupBy("key").count()
    assert creates.filter(F.col("count") != 1).count() == 0
    # creates have no before image; deletes no after image
    assert cdc.filter((F.col("op") == "c")
                      & F.col("before_totalprice").isNotNull()).count() == 0
    assert cdc.filter((F.col("op") == "d")
                      & F.col("after_totalprice").isNotNull()).count() == 0


def test_seq_strictly_increasing_per_key(cdc):
    dup = cdc.groupBy("key", "seq").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_latest_state_is_last_event(cdc):
    cur = latest_state(cdc)
    # no deleted key present
    last = cdc.groupBy("key").agg(F.max("seq").alias("seq"))
    joined = cdc.join(last, ["key", "seq"])
    deleted = joined.filter(F.col("op") == "d").select("key")
    assert cur.join(deleted, "key").count() == 0
    # every surviving key's row is its max-seq event
    assert cur.join(last, ["key", "seq"]).count() == cur.count()


def test_scd2_intervals_partition_timeline(cdc):
    hist = scd2(cdc)
    # one current row per surviving key; zero for deleted keys
    cur = latest_state(cdc)
    n_current = hist.filter("is_current").count()
    assert n_current == cur.count()
    # intervals chain: valid_to of version v == valid_from of v+1
    nxt = hist.alias("a").join(
        hist.alias("b"),
        (F.col("a.key") == F.col("b.key"))
        & (F.col("a.valid_to_seq") == F.col("b.valid_from_seq")),
    )
    # a closed version chains to the next version unless the closer
    # was the key's delete event (deletes are not in hist)
    n_closed = hist.filter(F.col("valid_to_seq").isNotNull()).count()
    n_deleted_keys = cdc.filter(F.col("op") == "d").select("key").distinct().count()
    assert nxt.count() == n_closed - n_deleted_keys


def test_tombstones_match_deletes(cdc):
    t = tombstones(cdc)
    d = cdc.filter(F.col("op") == "d")
    assert t.count() == d.count()
    assert t.filter(F.col("value").isNotNull()).count() == 0


def test_incremental_snapshot_equals_latest_state(cdc, spark, sf_dir):
    snap = synthesize_snapshot_flat(spark, sf_dir)
    merged = incremental_snapshot_merge(snap, cdc)
    cur = latest_state(cdc)
    assert merged.count() == cur.count()
    # values agree key-by-key
    m = merged.select("key", F.col("o_totalprice").alias("m_price"))
    c = cur.select("key", F.col("after_totalprice").alias("c_price"))
    diff = m.join(c, "key").filter(F.col("m_price") != F.col("c_price"))
    assert diff.count() == 0


def test_truncate_wipes_prior_state(spark):
    from debezium_spark.cdc.materialize import latest_state_with_truncate

    rows = [
        (1, "c", 1, 1, 10.0),
        (2, "c", 2, 2, 20.0),
        (None, "t", 3, 3, None),   # truncate: wipes keys 1 and 2
        (3, "c", 4, 4, 30.0),
        (1, "c", 5, 5, 11.0),      # key 1 recreated after truncate
    ]
    df = spark.createDataFrame(
        rows, "key long, op string, seq long, ts_ms long, after_totalprice double"
    )
    cur = latest_state_with_truncate(df)
    got = {r["key"]: r["after_totalprice"] for r in cur.collect()}
    assert got == {3: 30.0, 1: 11.0}


def test_truncate_noop_without_t_events(spark, sf_dir):
    from debezium_spark.cdc.materialize import (
        latest_state,
        latest_state_with_truncate,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    a = latest_state(cdc).count()
    b = latest_state_with_truncate(cdc).count()
    assert a == b


def test_struct_envelope_shape(spark, sf_dir):
    env = synthesize_cdc_envelope(spark, sf_dir)
    names = set(env.columns)
    assert {"before", "after", "source", "op", "ts_ms", "transaction"} <= names
    row = env.filter(F.col("op") == "u").first()
    assert row["before"] is not None and row["after"] is not None
    assert row["source"]["connector"] == "debezium-spark"
    d = env.filter(F.col("op") == "d").first()
    assert d["after"] is None and d["before"] is not None


def test_jdbc_sink_soft_delete_keeps_last_upsert(spark):
    from debezium_spark.cdc.materialize import jdbc_sink_apply

    cdc = spark.createDataFrame(
        [
            (1, "c", 10, 5.0),
            (1, "u", 11, 6.0),
            (1, "d", 12, None),
            (2, "c", 20, 7.0),
        ],
        "key long, op string, seq long, after_totalprice double",
    )
    hard = {r["key"]: r for r in latest_state(cdc).collect()}
    soft = {r["key"]: r for r in jdbc_sink_apply(cdc).collect()}
    assert 1 not in hard and hard[2]["after_totalprice"] == 7.0
    assert soft[1]["after_totalprice"] == 6.0  # delete ignored
    assert soft[2]["after_totalprice"] == 7.0


def test_txn_consistent_apply_holds_incomplete(spark):
    from debezium_spark.cdc.materialize import txn_consistent_apply

    # txn 1 fully delivered by cutoff 12; txn 2 straddles it: its
    # delivered event (seq 12) must be held back too.
    cdc = spark.createDataFrame(
        [
            (1, "c", 10, 1),
            (1, "u", 11, 1),
            (2, "c", 12, 2),
            (2, "u", 13, 2),
        ],
        "key long, op string, seq long, txn_id long",
    )
    out = txn_consistent_apply(cdc, 12).collect()
    assert {r["seq"] for r in out} == {10, 11}


def test_pit_join_semantics(spark):
    from debezium_spark.cdc.materialize import pit_join, scd2

    # key 1: create@11 (price 10), update@12 (20), delete@13
    # key 2: create@21 (30), still current
    cdc = spark.createDataFrame(
        [
            (1, "c", 11, None, 10.0),
            (1, "u", 12, 10.0, 20.0),
            (1, "d", 13, 20.0, None),
            (2, "c", 21, None, 30.0),
        ],
        "key long, op string, seq long, before_totalprice double,"
        " after_totalprice double",
    )
    hist = scd2(cdc)
    probes = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 14), (2, 99)],
        "p_key long, probe_seq long",
    )
    got = {
        (r["p_key"], r["probe_seq"]): r["o_totalprice"]
        for r in pit_join(hist, probes).collect()
    }
    assert got[(1, 11)] == 10.0        # first version valid at its seq
    assert got[(1, 12)] == 20.0        # update supersedes at its seq
    assert got[(1, 14)] is None        # deleted key: no version
    assert got[(2, 99)] == 30.0        # open-ended current version


def test_incremental_agg_equals_latest_state_recompute(spark, sf_dir):
    """Delta-folded aggregate == direct recompute over the
    materialized latest state (the IVM correctness invariant)."""
    import pyspark.sql.functions as F

    from debezium_spark.cdc import materialize as mz
    from debezium_spark.cdc.envelope import synthesize_cdc_flat

    got = {
        r["o_custkey"]: (r["n_live_orders"], r["live_total_cents"])
        for r in mz.cdc_incremental_agg_q(spark, sf_dir).collect()
    }
    cdc = synthesize_cdc_flat(spark, sf_dir)
    latest = (
        cdc.groupBy("key")
        .agg(F.max(F.struct("seq", "op", "after_totalprice", "o_custkey")).alias("s"))
        .select("key", "s.op", "s.after_totalprice", "s.o_custkey")
        .filter(F.col("op") != "d")
    )
    want = {
        r["o_custkey"]: (r["n"], r["cents"])
        for r in latest.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("after_totalprice") * 100 + 1e-9).cast("long")
            ).alias("cents"),
        )
        .collect()
    }
    assert got == want


def test_txn_event_order_invariants(spark, sf_dir):
    from debezium_spark.cdc.materialize import cdc_txn_event_order_q

    rows = cdc_txn_event_order_q(spark, sf_dir).collect()
    by_txn = {}
    for r in rows:
        by_txn.setdefault(r["txn_id"], []).append(r)
    for txn_id, evs in by_txn.items():
        evs.sort(key=lambda r: r["seq"])
        # total_order is 1..n in seq order within the transaction
        assert [r["total_order"] for r in evs] == list(range(1, len(evs) + 1))
        # data_collection_order is 1..k in seq order within each
        # (transaction, collection) slice
        per_coll = {}
        for r in evs:
            per_coll.setdefault(r["collection"], []).append(
                r["data_collection_order"]
            )
        for orders in per_coll.values():
            assert orders == list(range(1, len(orders) + 1))


def test_rate_anomaly_flag_matches_integer_z_rule(spark, sf_dir):
    """The spike flag must equal the exact-integer z-rule recomputed
    here, and fire on some-but-not-all buckets."""
    from debezium_spark.cdc.materialize import cdc_rate_anomaly_q

    rows = cdc_rate_anomaly_q(spark, sf_dir).collect()
    n_spikes = 0
    for r in rows:
        dev = r["n"] * r["hist_buckets"] - r["hist_sum"]
        var_n = (
            r["hist_buckets"] * r["hist_sumsq"] - r["hist_sum"] ** 2
        )
        expect = r["hist_buckets"] >= 5 and dev > 0 and dev * dev > var_n
        assert r["spike"] == expect, r
        n_spikes += r["spike"]
    # the sf0.001 fixture has too few buckets per shard to build a
    # 5-bucket history; the firing behavior is proven at sf0.01 by
    # the oracle gate (10 of 45 buckets spike there)
    if any(r["hist_buckets"] >= 5 for r in rows):
        assert 0 < n_spikes < len(rows)


def test_transaction_topic_invariants(spark, sf_dir):
    """Every txn emits exactly one BEGIN and one END; END carries the
    event count; counts sum to the stream size."""
    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.materialize import transaction_topic

    cdc = synthesize_cdc_flat(spark, sf_dir)
    t = transaction_topic(cdc).collect()
    by_txn = {}
    for r in t:
        by_txn.setdefault(r["txn_id"], []).append(r)
    for txn, markers in by_txn.items():
        statuses = sorted(m["status"] for m in markers)
        assert statuses == ["BEGIN", "END"], (txn, statuses)
    total = sum(m["event_count"] for m in t if m["status"] == "END")
    assert total == cdc.count()


def test_seq_gap_detector_math(spark, sf_dir):
    """Reported gaps must exceed the threshold and max >= avg."""
    from debezium_spark.cdc.materialize import GAP_THRESHOLD, cdc_seq_gaps_q

    rows = cdc_seq_gaps_q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_gap"] > GAP_THRESHOLD
        assert r["avg_gap"] <= r["max_gap"]
        assert r["n_gaps"] > 0


def test_redelivery_dedup_effectively_once(spark, sf_dir):
    """Dedup must collapse the doubled deliveries exactly back to the
    original per-op counts."""
    from pyspark.sql import functions as F

    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.materialize import cdc_redelivery_dedup_q

    cdc = synthesize_cdc_flat(spark, sf_dir)
    orig = {r["op"]: r["n"] for r in
            cdc.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = cdc_redelivery_dedup_q(spark, sf_dir).collect()
    for r in rows:
        assert r["n_unique"] == orig[r["op"]]
        assert r["n_delivered"] >= r["n_unique"]
    # redelivery genuinely happened (the % 5 == 1 predicate doubles
    # every create event)
    assert sum(r["n_delivered"] for r in rows) > sum(r["n_unique"] for r in rows)


def test_pk_update_rekey_old_key_gone(spark, sf_dir):
    """After a PK change, the old key must be absent from the
    materialized state and the new key present."""
    from debezium_spark.cdc.materialize import (
        REKEY_OFFSET,
        cdc_pk_update_rekey_q,
    )

    rows = cdc_pk_update_rekey_q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["new_key"] >= REKEY_OFFSET
        assert r["new_key"] - r["orig_key"] == REKEY_OFFSET
        assert r["o_totalprice"] is not None  # the create's after image
