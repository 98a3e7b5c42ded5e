"""Topic sinks + JSON envelope wire-format round-trip."""

import json
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import latest_state
from debezium_spark.cdc.transforms import content_based_router
from debezium_spark.sources.sinks import (
    envelope_to_json,
    json_to_envelope,
    sink_compacted,
    sink_to_topics,
)


def test_topic_sink_partition_layout(spark, sf_dir):
    cdc = synthesize_cdc_flat(spark, sf_dir)
    routed = content_based_router(
        cdc,
        [(F.col("op") == "d", "deletes")],
        default="main",
    )
    with tempfile.TemporaryDirectory() as out:
        sink_to_topics(routed, out)
        dirs = {d for d in os.listdir(out) if d.startswith("topic=")}
        assert dirs == {"topic=main", "topic=deletes"}
        # partition pruning: reading one topic reads only its rows
        deletes = spark.read.parquet(out).filter(F.col("topic") == "deletes")
        assert deletes.count() == cdc.filter(F.col("op") == "d").count()


def test_compacted_sink_one_row_per_key(spark, sf_dir):
    cdc = synthesize_cdc_flat(spark, sf_dir)
    cur = latest_state(cdc)
    with tempfile.TemporaryDirectory() as out:
        sink_compacted(cur, out)
        back = spark.read.parquet(out)
        assert back.count() == cur.count()
        assert back.groupBy("key").count().filter("count > 1").count() == 0


def test_json_wire_roundtrip(spark, sf_dir):
    cdc = synthesize_cdc_flat(spark, sf_dir).select(
        "key", "op", "seq", "ts_ms", "before_totalprice",
        "after_totalprice", "o_custkey", "o_orderstatus", "o_orderpriority",
    )
    wire = envelope_to_json(cdc)
    row = wire.first()
    assert row["value"].startswith("{")
    back = json_to_envelope(wire)
    assert back.count() == cdc.count()
    # to_json drops null-valued struct fields → before/after of
    # creates/deletes round-trip as nulls; compare row-level multisets
    diff = back.unionByName(cdc).groupBy(back.columns).count().filter(
        F.col("count") != 2
    )
    assert diff.count() == 0


def test_avro_wire_roundtrip(spark, sf_dir):
    from debezium_spark.sources.avro_wire import (
        _SINGLE_OBJECT_MAGIC,
        avro_to_envelope,
        envelope_to_avro,
        schema_fingerprint_bytes,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir).select(
        "key", "op", "seq", "ts_ms", "before_totalprice",
        "after_totalprice", "o_custkey", "o_orderstatus", "o_orderpriority",
    )
    wire = envelope_to_avro(cdc)
    row = wire.first()
    assert bytes(row["value"][:2]) == _SINGLE_OBJECT_MAGIC
    assert bytes(row["value"][2:10]) == schema_fingerprint_bytes()
    back = avro_to_envelope(wire)
    assert back.count() == cdc.count()
    diff = back.unionByName(cdc).groupBy(back.columns).count().filter(
        F.col("count") != 2
    )
    assert diff.count() == 0


def test_avro_codec_exact_values():
    """Spot-check the binary encoding against hand-computed zigzag
    varints from the Avro spec (1→02, -1→01, 64→80 01)."""
    from debezium_spark.sources.avro_wire import (
        _zigzag_encode,
        decode_envelope,
        encode_envelope,
    )

    assert _zigzag_encode(1) == b"\x02"
    assert _zigzag_encode(-1) == b"\x01"
    assert _zigzag_encode(64) == b"\x80\x01"
    rec = {
        "key": 42, "op": "u", "seq": 7, "ts_ms": 1700000000000,
        "before_totalprice": 1.5, "after_totalprice": None,
        "o_custkey": -3, "o_orderstatus": "O", "o_orderpriority": None,
    }
    assert decode_envelope(encode_envelope(rec)) == rec


def test_cloudevents_roundtrip(spark, sf_dir):
    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.sources.sinks import (
        cloudevents_to_envelope,
        envelope_to_cloudevents,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir).select(
        "key", "op", "seq", "ts_ms", "before_totalprice",
        "after_totalprice", "o_custkey", "o_orderstatus",
        "o_orderpriority",
    ).limit(500)
    wire = envelope_to_cloudevents(cdc)
    one = json.loads(wire.first()["value"])
    assert one["specversion"] == "1.0"
    assert one["type"].endswith("DataChangeEvent")
    assert "T" in one["time"] and one["time"].endswith("Z")
    back = cloudevents_to_envelope(wire)
    # to_json drops null struct fields; compare on non-null projection
    a = cdc.na.fill(0.0).orderBy("key", "seq").collect()
    b = back.na.fill(0.0).orderBy("key", "seq").collect()
    assert a == b


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    import uuid

    from debezium_spark.sources.sinks import write_bucketed
    from debezium_spark.sources.tables import load_table

    sfx = uuid.uuid4().hex[:8]
    lt, rt = f"orders_b_{sfx}", f"cust_b_{sfx}"
    try:
        write_bucketed(
            load_table(spark, sf_dir, "orders").withColumnRenamed(
                "o_custkey", "custkey"),
            lt, "custkey", 8, str(tmp_path / lt))
        write_bucketed(
            load_table(spark, sf_dir, "customer").withColumnRenamed(
                "c_custkey", "custkey"),
            rt, "custkey", 8, str(tmp_path / rt))
        # bucketed joins need AQE's broadcast demotion out of the way
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(lt).join(spark.table(rt), "custkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it is row-identical to the plain join
        want = (
            load_table(spark, sf_dir, "orders")
            .withColumnRenamed("o_custkey", "custkey")
            .join(load_table(spark, sf_dir, "customer")
                  .withColumnRenamed("c_custkey", "custkey"), "custkey")
            .count()
        )
        assert j.count() == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
