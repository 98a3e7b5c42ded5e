"""Signal channel behavior (Debezium signaling parity)."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.envelope import synthesize_snapshot_flat
from debezium_spark.cdc.signals import (
    SIGNAL_SCHEMA,
    execute_snapshot,
    notifications,
    snapshot_chunks_requested,
)


@pytest.fixture(scope="module")
def signals(spark):
    rows = [
        ("s1", "execute-snapshot", '{"data-collection": "orders", "chunk": 0}'),
        ("s2", "execute-snapshot", '{"data-collection": "orders", "chunk": 1}'),
        ("s3", "pause", '{"from-seq": 100, "to-seq": 500}'),
        ("s4", "resume", "{}"),
        ("s5", "log", '{"message": "hello"}'),
    ]
    return spark.createDataFrame(rows, SIGNAL_SCHEMA)


def test_snapshot_chunks_parsed(signals):
    got = {r["chunk"] for r in snapshot_chunks_requested(signals).collect()}
    assert got == {0, 1}


def test_execute_snapshot_rereads_only_named_chunks(spark, sf_dir, signals):
    snap = synthesize_snapshot_flat(spark, sf_dir)
    out = execute_snapshot(snap, signals, chunk_size=100)
    keys = [r["key"] for r in out.collect()]
    assert keys  # chunk 0/1 with size 100 → keys < 200
    assert all(k < 200 for k in keys)
    expect = snap.filter(F.col("key") < 200).count()
    assert len(keys) == expect


def test_notifications_ack_every_signal(signals):
    out = {r["signal_id"]: r["status"] for r in notifications(signals).collect()}
    assert out == {
        "s1": "SNAPSHOT_STARTED",
        "s2": "SNAPSHOT_STARTED",
        "s3": "PAUSED",
        "s4": "RESUMED",
        "s5": "LOGGED",
    }
