"""Signal channel: Debezium's signaling mechanism re-expressed.

Debezium connectors read a signal table/topic with rows
(id, type, data) and act on them: `execute-snapshot` triggers an
incremental snapshot of named collections/chunks, `pause`/`resume`
gate streaming between watermarks, `log` is an operational no-op
marker. The Spark analog consumes a signal DataFrame and derives the
work plan declaratively:

- execute-snapshot → the chunk set to re-read; joined against the
  snapshot to produce the re-read rows, merged with the live stream
  through the DBLog window de-dup (materialize.incremental_snapshot).
- pause/resume and log → acknowledged in the notification frame.

Signals are synthesized deterministically from arithmetic so the
driver oracle could verify them; the module's behavior contract is
covered by tests (signal parsing is metadata-scale work).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SIGNAL_SCHEMA = "signal_id string, type string, data string"

from debezium_spark.cdc.envelope import SNAPSHOT_CTE_SQL  # noqa: E402

ORACLES: dict[str, str] = {
    "cdc_signal_snapshot": f"""
    WITH {SNAPSHOT_CTE_SQL}
        SELECT key // 1000 AS chunk, count(*) AS n,
               round(sum(after_totalprice), 2) AS sum_totalprice
        FROM snap
        WHERE key // 1000 IN (0, 2)
        GROUP BY chunk ORDER BY chunk
    """,
}


def parse_signals(signals: DataFrame) -> DataFrame:
    """Normalize the raw signal table: extract the JSON payload
    fields used by each signal type."""
    return signals.select(
        "signal_id",
        "type",
        F.get_json_object("data", "$.data-collection").alias("collection"),
        F.get_json_object("data", "$.chunk").cast("long").alias("chunk"),
        F.col("data"),
    )


def snapshot_chunks_requested(signals: DataFrame) -> DataFrame:
    """Chunk ids named by execute-snapshot signals."""
    return (
        parse_signals(signals)
        .filter(F.col("type") == "execute-snapshot")
        .select("collection", "chunk")
        .distinct()
    )


def execute_snapshot(
    snapshot: DataFrame, signals: DataFrame, chunk_size: int = 1000
) -> DataFrame:
    """Re-read exactly the snapshot chunks named by the signals
    (Debezium ad-hoc incremental snapshot).

    Signals are metadata-scale by definition, so the chunk list is
    collected driver-side and applied as an isin filter — Catalyst
    converts it to key-range predicates that prune the snapshot scan
    (a broadcast join here would block pushdown and cost a build)."""
    chunk_rows = (
        snapshot_chunks_requested(signals)
        .filter(F.col("collection") == "orders")
        .collect()
    )
    chunk_ids = sorted({r["chunk"] for r in chunk_rows})
    if not chunk_ids:
        return snapshot.limit(0)
    chunk = (F.col("key") / chunk_size).cast("long")
    return snapshot.filter(chunk.isin(chunk_ids))


def cdc_signal_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated end-to-end: two execute-snapshot signals (chunks
    0 and 2) drive an ad-hoc chunk re-read of the snapshot; report
    per-chunk row counts and sums."""
    from debezium_spark.cdc.envelope import synthesize_snapshot_flat

    signals = spark.createDataFrame(
        [
            ("s1", "execute-snapshot", '{"data-collection": "orders", "chunk": 0}'),
            ("s2", "execute-snapshot", '{"data-collection": "orders", "chunk": 2}'),
        ],
        SIGNAL_SCHEMA,
    )
    snap = synthesize_snapshot_flat(spark, sf_dir)
    reread = execute_snapshot(snap, signals, chunk_size=1000)
    return (
        reread.withColumn("chunk", (F.col("key") / 1000).cast("long"))
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("after_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy("chunk")
    )


def notifications(signals: DataFrame) -> DataFrame:
    """The notification channel: every signal acknowledged with a
    status row (Debezium emits similar progress notifications)."""
    parsed = parse_signals(signals)
    status = (
        F.when(F.col("type") == "execute-snapshot", "SNAPSHOT_STARTED")
        .when(F.col("type") == "pause", "PAUSED")
        .when(F.col("type") == "resume", "RESUMED")
        .otherwise("LOGGED")
    )
    return parsed.select(
        "signal_id", "type", status.alias("status"), "collection", "chunk"
    )


QUERIES = {"cdc_signal_snapshot": cdc_signal_snapshot_q}
