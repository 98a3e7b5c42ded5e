"""CDC state materialization: what a consumer of the change stream
builds — latest-state tables (log compaction / last-write-wins), SCD2
history, tombstones, snapshot⋈stream merge, DBLog incremental-snapshot
de-duplication, transaction metadata, and heartbeat lag metrics.

Scale design: `latest_state` and `scd2` are each ONE hash shuffle on
the primary key (window over partitionBy(key)); AQE splits skewed hot
keys. At 100 TB of change events this is the minimal movement — no
join, no second shuffle, and map-side the stream stays columnar.
Equivalent semantics to Delta's MERGE INTO for the upsert case, built
from primitives (the test image has no Delta jars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import CDC_FLAT_SQL, SNAPSHOT_CTE_SQL, TS_EPOCH_MS
from debezium_spark.cdc.envelope import synthesize_cdc_flat, synthesize_snapshot_flat
from debezium_spark.cdc.envelope import is_deleted, n_versions, txn_id
from debezium_spark.cdc.envelope import sql_is_deleted, sql_n_versions, sql_txn_id
from debezium_spark.functions.rounding import round_half_up, to_units
from debezium_spark.functions.rounding import sql_round_half_up, sql_to_units


# --------------------------------------------------------------------------
# Latest-state materialization (log compaction): the row each key has
# after replaying the log; keys whose final event is a delete vanish.
# This is the engine's one max-seq-wins kernel: every materializer and
# sink calls it, and every oracle calls its DuckDB twin
# `sql_latest_state`, so this module owns both spellings of the rule.
# The window form plans as WindowGroupLimit on both sides of the key
# exchange, so each map task already cuts a key to its top row before
# the shuffle.
# --------------------------------------------------------------------------
def latest_state(
    cdc: DataFrame,
    key: str | list[str] = "key",
    seq: str = "seq",
    keep_tombstones: bool = False,
) -> DataFrame:
    """The highest-`seq` event per `key` (one column name or a list).
    With keep_tombstones a key whose last event is a delete keeps that
    delete row instead of vanishing."""
    keys = [key] if isinstance(key, str) else key
    w = Window.partitionBy(*keys).orderBy(F.desc(seq))
    top = F.col("__rn") == 1
    if not keep_tombstones:
        top = top & (F.col("op") != "d")
    return cdc.withColumn("__rn", F.row_number().over(w)).filter(top).drop("__rn")


def sql_latest_state(
    src: str, key: str | list[str] = "key", keep_tombstones: bool = False
) -> str:
    """DuckDB twin of `latest_state`, as a parenthesized subquery over
    `src` (a relation name or a parenthesized query) with `src`'s
    columns."""
    keys = ", ".join([key] if isinstance(key, str) else key)
    top = (
        f"SELECT * FROM {src} QUALIFY row_number() OVER "
        f"(PARTITION BY {keys} ORDER BY seq DESC) = 1"
    )
    if keep_tombstones:
        return f"({top})"
    return f"(SELECT * FROM ({top}) WHERE op <> 'd')"


def cdc_latest_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = latest_state(synthesize_cdc_flat(spark, sf_dir))
    return cur.select(
        "key",
        F.col("after_totalprice").alias("o_totalprice"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "seq",
    )


# --------------------------------------------------------------------------
# Truncate handling (op='t'): a truncate event wipes the whole
# collection; only events after the LAST truncate contribute to state
# (Debezium emits truncate events with null key/images).
# --------------------------------------------------------------------------
def latest_state_with_truncate(cdc: DataFrame) -> DataFrame:
    last_trunc = cdc.filter(F.col("op") == "t").agg(
        F.coalesce(F.max("seq"), F.lit(-1)).alias("__trunc_seq")
    )
    survivors = cdc.filter(F.col("op") != "t").join(
        F.broadcast(last_trunc)
    ).filter(F.col("seq") > F.col("__trunc_seq")).drop("__trunc_seq")
    return latest_state(survivors)


# --------------------------------------------------------------------------
# SCD2 history: every non-delete event opens a version; the next event
# on the same key (update OR delete) closes it.
# --------------------------------------------------------------------------
def scd2(cdc: DataFrame) -> DataFrame:
    w = Window.partitionBy("key").orderBy("seq")
    versions = cdc.withColumn("valid_to_seq", F.lead("seq").over(w)).filter(
        F.col("op") != "d"
    )
    return versions.select(
        F.col("key"),
        F.col("seq").alias("valid_from_seq"),
        "valid_to_seq",
        F.col("valid_to_seq").isNull().alias("is_current"),
        F.col("after_totalprice").alias("o_totalprice"),
        "op",
    )


def cdc_scd2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2(synthesize_cdc_flat(spark, sf_dir))


# --------------------------------------------------------------------------
# Tombstones: Debezium emits (key, null) after each delete so log
# compaction can drop the key.
# --------------------------------------------------------------------------
def tombstones(cdc: DataFrame) -> DataFrame:
    return cdc.filter(F.col("op") == "d").select(
        "key",
        F.col("seq").alias("delete_seq"),
        F.col("ts_ms").alias("delete_ts_ms"),
        F.lit(None).cast("string").alias("value"),
    )


def cdc_tombstones_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tombstones(synthesize_cdc_flat(spark, sf_dir))


# --------------------------------------------------------------------------
# Snapshot ⋈ stream merge: union the op='r' snapshot (seq = k*10, i.e.
# before any stream event of the key) with the live log, then compact.
# Winning-op distribution exercises the r-path end to end.
# --------------------------------------------------------------------------
def snapshot_stream_merge(snapshot: DataFrame, stream: DataFrame) -> DataFrame:
    return latest_state(snapshot.unionByName(stream))


def cdc_snapshot_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = snapshot_stream_merge(
        synthesize_snapshot_flat(spark, sf_dir), synthesize_cdc_flat(spark, sf_dir)
    )
    return (
        merged.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("after_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# Incremental snapshot (DBLog watermark windows, per Debezium's
# signal-based incremental snapshotting): keys are chunked; a chunk's
# snapshot read opens at watermark W(c); a snapshot row is discarded
# when the live log already produced an event for that key inside the
# window (seq >= W(c)) — the stream is authoritative there.
#   chunk(k) = k / 1000,  W(c) = c*10000 + 5000
# --------------------------------------------------------------------------
CHUNK_SIZE = 1000
CHUNK_SEQ_SPAN = 10000
WATERMARK_OFFSET = 5000


def incremental_snapshot_merge(snapshot: DataFrame, stream: DataFrame) -> DataFrame:
    chunk = (F.col("key") / CHUNK_SIZE).cast("long")
    watermark = chunk * CHUNK_SEQ_SPAN + WATERMARK_OFFSET

    # single aggregation pass over the stream: per-key high watermark
    # + last state via max_by — ONE shuffle total (the old shape was a
    # window pass plus two joins against a separate max aggregation)
    summary = stream.groupBy("key").agg(
        F.max("seq").alias("max_seq"),
        F.max_by("after_totalprice", "seq").alias("last_after"),
        F.max_by("op", "seq").alias("last_op"),
    )

    snap_kept = (
        snapshot.join(summary.select("key", "max_seq"), "key", "left")
        .withColumn("__wm", watermark)
        .filter(F.col("max_seq").isNull() | (F.col("max_seq") < F.col("__wm")))
        .select(
            "key",
            F.col("after_totalprice").alias("o_totalprice"),
            F.col("seq"),
            F.lit("snapshot").alias("origin"),
        )
    )
    live_kept = (
        summary.withColumn("__wm", watermark)
        .filter((F.col("max_seq") >= F.col("__wm")) & (F.col("last_op") != "d"))
        .select(
            "key",
            F.col("last_after").alias("o_totalprice"),
            F.col("max_seq").alias("seq"),
            F.lit("stream").alias("origin"),
        )
    )
    return snap_kept.unionByName(live_kept)


def cdc_incremental_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = incremental_snapshot_merge(
        synthesize_snapshot_flat(spark, sf_dir), synthesize_cdc_flat(spark, sf_dir)
    )
    return (
        merged.groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy("origin")
    )


# --------------------------------------------------------------------------
# Transaction metadata (Debezium transaction topic: BEGIN/END with
# event counts per data collection), per envelope.txn_id.
# --------------------------------------------------------------------------
def txn_boundaries(cdc: DataFrame) -> DataFrame:
    txn = cdc.withColumn("txn_id", txn_id(F.col("seq")))
    return (
        txn.groupBy("txn_id")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("seq").alias("begin_seq"),
            F.max("seq").alias("end_seq"),
            F.countDistinct("key").alias("n_keys"),
        )
        .orderBy("txn_id")
    )


def cdc_txn_boundaries_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return txn_boundaries(synthesize_cdc_flat(spark, sf_dir))


# --------------------------------------------------------------------------
# Transaction topic: Debezium's transaction metadata topic emits
# BEGIN/END marker events around each transaction; END carries the
# per-collection event count.
# --------------------------------------------------------------------------
def transaction_topic(cdc: DataFrame) -> DataFrame:
    txn = cdc.withColumn("txn_id", txn_id(F.col("seq")))
    bounds = txn.groupBy("txn_id").agg(
        F.min("seq").alias("begin_seq"),
        F.max("seq").alias("end_seq"),
        F.count(F.lit(1)).alias("event_count"),
    )
    begin = bounds.select(
        "txn_id",
        F.lit("BEGIN").alias("status"),
        F.col("begin_seq").alias("marker_seq"),
        F.lit(None).cast("long").alias("event_count"),
    )
    end = bounds.select(
        "txn_id",
        F.lit("END").alias("status"),
        F.col("end_seq").alias("marker_seq"),
        F.col("event_count"),
    )
    return begin.unionByName(end)


def cdc_transaction_topic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transaction_topic(synthesize_cdc_flat(spark, sf_dir))


# --------------------------------------------------------------------------
# Sequence-gap detector: missing-LSN surveillance per shard — gaps in
# the per-shard seq chain larger than a threshold (operational parity
# with Debezium's missing-offset diagnostics).
# --------------------------------------------------------------------------
GAP_THRESHOLD = 38


def cdc_seq_gaps_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = synthesize_cdc_flat(spark, sf_dir)
    shard = cdc.withColumn("shard", F.col("key") % 4)
    w = Window.partitionBy("shard").orderBy("seq")
    gaps = shard.withColumn("prev_seq", F.lag("seq").over(w)).withColumn(
        "gap", F.col("seq") - F.col("prev_seq")
    )
    return (
        gaps.filter(F.col("gap") > GAP_THRESHOLD)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.max("gap").alias("max_gap"),
            round_half_up(F.avg("gap"), 2).alias("avg_gap"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# Heartbeat / lag metrics: per source shard (key % 4), how far behind
# the global high-watermark the shard's last event is.
# --------------------------------------------------------------------------
def cdc_heartbeat_lag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = synthesize_cdc_flat(spark, sf_dir)
    shard = cdc.withColumn("shard", F.col("key") % 4)
    per_shard = shard.groupBy("shard").agg(
        F.max("ts_ms").alias("shard_high_wm"), F.count(F.lit(1)).alias("n_events")
    )
    global_wm = shard.agg(F.max("ts_ms").alias("global_high_wm"))
    return (
        per_shard.crossJoin(F.broadcast(global_wm))
        .select(
            "shard",
            "n_events",
            "shard_high_wm",
            (F.col("global_high_wm") - F.col("shard_high_wm")).alias("lag_ms"),
        )
        .orderBy("shard")
    )


ORACLES: dict[str, str] = {
    "cdc_latest_state": CDC_FLAT_SQL
    + f"""
        SELECT key, after_totalprice AS o_totalprice, o_custkey,
               o_orderstatus, o_orderpriority, seq
        FROM {sql_latest_state("cdc")}
    """,
    "cdc_scd2": CDC_FLAT_SQL
    + """
        SELECT key, seq AS valid_from_seq, valid_to_seq,
               valid_to_seq IS NULL AS is_current,
               after_totalprice AS o_totalprice, op
        FROM (SELECT *, lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to_seq
              FROM cdc)
        WHERE op <> 'd'
    """,
    "cdc_tombstones": CDC_FLAT_SQL
    + """
        SELECT key, seq AS delete_seq, ts_ms AS delete_ts_ms,
               CAST(NULL AS VARCHAR) AS value
        FROM cdc WHERE op = 'd'
    """,
    "cdc_snapshot_merge": CDC_FLAT_SQL
    + f"""
        , {SNAPSHOT_CTE_SQL}, unioned AS (
            SELECT key, op, seq, after_totalprice FROM cdc
            UNION ALL
            SELECT key, op, seq, after_totalprice FROM snap
        )
        SELECT op, count(*) AS n, round(sum(after_totalprice), 2) AS sum_totalprice
        FROM {sql_latest_state("unioned")}
        GROUP BY op ORDER BY op
    """,
    "cdc_incremental_snapshot": CDC_FLAT_SQL
    + f"""
        , {SNAPSHOT_CTE_SQL}, stream_max AS (
            SELECT key, max(seq) AS max_seq FROM cdc GROUP BY key
        ), live AS (
            SELECT key, after_totalprice AS o_totalprice
            FROM {sql_latest_state("cdc")}
        ), merged AS (
            SELECT s.key, s.after_totalprice AS o_totalprice, 'snapshot' AS origin
            FROM snap s LEFT JOIN stream_max m ON s.key = m.key
            WHERE m.max_seq IS NULL
               OR m.max_seq < (s.key // 1000) * 10000 + 5000
            UNION ALL
            SELECT l.key, l.o_totalprice, 'stream' AS origin
            FROM live l JOIN stream_max m ON l.key = m.key
            WHERE m.max_seq >= (l.key // 1000) * 10000 + 5000
        )
        SELECT origin, count(*) AS n, round(sum(o_totalprice), 2) AS sum_totalprice
        FROM merged GROUP BY origin ORDER BY origin
    """,
    "cdc_txn_boundaries": CDC_FLAT_SQL
    + f"""
        SELECT {sql_txn_id("seq")} AS txn_id, count(*) AS event_count,
               min(seq) AS begin_seq, max(seq) AS end_seq,
               count(DISTINCT key) AS n_keys
        FROM cdc GROUP BY txn_id ORDER BY txn_id
    """,
    "cdc_transaction_topic": CDC_FLAT_SQL
    + f"""
        , bounds AS (
            SELECT {sql_txn_id("seq")} AS txn_id, min(seq) AS begin_seq,
                   max(seq) AS end_seq, count(*) AS event_count
            FROM cdc GROUP BY txn_id
        )
        SELECT txn_id, 'BEGIN' AS status, begin_seq AS marker_seq,
               CAST(NULL AS BIGINT) AS event_count
        FROM bounds
        UNION ALL
        SELECT txn_id, 'END' AS status, end_seq AS marker_seq, event_count
        FROM bounds
    """,
    "cdc_seq_gaps": CDC_FLAT_SQL
    + f"""
        SELECT shard, count(*) AS n_gaps, max(gap) AS max_gap,
               {sql_round_half_up("avg(gap)", 2)} AS avg_gap
        FROM (SELECT key % 4 AS shard, seq,
                     seq - lag(seq) OVER (PARTITION BY key % 4 ORDER BY seq) AS gap
              FROM cdc)
        WHERE gap > 38
        GROUP BY shard ORDER BY shard
    """,
    "cdc_heartbeat_lag": CDC_FLAT_SQL
    + """
        SELECT key % 4 AS shard, count(*) AS n_events,
               max(ts_ms) AS shard_high_wm,
               (SELECT max(ts_ms) FROM cdc) - max(ts_ms) AS lag_ms
        FROM cdc GROUP BY shard ORDER BY shard
    """,
}

QUERIES = {
    "cdc_latest_state": cdc_latest_state_q,
    "cdc_scd2": cdc_scd2_q,
    "cdc_tombstones": cdc_tombstones_q,
    "cdc_snapshot_merge": cdc_snapshot_merge_q,
    "cdc_incremental_snapshot": cdc_incremental_snapshot_q,
    "cdc_txn_boundaries": cdc_txn_boundaries_q,
    "cdc_transaction_topic": cdc_transaction_topic_q,
    "cdc_seq_gaps": cdc_seq_gaps_q,
    "cdc_heartbeat_lag": cdc_heartbeat_lag_q,
}


TRUNC_SEQ = 10005  # fixed marker: keys ≤ ~1000 wiped at every sf


def cdc_truncate_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate-event materialization under the external gate: inject
    an op='t' marker (null key/images — Debezium truncate layout) at a
    fixed sequence, then materialize. Only events after the last
    truncate contribute to state (latest_state_with_truncate)."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    types = dict(cdc.dtypes)
    marker = cdc.limit(1).select(
        *[
            (
                F.lit("t")
                if c == "op"
                else F.lit(TRUNC_SEQ).cast("long")
                if c == "seq"
                else F.lit(TS_EPOCH_MS + TRUNC_SEQ).cast("long")
                if c == "ts_ms"
                else F.lit(None).cast(types[c])
            ).alias(c)
            for c in cdc.columns
        ]
    )
    st = latest_state_with_truncate(cdc.unionByName(marker))
    return st.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.sum(to_units(F.col("after_totalprice"), 2)).alias("sum_after_cents"),
    )


ORACLES["cdc_truncate_state"] = CDC_FLAT_SQL + f"""
        , surv AS (SELECT * FROM cdc WHERE seq > {TRUNC_SEQ}),
        latest AS {sql_latest_state("surv")}
        SELECT count(*) AS n_keys, min(key) AS min_key, max(key) AS max_key,
               CAST(sum({sql_to_units("after_totalprice", 2)})
                    AS BIGINT) AS sum_after_cents
        FROM latest
    """
QUERIES["cdc_truncate_state"] = cdc_truncate_state_q


def cdc_composite_key_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite (multi-column) message keys under the external gate:
    latest-state materialization keyed on (o_custkey, o_orderpriority)
    — Debezium's message.key.columns — where many physical rows share
    one composite key, so last-write-wins genuinely differs from the
    single-key path. One hash shuffle on the composite key."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("op") != "d")
    latest = latest_state(cdc, ["o_custkey", "o_orderpriority"])
    return latest.select(
        "o_custkey",
        "o_orderpriority",
        "key",
        "seq",
        F.col("after_totalprice").alias("o_totalprice"),
    )


ORACLES["cdc_composite_key_state"] = CDC_FLAT_SQL + f"""
    SELECT o_custkey, o_orderpriority, key, seq,
           after_totalprice AS o_totalprice
    FROM {sql_latest_state("(SELECT * FROM cdc WHERE op <> 'd')",
                           ["o_custkey", "o_orderpriority"])}
"""
QUERIES["cdc_composite_key_state"] = cdc_composite_key_state_q


# --------------------------------------------------------------------------
# At-least-once delivery → effectively-once consumption: Debezium
# guarantees at-least-once, so a crash/restart redelivers a suffix of
# the log; the consumer dedupes on the source position (seq/LSN).
# --------------------------------------------------------------------------
def dedupe_redelivered(delivered: DataFrame) -> DataFrame:
    """Idempotent-consumer dedup: one hash shuffle on the source
    position (`seq`); duplicate envelopes are bit-identical so any
    survivor is correct."""
    return delivered.dropDuplicates(["seq"])


def cdc_redelivery_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulated at-least-once redelivery, then position-keyed dedup:
    per op, the delivered count vs the effectively-once count.
    Redelivery predicate is seq % 5 == 1: seq = key*10 + v with
    v ∈ 1..4, so seq % 5 == v % 5 — the original % 5 == 0 predicate
    could NEVER fire (a vacuous simulation caught by the round-5
    invariant test); % 5 == 1 redelivers every create event."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    delivered = cdc.unionByName(cdc.filter(F.pmod(F.col("seq"), F.lit(5)) == 1))
    deduped = dedupe_redelivered(delivered)
    counts = delivered.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_delivered")
    )
    unique = deduped.groupBy("op").agg(F.count(F.lit(1)).alias("n_unique"))
    return counts.join(unique, "op").orderBy("op")


ORACLES["cdc_redelivery_dedup"] = CDC_FLAT_SQL + """
    , delivered AS (
        SELECT * FROM cdc
        UNION ALL SELECT * FROM cdc WHERE seq % 5 = 1)
    SELECT op, count(*) AS n_delivered,
           count(DISTINCT seq) AS n_unique
    FROM delivered GROUP BY op ORDER BY op
"""
QUERIES["cdc_redelivery_dedup"] = cdc_redelivery_dedup_q


# --------------------------------------------------------------------------
# Primary-key update handling: Debezium represents a PK change as a
# DELETE under the old key plus a CREATE under the new key (public
# docs: "update events that change the row's primary key"). The
# rekeyed stream must materialize with the old key gone and the new
# key holding the row.
# --------------------------------------------------------------------------
REKEY_MOD = 13
REKEY_OFFSET = 10**12


def cdc_pk_update_rekey_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys ≡ 0 (mod 13) that are never deleted get a PK change on
    their final update: that event is split into d(old key) at seq*2
    and c(new key = key + 10^12) at seq*2+1 (seq doubling keeps the
    total order dense and collision-free); every other event keeps
    seq*2. Latest-state over the rekeyed stream, reported for the
    rekeyed keys. Narrow projections + one union + the latest-state
    shuffle — nothing new at scale."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    k = F.col("key")
    v = F.col("seq") - k * 10
    rekey = (
        (F.pmod(k, F.lit(REKEY_MOD)) == 0) & (~is_deleted(k)) & (v == n_versions(k))
    )

    passthrough = cdc.filter(~rekey).withColumn("seq", F.col("seq") * 2)
    old_del = (
        cdc.filter(rekey)
        .withColumn("seq", F.col("seq") * 2)
        .withColumn("op", F.lit("d"))
        .withColumn("after_totalprice", F.lit(None).cast("double"))
    )
    new_create = (
        cdc.filter(rekey)
        .withColumn("seq", F.col("seq") * 2 + 1)
        .withColumn("op", F.lit("c"))
        .withColumn("key", k + F.lit(REKEY_OFFSET))
        .withColumn("before_totalprice", F.lit(None).cast("double"))
    )
    stream = passthrough.unionByName(old_del).unionByName(new_create)
    return (
        latest_state(stream)
        .filter(F.col("key") >= REKEY_OFFSET)
        .select(
            F.col("key").alias("new_key"),
            (F.col("key") - REKEY_OFFSET).alias("orig_key"),
            F.col("seq").alias("last_seq"),
            F.col("after_totalprice").alias("o_totalprice"),
        )
        .orderBy("new_key")
    )


ORACLES["cdc_pk_update_rekey"] = CDC_FLAT_SQL + f"""
    , marked AS (
        SELECT *,
               {sql_n_versions("key")} AS nv,
               {sql_is_deleted("key")} AS is_del,
               seq - key * 10 AS v
        FROM cdc),
    rekeyed AS (
        SELECT key, op, seq * 2 AS seq, after_totalprice
        FROM marked
        WHERE NOT (key % {REKEY_MOD} = 0 AND NOT is_del AND v = nv)
        UNION ALL
        SELECT key, 'd' AS op, seq * 2 AS seq, NULL AS after_totalprice
        FROM marked
        WHERE key % {REKEY_MOD} = 0 AND NOT is_del AND v = nv
        UNION ALL
        SELECT key + {REKEY_OFFSET} AS key, 'c' AS op, seq * 2 + 1 AS seq,
               after_totalprice
        FROM marked
        WHERE key % {REKEY_MOD} = 0 AND NOT is_del AND v = nv),
    latest AS {sql_latest_state("rekeyed")}
    SELECT key AS new_key, key - {REKEY_OFFSET} AS orig_key,
           seq AS last_seq, after_totalprice AS o_totalprice
    FROM latest WHERE key >= {REKEY_OFFSET} ORDER BY new_key
"""
QUERIES["cdc_pk_update_rekey"] = cdc_pk_update_rekey_q


# --------------------------------------------------------------------------
# JDBC sink apply (Debezium's official JDBC sink connector, public
# docs /connectors/jdbc: insert.mode upsert, delete.enabled=false).
# The sink IGNORES delete events — the target row keeps the last
# non-delete image, so a key whose final event is a delete still holds
# its last upsert. Semantically distinct from latest-state (where the
# delete removes the key, i.e. delete.enabled=true): both are one
# pk-shuffle window plans.
# --------------------------------------------------------------------------
def jdbc_sink_apply(cdc: DataFrame) -> DataFrame:
    return latest_state(cdc.filter(F.col("op") != "d"))


def cdc_jdbc_sink_soft_delete_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink with delete.enabled=false under the external gate:
    every key ever created survives (deletes ignored); deleted keys
    carry their last upsert image and a was_deleted flag derived from
    the stream."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    state = jdbc_sink_apply(cdc)
    deleted = (
        cdc.filter(F.col("op") == "d")
        .select(F.col("key").alias("dkey"))
        .distinct()
    )
    return (
        state.join(deleted, state.key == deleted.dkey, "left")
        .select(
            "key",
            F.col("after_totalprice").alias("o_totalprice"),
            "o_orderstatus",
            "seq",
            F.col("dkey").isNotNull().alias("was_deleted"),
        )
        .orderBy("key")
    )


ORACLES["cdc_jdbc_sink_soft_delete"] = CDC_FLAT_SQL + f"""
    , state AS {sql_latest_state("(SELECT * FROM cdc WHERE op <> 'd')")},
    deleted AS (SELECT DISTINCT key FROM cdc WHERE op = 'd')
    SELECT r.key, r.after_totalprice AS o_totalprice, r.o_orderstatus,
           r.seq, d.key IS NOT NULL AS was_deleted
    FROM state r LEFT JOIN deleted d ON r.key = d.key
    ORDER BY r.key
"""
QUERIES["cdc_jdbc_sink_soft_delete"] = cdc_jdbc_sink_soft_delete_q


# --------------------------------------------------------------------------
# Transaction-boundary-consistent apply: the reason Debezium emits
# transaction metadata at all (public docs: transaction-metadata
# topic). A consumer that applies events as they arrive can expose a
# state that mixes half a transaction; the consistent pattern buffers
# events until their transaction's END marker is seen and applies only
# COMPLETE transactions. Batch re-expression: a delivery cutoff splits
# the stream; a transaction is applied iff ALL its events are inside
# the cutoff, otherwise every event of it is held back — then
# latest-state over the applied set.
# Scale: one groupBy(txn) for completeness + one join back on txn +
# the usual pk window — all key-bounded shuffles.
# --------------------------------------------------------------------------
TXN_BUCKETS = 97  # synthetic txn id: interleaves keys across txns


def txn_consistent_apply(cdc: DataFrame, cutoff_seq) -> DataFrame:
    """Filter to events of `txn_id`s fully delivered by cutoff_seq (a
    Column or literal)."""
    delivered = cdc.filter(F.col("seq") <= cutoff_seq)
    txn_state = delivered.groupBy("txn_id").agg(
        F.count(F.lit(1)).alias("__n_delivered")
    )
    totals = cdc.groupBy("txn_id").agg(F.count(F.lit(1)).alias("__n_total"))
    complete = (
        txn_state.join(totals, "txn_id")
        .filter(F.col("__n_delivered") == F.col("__n_total"))
        .select("txn_id")
    )
    return delivered.join(complete, "txn_id")


def cdc_txn_consistent_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the stream is bucketed into 97 interleaved transactions;
    delivery stops at 90% of max seq; state must reflect ONLY complete
    transactions (every event of a transaction straddling the cutoff
    is held back, even those already delivered)."""
    cdc = synthesize_cdc_flat(spark, sf_dir).withColumn(
        "txn_id", F.pmod(F.col("seq"), F.lit(TXN_BUCKETS))
    )
    # one-row scalar from the raw table (no crossJoin branch: join on
    # a constant key keeps the plan a broadcast of a single row)
    cutoff = cdc.agg(
        (F.floor(F.max("seq") * 9 / 10)).cast("long").alias("__cutoff")
    ).withColumn("__k", F.lit(1))
    applied = txn_consistent_apply(
        cdc.withColumn("__k", F.lit(1))
        .join(F.broadcast(cutoff), "__k")
        .drop("__k"),
        F.col("__cutoff"),
    )
    state = latest_state(applied)
    return state.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("seq").alias("max_applied_seq"),
        F.sum(to_units(F.col("after_totalprice"), 2)).alias("sum_cents"),
        F.countDistinct("txn_id").alias("n_txns_in_state"),
    )


ORACLES["cdc_txn_consistent_apply"] = CDC_FLAT_SQL + f"""
    , t AS (SELECT *, seq % {TXN_BUCKETS} AS txn_id FROM cdc),
    cut AS (SELECT CAST(floor(max(seq) * 9 / 10) AS BIGINT) AS c FROM t),
    complete AS (
        SELECT txn_id FROM t CROSS JOIN cut
        GROUP BY txn_id, c
        HAVING sum(CASE WHEN seq <= c THEN 1 ELSE 0 END) = count(*)),
    applied AS (
        SELECT t.* FROM t CROSS JOIN cut
        WHERE t.seq <= cut.c
          AND t.txn_id IN (SELECT txn_id FROM complete)),
    state AS {sql_latest_state("applied")}
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           max(seq) AS max_applied_seq,
           CAST(sum({sql_to_units("after_totalprice", 2)})
                AS BIGINT) AS sum_cents,
           count(DISTINCT txn_id) AS n_txns_in_state
    FROM state
"""
QUERIES["cdc_txn_consistent_apply"] = cdc_txn_consistent_apply_q


# --------------------------------------------------------------------------
# Point-in-time (PIT) join against the SCD2 history: "what did key K
# look like at time T" — the temporal lookup every CDC-fed feature
# store / audit query runs (and the reason SCD2 history is built at
# all). Semantics: the version with valid_from_seq <= T < valid_to_seq
# (half-open; NULL valid_to = current); a key deleted before T
# correctly matches nothing. Plan shape: equi-join on the key with the
# range predicate as a residual filter — a plain SortMergeJoin on the
# PK at 100 TB (versions-per-key is small and bounded), never a range
# cross join.
# --------------------------------------------------------------------------
def pit_join(history: DataFrame, probes: DataFrame) -> DataFrame:
    cond = (
        (history["key"] == probes["p_key"])
        & (probes["probe_seq"] >= history["valid_from_seq"])
        & (
            history["valid_to_seq"].isNull()
            | (probes["probe_seq"] < history["valid_to_seq"])
        )
    )
    return probes.join(history, cond, "left")


def cdc_pit_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: probe every key at three in-stream sequence points; per
    probe offset, how many keys existed then and the integer-cents sum
    of the then-valid totalprice (bit-exact)."""
    from debezium_spark.sources.tables import load_table

    hist = scd2(synthesize_cdc_flat(spark, sf_dir))
    o = load_table(spark, sf_dir, "orders")
    probes = o.select(
        F.col("o_orderkey").alias("p_key"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("off"),
    ).withColumn("probe_seq", F.col("p_key") * 10 + F.col("off"))
    j = pit_join(hist, probes)
    return (
        j.groupBy("off")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.count("valid_from_seq").alias("n_existing"),
            F.sum(to_units(F.col("o_totalprice"), 2)).alias("price_cents"),
        )
        .orderBy("off")
    )


ORACLES["cdc_pit_join"] = CDC_FLAT_SQL + f"""
    , hist AS (
        SELECT key, seq AS valid_from_seq,
               lead(seq) OVER (PARTITION BY key ORDER BY seq)
                   AS valid_to_seq,
               after_totalprice AS o_totalprice, op
        FROM cdc QUALIFY op <> 'd'
    ), probes AS (
        SELECT o_orderkey AS p_key, unnest([1, 2, 3]) AS off,
               o_orderkey * 10 + unnest([1, 2, 3]) AS probe_seq
        FROM orders
    )
    SELECT off, count(*) AS n_probes,
           count(valid_from_seq) AS n_existing,
           CAST(sum({sql_to_units("o_totalprice", 2)})
                AS BIGINT) AS price_cents
    FROM probes LEFT JOIN hist
      ON hist.key = probes.p_key
     AND probes.probe_seq >= hist.valid_from_seq
     AND probes.probe_seq < coalesce(hist.valid_to_seq, 9223372036854775807)
    GROUP BY off ORDER BY off
"""
QUERIES["cdc_pit_join"] = cdc_pit_join_q


# --------------------------------------------------------------------------
# Kafka compacted-topic semantics with delete.retention.ms: after
# compaction only the latest record per key survives, and tombstones
# (op 'd') survive only while younger than the retention horizon
# (watermark - retention). This is the contract consumers of a
# Debezium topic with cleanup.policy=compact actually read.
# --------------------------------------------------------------------------
def cdc_compact_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-key with tombstones kept (the latest_state kernel:
    one shuffle on key, cut to each key's top row map-side), then the
    retention cut against the stream watermark. The watermark/
    retention pair is a 1-row aggregate broadcast into the filter, so
    at 100 TB the plan is scan → window → filter; retention is
    half the stream's time span so both retained and expired
    tombstones exist at every scale factor."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    latest = latest_state(cdc, keep_tombstones=True)
    bounds = cdc.agg(
        F.max("ts_ms").alias("wm"),
        ((F.max("ts_ms") - F.min("ts_ms")) / 2).cast("long").alias("ret"),
    )
    return (
        latest.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("op") != "d")
            | (F.col("ts_ms") > F.col("wm") - F.col("ret"))
        )
        .select(
            "key",
            "seq",
            "op",
            "after_totalprice",
            (F.col("op") == "d").cast("int").alias("is_tombstone"),
        )
        .orderBy("key")
    )


ORACLES["cdc_compact_retention"] = CDC_FLAT_SQL + f"""
    , latest AS {sql_latest_state("cdc", keep_tombstones=True)},
    bounds AS (
        SELECT max(ts_ms) AS wm,
               CAST((max(ts_ms) - min(ts_ms)) // 2 AS BIGINT) AS ret
        FROM cdc
    )
    SELECT key, CAST(seq AS BIGINT) AS seq, op, after_totalprice,
           CAST(CASE WHEN op = 'd' THEN 1 ELSE 0 END AS INT) AS is_tombstone
    FROM latest, bounds
    WHERE op != 'd' OR ts_ms > wm - ret
    ORDER BY key
"""
QUERIES["cdc_compact_retention"] = cdc_compact_retention_q


# --------------------------------------------------------------------------
# Incremental view maintenance: keep a per-customer aggregate (live
# order count + live total, integer cents) current by folding change
# events as deltas — the CDC→OLAP pattern that avoids ever re-reading
# the base table. c adds the after image, d subtracts the before
# image, u contributes (after - before); the per-key telescoping sum
# lands exactly on the latest-state aggregate.
# --------------------------------------------------------------------------
def cdc_incremental_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One groupBy on o_custkey over the change stream — shuffle
    volume is O(changes), independent of the maintained view's size,
    and the delta expressions are a narrow map-side projection. At
    100 TB of accumulated history this is the operator that keeps an
    aggregate fresh from each micro-batch instead of recomputing the
    join of base tables (tests assert equality with the direct
    latest-state recompute)."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    after_c = to_units(F.col("after_totalprice"), 2)
    before_c = to_units(F.col("before_totalprice"), 2)
    delta_n = (
        F.when(F.col("op") == "c", F.lit(1))
        .when(F.col("op") == "d", F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    delta_cents = F.coalesce(after_c, F.lit(0)) - F.coalesce(
        before_c, F.lit(0)
    )
    return (
        cdc.groupBy("o_custkey")
        .agg(
            F.sum(delta_n).cast("long").alias("n_live_orders"),
            F.sum(delta_cents).cast("long").alias("live_total_cents"),
            F.count(F.lit(1)).cast("long").alias("n_changes_applied"),
        )
        .filter(F.col("n_live_orders") > 0)
        .orderBy("o_custkey")
    )


ORACLES["cdc_incremental_agg"] = CDC_FLAT_SQL + f"""
    SELECT o_custkey,
           CAST(sum(CASE op WHEN 'c' THEN 1 WHEN 'd' THEN -1 ELSE 0 END)
                AS BIGINT) AS n_live_orders,
           CAST(sum(coalesce({sql_to_units("after_totalprice", 2)}, 0)
                    - coalesce({sql_to_units("before_totalprice", 2)}, 0))
                AS BIGINT) AS live_total_cents,
           CAST(count(*) AS BIGINT) AS n_changes_applied
    FROM cdc
    GROUP BY o_custkey
    HAVING n_live_orders > 0
    ORDER BY o_custkey
"""
QUERIES["cdc_incremental_agg"] = cdc_incremental_agg_q


# --------------------------------------------------------------------------
# Per-event transaction ordering — the envelope `transaction` block.
# Debezium stamps every event inside a transaction with total_order
# (its position within the whole transaction) and
# data_collection_order (its position within its table's slice of the
# transaction) — debezium.io docs, "Transaction metadata". Consumers
# use these to re-serialize multi-table transactions downstream.
# --------------------------------------------------------------------------


def cdc_txn_event_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """total_order / data_collection_order synthesis. Collections
    follow the logical-table router's key-mod-3 sharding (one source
    table stands in for the multi-table capture set). Both ranks are
    windows over transaction-bounded partitions — hash exchanges keyed
    by (txn_id[, collection]), each partition ≤ the transaction's
    event count, so there is no global sort and the plan is two
    O(events) shuffles at any scale."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    txn = cdc.select(
        "key",
        "seq",
        txn_id(F.col("seq")).alias("txn_id"),
        F.concat(
            F.lit("orders_"), F.pmod(F.col("key"), F.lit(3)).cast("string")
        ).alias("collection"),
    )
    w_total = Window.partitionBy("txn_id").orderBy("seq")
    w_coll = Window.partitionBy("txn_id", "collection").orderBy("seq")
    return txn.select(
        "key",
        "seq",
        "txn_id",
        "collection",
        F.row_number().over(w_total).cast("long").alias("total_order"),
        F.row_number().over(w_coll).cast("long").alias("data_collection_order"),
    ).orderBy("seq")


ORACLES["cdc_txn_event_order"] = CDC_FLAT_SQL + f"""
    SELECT key, seq, {sql_txn_id("seq")} AS txn_id,
           'orders_' || CAST(key % 3 AS VARCHAR) AS collection,
           CAST(row_number() OVER (PARTITION BY {sql_txn_id("seq")}
                                   ORDER BY seq) AS BIGINT) AS total_order,
           CAST(row_number() OVER (PARTITION BY {sql_txn_id("seq")}, key % 3
                                   ORDER BY seq) AS BIGINT)
               AS data_collection_order
    FROM cdc ORDER BY seq
"""
QUERIES["cdc_txn_event_order"] = cdc_txn_event_order_q


def cdc_rate_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-rate anomaly surveillance (the ops-side companion of
    heartbeat lag): per (shard, 10s bucket) event counts, each bucket
    z-scored against its shard's previous 5 buckets. The z test is
    cross-multiplied into pure integers — spike iff
    (n·cnt − sum)² > K²·(cnt·sumsq − sum²) with n·cnt > sum — so both
    engines compare exact BIGINTs (no float mean/std drift). The
    rolling window is partitioned by shard and bounded (5 rows), so
    at scale it is a per-shard sliding aggregate, never a global
    window; K = 1 here so the mechanism demonstrably fires on the
    synthetic stream's natural variance."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    counts = (
        cdc.select(
            (F.col("key") % 3).cast("long").alias("shard"),
            F.floor(F.col("ts_ms") / 10000).cast("long").alias("bucket"),
        )
        .groupBy("shard", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("shard").orderBy("bucket").rowsBetween(-5, -1)
    prev_cnt = F.count("n").over(w)
    prev_sum = F.sum("n").over(w)
    prev_sumsq = F.sum(F.col("n") * F.col("n")).over(w)
    out = counts.select(
        "shard",
        "bucket",
        F.col("n").cast("long").alias("n"),
        prev_cnt.cast("long").alias("hist_buckets"),
        F.coalesce(prev_sum, F.lit(0)).cast("long").alias("hist_sum"),
        F.coalesce(prev_sumsq, F.lit(0)).cast("long").alias("hist_sumsq"),
    )
    dev = F.col("n") * F.col("hist_buckets") - F.col("hist_sum")
    var_n = (
        F.col("hist_buckets") * F.col("hist_sumsq")
        - F.col("hist_sum") * F.col("hist_sum")
    )
    return out.select(
        "*",
        (
            (F.col("hist_buckets") >= 5) & (dev > 0) & (dev * dev > var_n)
        ).alias("spike"),
    ).orderBy("shard", "bucket")


ORACLES["cdc_rate_anomaly"] = CDC_FLAT_SQL + """
    , counts AS (
        SELECT key % 3 AS shard, ts_ms // 10000 AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM cdc GROUP BY 1, 2
    ),
    hist AS (
        SELECT shard, bucket, n,
               CAST(count(n) OVER w AS BIGINT) AS hist_buckets,
               CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS hist_sum,
               CAST(coalesce(sum(n * n) OVER w, 0) AS BIGINT) AS hist_sumsq
        FROM counts
        WINDOW w AS (PARTITION BY shard ORDER BY bucket
                     ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
    )
    SELECT shard, bucket, n, hist_buckets, hist_sum, hist_sumsq,
           hist_buckets >= 5
           AND n * hist_buckets - hist_sum > 0
           AND (n * hist_buckets - hist_sum) * (n * hist_buckets - hist_sum)
               > hist_buckets * hist_sumsq - hist_sum * hist_sum AS spike
    FROM hist ORDER BY shard, bucket
"""
QUERIES["cdc_rate_anomaly"] = cdc_rate_anomaly_q
