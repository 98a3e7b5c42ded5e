"""Debezium-style change-event envelope + deterministic CDC synthesis.

The envelope re-expresses Debezium's canonical change-event shape
(public docs: debezium.io "change event structure"): every row change
carries `before`, `after`, `source` metadata, an `op` code
(c/u/d/r/t), and `ts_ms`.

Because this sandbox has no live database, the change *stream* is
synthesized deterministically from the `orders` table with pure
arithmetic (Knuth multiplicative hashing) — the exact same generation
is expressible in ANSI SQL, which is what makes every CDC operator
verifiable against the DuckDB oracle (SURVEY §6). No randomness, no
UDFs: the whole synthesis is a narrow, codegen'd projection + one
`explode(sequence(...))` — at 100 TB this runs scan-speed with zero
shuffles.

Generation rule per source row with key k = o_orderkey:
  nv(k)     = 1 + (k * KNUTH_MULT) % 3          -- 1..3 row versions
  is_del(k) = (k * 40503) % 10 == 0              -- ~10% keys deleted
  events    = v in 1..nv  -> op 'c' (v=1) else 'u'
              plus v = nv+1 -> op 'd' when is_del
  seq       = k*10 + v                           -- total order (LSN)
  ts_ms     = 1700000000000 + seq
  after.o_totalprice = o_totalprice + v  (NULL for deletes)
  before.o_totalprice = previous version's value (NULL for creates)
  txn(seq)  = seq div 100                        -- transaction.id

This module owns both twins of each rule: `n_versions`, `is_deleted`,
`event_seq` (with its inverse `seq_version`) and `txn_id` have their
DuckDB builders (`sql_*`) beside them, which every oracle uses, so no
rule is written anywhere else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.functions.tokens import KNUTH_MULT
from debezium_spark.sources.tables import load_table

DEL_MULT = 40503
TS_EPOCH_MS = 1700000000000


def n_versions(k: Column) -> Column:
    """How many row versions key `k` gets, 1..3."""
    return F.lit(1) + (k * F.lit(KNUTH_MULT)) % F.lit(3)


def is_deleted(k: Column) -> Column:
    """Whether key `k` is deleted after its last version (~10% of keys)."""
    return (k * F.lit(DEL_MULT)) % F.lit(10) == F.lit(0)


def event_seq(k: Column, v: Column) -> Column:
    """The sequence number (LSN) of version `v` of key `k`."""
    return k * F.lit(10) + v


def seq_version(seq: Column, k: Column) -> Column:
    """Inverse of `event_seq`: the version of key `k`'s event at `seq`."""
    return seq - k * F.lit(10)


def txn_id(seq: Column) -> Column:
    """The transaction of the event at `seq`: 100 seqs per transaction."""
    return F.floor(seq / 100).cast("long")


def sql_n_versions(k: str) -> str:
    """DuckDB twin of `n_versions` over the SQL expression `k` (a sum)."""
    return f"1 + ({k} * {KNUTH_MULT}) % 3"


def sql_is_deleted(k: str) -> str:
    """DuckDB twin of `is_deleted` over the SQL expression `k`."""
    return f"(({k} * {DEL_MULT}) % 10 = 0)"


def sql_event_seq(k: str, v: str) -> str:
    """DuckDB twin of `event_seq` over the SQL expressions `k` and `v`."""
    return f"{k} * 10 + {v}"


def sql_seq_version(seq: str, k: str) -> str:
    """DuckDB twin of `seq_version` over the SQL expressions `seq` and `k`."""
    return f"{seq} - {k} * 10"


def sql_txn_id(seq: str) -> str:
    """DuckDB twin of `txn_id` over the SQL expression `seq` (> 0, so
    integer division floors)."""
    return f"{seq} // 100"


def synthesize_cdc_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change stream as flat columns: one row per change event."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    nv = n_versions(k)
    total = nv + F.when(is_deleted(k), F.lit(1)).otherwise(F.lit(0))

    df = (
        o.withColumn("nv", nv)
        .withColumn("total_v", total)
        .withColumn("v", F.explode(F.sequence(F.lit(1).cast("long"), F.col("total_v"))))
    )
    v = F.col("v")
    nvc = F.col("nv")
    op = (
        F.when(v == 1, F.lit("c"))
        .when(v <= nvc, F.lit("u"))
        .otherwise(F.lit("d"))
    )
    seq = event_seq(k, v)
    return df.select(
        k.alias("key"),
        op.alias("op"),
        seq.alias("seq"),
        (F.lit(TS_EPOCH_MS) + seq).alias("ts_ms"),
        F.when(v == 1, F.lit(None).cast("double"))
        .when(v > nvc, F.col("o_totalprice") + nvc)
        .otherwise(F.col("o_totalprice") + v - 1)
        .alias("before_totalprice"),
        F.when(v > nvc, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice") + v)
        .alias("after_totalprice"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderdate"),
        F.col("o_orderpriority"),
    )


def synthesize_snapshot_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-snapshot events (op='r'): the final state of every
    non-deleted key, with seq = k*10 (sorts before that key's stream
    events — snapshot precedes streaming, Debezium 'initial' mode)."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return (
        o.filter(~is_deleted(k))
        .select(
            k.alias("key"),
            F.lit("r").alias("op"),
            (k * F.lit(10)).alias("seq"),
            (F.lit(TS_EPOCH_MS) + k * F.lit(10)).alias("ts_ms"),
            F.lit(None).cast("double").alias("before_totalprice"),
            (F.col("o_totalprice") + n_versions(k)).alias("after_totalprice"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_orderdate"),
            F.col("o_orderpriority"),
        )
    )


def synthesize_cdc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-level envelope: struct columns mirroring Debezium's shape
    {before, after, source{connector,db,table,ts_ms,snapshot,seq},
    op, ts_ms, transaction{id}}."""
    flat = synthesize_cdc_flat(spark, sf_dir)
    payload = lambda prefix: F.struct(  # noqa: E731
        F.col("key").alias("o_orderkey"),
        F.col(f"{prefix}_totalprice").alias("o_totalprice"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderdate"),
        F.col("o_orderpriority"),
    )
    null_payload = F.lit(None).cast(
        "struct<o_orderkey:bigint,o_totalprice:double,o_custkey:bigint,"
        "o_orderstatus:string,o_orderdate:timestamp,o_orderpriority:string>"
    )
    return flat.select(
        F.when(F.col("before_totalprice").isNotNull(), payload("before"))
        .otherwise(null_payload)
        .alias("before"),
        F.when(F.col("op") != "d", payload("after"))
        .otherwise(null_payload)
        .alias("after"),
        F.struct(
            F.lit("debezium-spark").alias("connector"),
            F.lit("0.3.0").alias("version"),
            F.lit("tpch").alias("db"),
            F.lit("orders").alias("table"),
            F.col("ts_ms").alias("ts_ms"),
            F.lit(False).alias("snapshot"),
            F.col("seq").alias("seq"),
        ).alias("source"),
        F.col("op"),
        F.col("ts_ms"),
        F.struct(
            txn_id(F.col("seq")).alias("id"),
        ).alias("transaction"),
        F.col("key"),
        F.col("seq"),
    )


# ---------------------------------------------------------------------------
# DuckDB-side synthesis (identical arithmetic) — used as a CTE prefix
# by every CDC oracle query.
# ---------------------------------------------------------------------------
CDC_FLAT_SQL = f"""
    WITH cdc_base AS (
        SELECT o_orderkey AS key, o_custkey, o_orderstatus, o_orderdate,
               o_orderpriority, o_totalprice,
               {sql_n_versions("o_orderkey")} AS nv,
               {sql_is_deleted("o_orderkey")} AS is_del
        FROM orders
    ), cdc_ev AS (
        SELECT *, unnest(generate_series(CAST(1 AS BIGINT),
                   nv + CASE WHEN is_del THEN 1 ELSE 0 END)) AS v
        FROM cdc_base
    ), cdc AS (
        SELECT key,
               CASE WHEN v = 1 THEN 'c' WHEN v <= nv THEN 'u' ELSE 'd' END AS op,
               {sql_event_seq("key", "v")} AS seq,
               {TS_EPOCH_MS} + {sql_event_seq("key", "v")} AS ts_ms,
               CASE WHEN v = 1 THEN NULL
                    WHEN v > nv THEN o_totalprice + nv
                    ELSE o_totalprice + v - 1 END AS before_totalprice,
               CASE WHEN v > nv THEN NULL
                    ELSE o_totalprice + v END AS after_totalprice,
               o_custkey, o_orderstatus, o_orderdate, o_orderpriority
        FROM cdc_ev
    )
"""

# The initial snapshot as the CTEs `snap_base` and `snap` without a
# WITH, so an oracle can list them among its own; `snap` has the
# columns of `synthesize_snapshot_flat`.
SNAPSHOT_CTE_SQL = f"""snap_base AS (
        SELECT o_orderkey AS key, o_custkey, o_orderstatus, o_orderdate,
               o_orderpriority, o_totalprice,
               {sql_n_versions("o_orderkey")} AS nv
        FROM orders
        WHERE NOT {sql_is_deleted("o_orderkey")}
    ), snap AS (
        SELECT key, 'r' AS op, key * 10 AS seq,
               {TS_EPOCH_MS} + key * 10 AS ts_ms,
               NULL AS before_totalprice,
               o_totalprice + nv AS after_totalprice,
               o_custkey, o_orderstatus, o_orderdate, o_orderpriority
        FROM snap_base
    )"""
