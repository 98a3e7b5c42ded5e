"""Delivery side: topic sinks and envelope serialization.

Debezium delivers change events to topics (Kafka) or, via Debezium
Server, to object stores and queues, serialized as JSON envelopes.
The Spark-native analogs:

- `sink_to_topics`: write a routed stream partitioned by topic —
  downstream consumers read only their topic partition (partition
  pruning on the sink layout).
- `sink_compacted`: the latest-state table as the compacted topic.
- `envelope_to_json` / `json_to_envelope`: the JSON wire format —
  lossless round-trip (tested) so any JSON consumer of Debezium
  envelopes can read this engine's output.

Avro serialization lives in `avro_wire.py`: the spark-avro connector
jar is absent from this image (probed — pyspark.sql.avro.functions
raises AVRO_NOT_LOADED), so that module implements the public Avro
binary + single-object encoding specs directly for the envelope
schema, with a lossless round-trip test like the JSON one. The JSON
path carries the schema inline (Debezium's schemas.enable=false
layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from debezium_spark.functions.rounding import sql_to_units, to_units


def sink_to_topics(df: DataFrame, out_dir: str) -> None:
    """Partition the sink layout by `topic`: consumers of one topic
    scan one directory (partition pruning), and appends stay
    per-topic."""
    df.write.mode("overwrite").partitionBy("topic").parquet(out_dir)


def sink_compacted(state: DataFrame, out_dir: str) -> None:
    """Compacted-topic sink: one row per key (the latest state),
    bucket-sorted by key for downstream merge-joins."""
    state.repartition(F.col("key")).sortWithinPartitions("key").write.mode(
        "overwrite"
    ).parquet(out_dir)


def _payload() -> Column:
    """The Debezium-style change-event payload both JSON wire formats
    carry (as the value, or as CloudEvents `data`)."""
    return F.struct(
        F.struct(
            F.col("before_totalprice").alias("o_totalprice"),
        ).alias("before"),
        F.struct(
            F.col("after_totalprice").alias("o_totalprice"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        ).alias("after"),
        F.col("op"),
        F.col("ts_ms"),
        F.col("seq"),
    )


def _to_wire(flat: DataFrame, value: Column) -> DataFrame:
    return flat.select(
        F.to_json(F.struct(F.col("key"))).alias("key"),
        F.to_json(value).alias("value"),
    )


def _from_wire(wire: DataFrame, value_schema: T.StructType, payload: str) -> DataFrame:
    """Parse (key, value) JSON pairs and flatten the payload struct at
    `payload` (a path in the parsed value) back to the flat envelope."""
    parsed = wire.select(
        F.from_json("key", "struct<key:bigint>").alias("k"),
        F.from_json("value", value_schema).alias("v"),
    )
    return parsed.select(
        F.col("k.key").alias("key"),
        F.col(f"{payload}.op").alias("op"),
        F.col(f"{payload}.seq").alias("seq"),
        F.col(f"{payload}.ts_ms").alias("ts_ms"),
        F.col(f"{payload}.before.o_totalprice").alias("before_totalprice"),
        F.col(f"{payload}.after.o_totalprice").alias("after_totalprice"),
        F.col(f"{payload}.after.o_custkey").alias("o_custkey"),
        F.col(f"{payload}.after.o_orderstatus").alias("o_orderstatus"),
        F.col(f"{payload}.after.o_orderpriority").alias("o_orderpriority"),
    )


def envelope_to_json(flat: DataFrame) -> DataFrame:
    """Serialize the flat envelope to the JSON wire format: (key,
    value) string pairs, value = the Debezium-style payload object."""
    return _to_wire(flat, _payload())


JSON_VALUE_SCHEMA = T.StructType(
    [
        T.StructField(
            "before",
            T.StructType([T.StructField("o_totalprice", T.DoubleType())]),
        ),
        T.StructField(
            "after",
            T.StructType(
                [
                    T.StructField("o_totalprice", T.DoubleType()),
                    T.StructField("o_custkey", T.LongType()),
                    T.StructField("o_orderstatus", T.StringType()),
                    T.StructField("o_orderpriority", T.StringType()),
                ]
            ),
        ),
        T.StructField("op", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def json_to_envelope(wire: DataFrame) -> DataFrame:
    """Deserialize the JSON wire format back to the flat envelope."""
    return _from_wire(wire, JSON_VALUE_SCHEMA, "v")


# --------------------------------------------------------------------------
# CloudEvents v1.0 structured-mode JSON (cloudevents.io spec; layout of
# Debezium's CloudEvents converter — debezium.io "CloudEvents converter":
# required context attributes + the change-event payload under `data`).
# --------------------------------------------------------------------------
CE_SOURCE = "/debezium/ibmi/server1"
CE_TYPE = "io.debezium.connector.ibmi.DataChangeEvent"


def envelope_to_cloudevents(flat: DataFrame) -> DataFrame:
    """Serialize the flat envelope as CloudEvents structured JSON:
    specversion/id/source/type/time/datacontenttype context attributes,
    change-event payload under `data`. id = '<key>:<seq>' (unique per
    event), time = RFC3339 from ts_ms."""
    ce = F.struct(
        F.lit("1.0").alias("specversion"),
        F.concat_ws(":", F.col("key"), F.col("seq")).alias("id"),
        F.lit(CE_SOURCE).alias("source"),
        F.lit(CE_TYPE).alias("type"),
        F.date_format(
            (F.col("ts_ms") / 1000).cast("timestamp"),
            "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
        ).alias("time"),
        F.lit("application/json").alias("datacontenttype"),
        _payload().alias("data"),
    )
    return _to_wire(flat, ce)


CE_VALUE_SCHEMA = T.StructType(
    [
        T.StructField("specversion", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("datacontenttype", T.StringType()),
        T.StructField("data", JSON_VALUE_SCHEMA),
    ]
)


def cloudevents_to_envelope(wire: DataFrame) -> DataFrame:
    """Deserialize CloudEvents structured JSON back to the flat
    envelope (inverse of envelope_to_cloudevents; the context
    attributes are derivable, the payload is `data`)."""
    return _from_wire(wire, CE_VALUE_SCHEMA, "v.data")


# --------------------------------------------------------------------------
# Bucketed co-located join: persist both sides bucketed (and sorted)
# by the join key, and the join compiles to a SortMergeJoin with NO
# Exchange on either side — the bucketing IS the shuffle, paid once at
# write time and amortized over every subsequent join. At 100 TB this
# is the difference between re-shuffling the fact table per query and
# scanning co-located buckets. (Spark bucketing ≡ Hive bucketing;
# bucket count must match on both sides.)
# --------------------------------------------------------------------------
def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, path: str
) -> None:
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def bucketed_join_agg_q(spark, sf_dir: str) -> DataFrame:
    """Bucketed co-located join under the external gate: both sides
    are persisted bucketed+sorted by the join key into a throwaway
    warehouse path, then joined with a merge-join hint (no session
    conf mutation) — the bucketing metadata lets the SortMergeJoin
    read co-located buckets with no Exchange (plan-asserted in
    tests/test_sinks.py); values must equal the plain-join oracle."""
    import shutil
    import tempfile
    import uuid

    from debezium_spark.sources.tables import load_table

    sfx = uuid.uuid4().hex[:8]
    lt, rt = f"orders_bj_{sfx}", f"cust_bj_{sfx}"
    tmp = tempfile.mkdtemp(prefix="bucketed_")
    try:
        write_bucketed(
            load_table(spark, sf_dir, "orders").withColumnRenamed(
                "o_custkey", "custkey"
            ),
            lt, "custkey", 8, f"{tmp}/{lt}",
        )
        write_bucketed(
            load_table(spark, sf_dir, "customer").withColumnRenamed(
                "c_custkey", "custkey"
            ),
            rt, "custkey", 8, f"{tmp}/{rt}",
        )
        j = (
            spark.table(lt)
            .hint("merge")
            .join(spark.table(rt), "custkey")
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("custkey").alias("n_customers"),
                F.sum(to_units(F.col("o_totalprice"), 2)).alias("total_cents"),
            )
            .orderBy("c_mktsegment")
        )
        return spark.createDataFrame(j.collect(), j.schema)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
        shutil.rmtree(tmp, ignore_errors=True)


BUCKETED_JOIN_ORACLE = f"""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           count(DISTINCT o.o_custkey) AS n_customers,
           CAST(sum({sql_to_units("o.o_totalprice", 2)}) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
"""

QUERIES = {"bucketed_join_agg": bucketed_join_agg_q}
ORACLES = {"bucketed_join_agg": BUCKETED_JOIN_ORACLE}
