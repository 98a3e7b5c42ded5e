"""Single Message Transforms (SMTs) as declarative column plans.

Parity with Debezium's SMT catalog (public docs, debezium.io
/documentation/reference/transformations/): ExtractNewRecordState,
Filter, ContentBasedRouter, RegexRouter (topic routing),
ByLogicalTableRouter, outbox EventRouter, and the mask/truncate column
configs of the connectors. Each is a *narrow* transformation — pure
column expressions, no shuffle, fully whole-stage-codegen'd — so at
100 TB these run at scan speed inside the ingest stage.

Generic functions take/return DataFrames; the `*_q` wrappers bind them
to the synthesized change stream for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import CDC_FLAT_SQL, synthesize_cdc_flat
from debezium_spark.cdc.envelope import SNAPSHOT_CTE_SQL, sql_txn_id
from debezium_spark.functions.rounding import round_half_up, sql_round_half_up
from debezium_spark.functions.tokens import knuth32, sql_knuth32
from debezium_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# ExtractNewRecordState: unwrap the envelope to a plain row + metadata
# columns (Debezium's `ExtractNewRecordState` with add.fields=op,ts_ms
# and delete.handling.mode=drop).
# --------------------------------------------------------------------------
def extract_new_record_state(cdc: DataFrame, delete_mode: str = "drop") -> DataFrame:
    """delete_mode ∈ {'drop', 'rewrite', 'none'} mirrors Debezium's
    delete.handling.mode: drop removes delete events, rewrite keeps
    them and adds a __deleted flag, none passes them through
    unchanged."""
    out = cdc.select(
        F.col("key"),
        F.col("after_totalprice").alias("o_totalprice"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.col("op").alias("__op"),
        F.col("ts_ms").alias("__ts_ms"),
        F.lit("orders").alias("__table"),
    )
    if delete_mode == "drop":
        return out.filter(F.col("__op") != "d")
    if delete_mode == "rewrite":
        return out.withColumn("__deleted", F.col("__op") == "d")
    return out


# --------------------------------------------------------------------------
# Filter SMT: drop events by predicate (Debezium `Filter` with a
# condition on the envelope).
# --------------------------------------------------------------------------
def filter_smt(cdc: DataFrame, condition: Column) -> DataFrame:
    return cdc.filter(condition)


# --------------------------------------------------------------------------
# RegexRouter + ContentBasedRouter: compute the destination topic.
# --------------------------------------------------------------------------
def regex_router(cdc: DataFrame, pattern: str, replacement: str) -> DataFrame:
    base_topic = F.concat_ws(".", F.lit("tpch"), F.lit("orders"))
    return cdc.withColumn("topic", F.regexp_replace(base_topic, pattern, replacement))


def content_based_router(cdc: DataFrame, routes: list[tuple[Column, str]],
                         default: str, topic_col: str = "topic") -> DataFrame:
    expr = None
    for cond, topic in routes:
        expr = F.when(cond, topic) if expr is None else expr.when(cond, topic)
    expr = expr.otherwise(default) if expr is not None else F.lit(default)
    return cdc.withColumn(topic_col, expr)


# --------------------------------------------------------------------------
# Mask / truncate column SMTs (connector column.mask.hash.* /
# column.truncate.to.N.chars configs).
# --------------------------------------------------------------------------
def mask_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.md5(F.col(c).cast("string")))
    return df


def truncate_columns(df: DataFrame, cols: list[str], length: int) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.substring(F.col(c), 1, length))
    return df


# --------------------------------------------------------------------------
# Outbox EventRouter: route rows of an outbox table by aggregate type,
# extracting the payload (Debezium outbox pattern).
# --------------------------------------------------------------------------
def outbox_router(outbox: DataFrame) -> DataFrame:
    return outbox.select(
        F.concat(F.lit("outbox.event."), F.col("event_type")).alias("topic"),
        F.col("user_id").cast("string").alias("aggregate_id"),
        F.col("props").alias("payload"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("payload_k"),
    )


# --------------------------------------------------------------------------
# ByLogicalTableRouter: merge physically-sharded tables (orders_00,
# orders_01, ...) into one logical topic, keeping the physical origin
# so key collisions across shards stay distinguishable (Debezium's
# key.field.name behavior).
# --------------------------------------------------------------------------
def logical_table_router(shards: list[tuple[str, DataFrame]]) -> DataFrame:
    out = None
    for physical_name, df in shards:
        routed = df.withColumn("__physical_table", F.lit(physical_name)) \
                   .withColumn("__logical_topic", F.lit("cdc.orders"))
        out = routed if out is None else out.unionByName(routed)
    return out


# --------------------------------------------------------------------------
# Snapshot mode selection (Debezium snapshot.mode): initial = snapshot
# then stream; no_data (schema_only) = stream only; never = stream
# only (legacy alias); when_needed = snapshot only when no prior
# offset exists.
# --------------------------------------------------------------------------
def select_snapshot_plan(
    mode: str, snapshot: DataFrame, stream: DataFrame,
    has_prior_offset: bool = False,
) -> DataFrame:
    if mode == "initial":
        return snapshot.unionByName(stream)
    if mode in ("no_data", "schema_only", "never"):
        return stream
    if mode == "when_needed":
        return stream if has_prior_offset else snapshot.unionByName(stream)
    raise ValueError(f"unknown snapshot.mode {mode!r}")


# --------------------------------------------------------------------------
# TimezoneConverter SMT: shift timestamp fields into a target zone
# (Debezium TimezoneConverter; session clock stays UTC).
# --------------------------------------------------------------------------
def timezone_converter(df: DataFrame, cols: list[str], tz: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(
            c, F.from_utc_timestamp(F.col(c).cast("timestamp"), tz)
        )
    return df


# --------------------------------------------------------------------------
# PartitionRouting SMT: deterministic shard assignment from the key
# (Debezium PartitionRouting computes partition = hash(key) % N);
# arithmetic hash so the oracle reproduces it.
# --------------------------------------------------------------------------
def partition_router(cdc: DataFrame, num_partitions: int = 16) -> DataFrame:
    shard = F.pmod(knuth32(F.col("key")), F.lit(num_partitions))
    return cdc.withColumn("partition", shard)


# --------------------------------------------------------------------------
# HeaderToValue SMT analog: lift metadata (source struct fields /
# op/ts) into payload columns.
# --------------------------------------------------------------------------
def header_to_value(envelope: DataFrame, headers: list[str]) -> DataFrame:
    for h in headers:
        envelope = envelope.withColumn(
            f"__{h.replace('.', '_')}", F.col(h)
        )
    return envelope


# --------------------------------------------------------------------------
# ExtractChangedRecordState SMT: for update events, name the columns
# whose value differs between the before and after images (Debezium
# attaches these as ChangedFields/UnchangedFields headers —
# debezium.io SMT docs "extract-changed-record-state").
# --------------------------------------------------------------------------
def extract_changed_record_state(
    cdc: DataFrame, pairs: list[tuple[str, Column, Column]]
) -> DataFrame:
    """`pairs` = (column_name, before_image_col, after_image_col).
    Null-safe comparison per column; the changed/unchanged name lists
    are array()-of-when() + array_compact — plain codegen'd
    expressions, no HOF lambdas, so the SMT runs at scan speed."""
    changed = F.array_compact(
        F.array(
            *[
                F.when(~before.eqNullSafe(after), F.lit(name))
                for name, before, after in pairs
            ]
        )
    )
    unchanged = F.array_compact(
        F.array(
            *[
                F.when(before.eqNullSafe(after), F.lit(name))
                for name, before, after in pairs
            ]
        )
    )
    return cdc.withColumn("changed_columns", changed).withColumn(
        "unchanged_columns", unchanged
    )


# ==========================================================================
# Oracle-gated query wrappers
# ==========================================================================
def cdc_stream_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw synthesized change stream (envelope, flat form)."""
    return synthesize_cdc_flat(spark, sf_dir).select(
        "key", "op", "seq", "ts_ms", "before_totalprice", "after_totalprice",
        "o_custkey", "o_orderstatus", "o_orderpriority",
    )


def cdc_extract_new_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_new_record_state(synthesize_cdc_flat(spark, sf_dir))


def cdc_filter_high_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter SMT: updates whose new total crosses 50k."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    return filter_smt(
        cdc,
        (F.col("op") == "u") & (F.col("after_totalprice") > 50000.0),
    ).select("key", "seq", "op", "after_totalprice")


def cdc_route_topics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexRouter tpch.orders -> cdc.orders, then content-based split
    of deletes and high-value events; counts per final topic."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    routed = regex_router(cdc, r"^tpch\.", "cdc.")
    routed = content_based_router(
        routed,
        [
            (F.col("op") == "d", "cdc.orders.deletes"),
            (F.col("after_totalprice") > 100000.0, "cdc.orders.priority"),
        ],
        default="cdc.orders",
        topic_col="final_topic",
    )
    return (
        routed.groupBy("final_topic")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("final_topic")
    )


def cdc_mask_truncate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask o_orderpriority (md5) and truncate o_orderstatus on the
    extracted stream, sampled to keys < 2000."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("key") < 2000)
    flat = extract_new_record_state(cdc)
    masked = truncate_columns(
        mask_columns(flat, ["o_orderpriority"]), ["o_orderstatus"], 1
    )
    return masked.select("key", "__op", "o_orderstatus", "o_orderpriority")


def cdc_extract_rewrite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractNewRecordState with delete.handling.mode=rewrite and a
    ReplaceField include list — deletes survive with __deleted=true."""
    flat = extract_new_record_state(
        synthesize_cdc_flat(spark, sf_dir), delete_mode="rewrite"
    )
    return replace_field(
        flat, include=["key", "o_totalprice", "o_orderstatus", "__op", "__deleted"]
    )


def cdc_partition_route_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PartitionRouting: events per shard + per-shard seq ranges."""
    routed = partition_router(synthesize_cdc_flat(spark, sf_dir))
    return (
        routed.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
        )
        .orderBy("partition")
    )


def cdc_tz_convert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimezoneConverter on the order timestamp, formatted as string
    for engine-neutral comparison (sample: key < 2000)."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("key") < 2000)
    out = timezone_converter(cdc, ["o_orderdate"], "America/New_York")
    return out.select(
        "key",
        "seq",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("local_ts"),
    )


def cdc_outbox_route_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbox router over the events table; per-topic counts and
    payload stats."""
    out = outbox_router(load_table(spark, sf_dir, "events"))
    return (
        out.groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload_k").alias("sum_k"),
            F.countDistinct("aggregate_id").alias("n_aggregates"),
        )
        .orderBy("topic")
    )


def cdc_changed_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractChangedRecordState over the update stream: per
    (changed-set, unchanged-set) pair, event count and distinct keys.
    In this synthetic stream only o_totalprice ever mutates, so the
    interesting part is the machinery — N-way null-safe image
    comparison folded into compacted name arrays at scan speed."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("op") == "u")
    pairs = [
        ("o_totalprice", F.col("before_totalprice"), F.col("after_totalprice")),
        ("o_orderstatus", F.col("o_orderstatus"), F.col("o_orderstatus")),
        ("o_orderpriority", F.col("o_orderpriority"), F.col("o_orderpriority")),
    ]
    smt = extract_changed_record_state(cdc, pairs)
    return (
        smt.groupBy(
            F.concat_ws(",", "changed_columns").alias("changed"),
            F.concat_ws(",", "unchanged_columns").alias("unchanged"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("key").alias("n_keys"),
        )
        .orderBy("changed")
    )


ORACLES: dict[str, str] = {
    "cdc_stream_sample": CDC_FLAT_SQL
    + """
        SELECT key, op, seq, ts_ms, before_totalprice, after_totalprice,
               o_custkey, o_orderstatus, o_orderpriority
        FROM cdc
    """,
    "cdc_extract_new_state": CDC_FLAT_SQL
    + """
        SELECT key, after_totalprice AS o_totalprice, o_custkey,
               o_orderstatus, o_orderpriority,
               op AS __op, ts_ms AS __ts_ms, 'orders' AS __table
        FROM cdc WHERE op <> 'd'
    """,
    "cdc_filter_high_value": CDC_FLAT_SQL
    + """
        SELECT key, seq, op, after_totalprice
        FROM cdc WHERE op = 'u' AND after_totalprice > 50000.0
    """,
    "cdc_route_topics": CDC_FLAT_SQL
    + """
        SELECT CASE WHEN op = 'd' THEN 'cdc.orders.deletes'
                    WHEN after_totalprice > 100000.0 THEN 'cdc.orders.priority'
                    ELSE 'cdc.orders' END AS final_topic,
               count(*) AS n
        FROM cdc GROUP BY final_topic ORDER BY final_topic
    """,
    "cdc_mask_truncate": CDC_FLAT_SQL
    + """
        SELECT key, op AS __op,
               substring(o_orderstatus, 1, 1) AS o_orderstatus,
               md5(o_orderpriority) AS o_orderpriority
        FROM cdc WHERE key < 2000 AND op <> 'd'
    """,
    "cdc_extract_rewrite": CDC_FLAT_SQL
    + """
        SELECT key, after_totalprice AS o_totalprice, o_orderstatus,
               op AS __op, op = 'd' AS __deleted
        FROM cdc
    """,
    "cdc_partition_route": CDC_FLAT_SQL
    + f"""
        SELECT {sql_knuth32("key")} % 16 AS partition,
               count(*) AS n, min(seq) AS min_seq, max(seq) AS max_seq
        FROM cdc GROUP BY partition ORDER BY partition
    """,
    "cdc_tz_convert": CDC_FLAT_SQL
    + """
        SELECT key, seq,
               strftime(o_orderdate AT TIME ZONE 'UTC'
                        AT TIME ZONE 'America/New_York',
                        '%Y-%m-%d %H:%M:%S') AS local_ts
        FROM cdc WHERE key < 2000
    """,
    "cdc_outbox_route": """
        SELECT 'outbox.event.' || event_type AS topic,
               count(*) AS n,
               CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               count(DISTINCT CAST(user_id AS VARCHAR)) AS n_aggregates
        FROM events GROUP BY topic ORDER BY topic
    """,
    "cdc_changed_columns": CDC_FLAT_SQL
    + """
        SELECT concat_ws(',',
                   CASE WHEN before_totalprice IS DISTINCT FROM after_totalprice
                        THEN 'o_totalprice' END,
                   CASE WHEN o_orderstatus IS DISTINCT FROM o_orderstatus
                        THEN 'o_orderstatus' END,
                   CASE WHEN o_orderpriority IS DISTINCT FROM o_orderpriority
                        THEN 'o_orderpriority' END) AS changed,
               concat_ws(',',
                   CASE WHEN before_totalprice IS NOT DISTINCT FROM after_totalprice
                        THEN 'o_totalprice' END,
                   CASE WHEN o_orderstatus IS NOT DISTINCT FROM o_orderstatus
                        THEN 'o_orderstatus' END,
                   CASE WHEN o_orderpriority IS NOT DISTINCT FROM o_orderpriority
                        THEN 'o_orderpriority' END) AS unchanged,
               count(*) AS n_events,
               count(DISTINCT key) AS n_keys
        FROM cdc WHERE op = 'u'
        GROUP BY changed, unchanged ORDER BY changed
    """,
}

QUERIES = {
    "cdc_stream_sample": cdc_stream_sample_q,
    "cdc_extract_new_state": cdc_extract_new_state_q,
    "cdc_filter_high_value": cdc_filter_high_value_q,
    "cdc_route_topics": cdc_route_topics_q,
    "cdc_mask_truncate": cdc_mask_truncate_q,
    "cdc_extract_rewrite": cdc_extract_rewrite_q,
    "cdc_partition_route": cdc_partition_route_q,
    "cdc_tz_convert": cdc_tz_convert_q,
    "cdc_outbox_route": cdc_outbox_route_q,
    "cdc_changed_columns": cdc_changed_columns_q,
}


def cdc_header_to_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HeaderToValue SMT under the external gate: lift op/ts_ms
    metadata into payload columns, aggregate by the lifted header."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    lifted = header_to_value(cdc, ["op", "ts_ms"])
    return (
        lifted.groupBy("__op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__ts_ms").alias("min_ts"),
            F.max("__ts_ms").alias("max_ts"),
        )
        .orderBy("__op")
    )


ORACLES["cdc_header_to_value"] = CDC_FLAT_SQL + """
    SELECT op AS __op, count(*) AS n,
           min(ts_ms) AS min_ts, max(ts_ms) AS max_ts
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["cdc_header_to_value"] = cdc_header_to_value_q


def cdc_snapshot_modes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snapshot.mode selection under the external gate: per mode, the
    event-count/op mix the connector would deliver — initial =
    snapshot ∪ stream, no_data = stream only, when_needed with a prior
    offset = stream only."""
    from debezium_spark.cdc.envelope import synthesize_snapshot_flat

    snap = synthesize_snapshot_flat(spark, sf_dir)
    stream = synthesize_cdc_flat(spark, sf_dir)
    out = None
    for mode, prior in (("initial", False), ("no_data", False),
                        ("when_needed", True)):
        plan = select_snapshot_plan(mode, snap, stream, prior)
        agg = (
            plan.agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum((F.col("op") == "r").cast("long")).alias("n_snapshot"),
                F.countDistinct("key").alias("n_keys"),
            )
            .withColumn("mode", F.lit(mode))
            .select("mode", "n_events", "n_snapshot", "n_keys")
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("mode")


ORACLES["cdc_snapshot_modes"] = CDC_FLAT_SQL + f"""
    , {SNAPSHOT_CTE_SQL},
    both_src AS (
        SELECT key, op FROM snap UNION ALL SELECT key, op FROM cdc),
    m AS (
        SELECT 'initial' AS mode, count(*) AS n_events,
               CAST(sum(CASE WHEN op = 'r' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_snapshot,
               count(DISTINCT key) AS n_keys
        FROM both_src
        UNION ALL
        SELECT 'no_data', count(*),
               CAST(0 AS BIGINT), count(DISTINCT key) FROM cdc
        UNION ALL
        SELECT 'when_needed', count(*),
               CAST(0 AS BIGINT), count(DISTINCT key) FROM cdc)
    SELECT mode, n_events, n_snapshot, n_keys FROM m ORDER BY mode
"""
QUERIES["cdc_snapshot_modes"] = cdc_snapshot_modes_q


def cdc_logical_table_route_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ByLogicalTableRouter under the external gate: the stream split
    into three physical shards (key mod 3) is merged back to one
    logical topic with the physical origin retained."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    shards = [
        (f"orders_{i:02d}", cdc.filter(F.pmod(F.col("key"), F.lit(3)) == i))
        for i in range(3)
    ]
    routed = logical_table_router(shards)
    return (
        routed.groupBy("__physical_table", "__logical_topic")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("key").alias("n_keys"),
        )
        .orderBy("__physical_table")
    )


ORACLES["cdc_logical_table_route"] = CDC_FLAT_SQL + """
    SELECT 'orders_0' || CAST(key % 3 AS VARCHAR) AS __physical_table,
           'cdc.orders' AS __logical_topic,
           count(*) AS n_events, count(DISTINCT key) AS n_keys
    FROM cdc GROUP BY 1, 2 ORDER BY __physical_table
"""
QUERIES["cdc_logical_table_route"] = cdc_logical_table_route_q


# --------------------------------------------------------------------------
# Kafka Connect standard SMTs (org.apache.kafka.connect.transforms.*)
# that Debezium pipelines routinely chain after the Debezium-specific
# ones: ReplaceField (rename / include / exclude), InsertField (static
# value or record metadata), Cast (field type coercion). All narrow
# column projections — codegen'd, no shuffle, scan-speed at 100 TB.
# Public semantics: kafka.apache.org/documentation/#connect_transforms.
# --------------------------------------------------------------------------
def replace_field(
    df: DataFrame,
    renames: dict[str, str] | None = None,
    exclude: list[str] | None = None,
    include: list[str] | None = None,
) -> DataFrame:
    """ReplaceField SMT: `renames` maps old->new (Connect's
    `renames=a:b` spec); `exclude` drops fields; `include` (if given)
    keeps only the listed fields. Renames apply after the
    include/exclude projection, as in Connect."""
    renames = renames or {}
    cols = []
    for c in df.columns:
        if exclude and c in exclude:
            continue
        if include is not None and c not in include:
            continue
        cols.append(F.col(c).alias(renames.get(c, c)))
    return df.select(*cols)


def insert_field_static(df: DataFrame, name: str, value) -> DataFrame:
    """InsertField SMT with `static.field`/`static.value`."""
    return df.withColumn(name, F.lit(value))


def insert_field_offset(df: DataFrame) -> DataFrame:
    """InsertField SMT with `offset.field=__offset`: stamp the record's
    source offset (here the synthesized LSN/seq) into the payload."""
    return df.withColumn("__offset", F.col("seq"))


def cast_fields(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """Cast SMT (`spec=field:type`). Numeric narrowing follows Java
    semantics (double->int64 truncates toward zero), which is what
    Connect's Cast does; Spark's CAST matches."""
    for c, t in casts.items():
        df = df.withColumn(c, F.col(c).cast(t))
    return df


def cdc_connect_smt_chain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplaceField -> InsertField(static+offset) -> Cast chained on
    the change stream, under the external gate: rename
    after_totalprice->amount / o_orderpriority->priority, drop the
    order date, stamp source_system + the record offset, coerce amount
    to int64 and the customer key to string."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(
        (F.col("key") < 2000) & (F.col("op") != "d")
    )
    out = replace_field(
        cdc,
        renames={"after_totalprice": "amount", "o_orderpriority": "priority"},
        exclude=["o_orderdate", "before_totalprice", "ts_ms"],
    )
    out = insert_field_static(out, "source_system", "erp")
    out = insert_field_offset(out)
    out = cast_fields(out, {"amount": "long", "o_custkey": "string"})
    return out.select(
        "key", "seq", "op", "priority", "amount", "o_custkey",
        "source_system", "__offset",
    )


ORACLES["cdc_connect_smt_chain"] = CDC_FLAT_SQL + """
    SELECT key, seq, op, o_orderpriority AS priority,
           CAST(trunc(after_totalprice) AS BIGINT) AS amount,
           CAST(o_custkey AS VARCHAR) AS o_custkey,
           'erp' AS source_system, seq AS __offset
    FROM cdc WHERE key < 2000 AND op <> 'd'
"""
QUERIES["cdc_connect_smt_chain"] = cdc_connect_smt_chain_q


def extract_new_document_state(
    cs: DataFrame, fields: dict[str, str], rewrite_deletes: bool = True
) -> DataFrame:
    """MongoDB ExtractNewDocumentState SMT (Debezium docs
    /transformations/mongodb-event-flattening): flatten the change
    stream's fullDocument JSON into typed columns, keyed by the
    documentKey _id. `fields` maps field name -> Spark type. Deletes
    carry no fullDocument; rewrite mode keeps them with NULL fields
    and a __deleted flag (drop mode filters them)."""
    is_del = F.col("operationType") == "delete"
    cols = [
        F.get_json_object("documentKey", "$._id").cast("long").alias("id"),
        *[
            F.get_json_object("fullDocument", f"$.{name}")
            .cast(t)
            .alias(name)
            for name, t in fields.items()
        ],
        F.when(F.col("operationType") == "insert", "c")
        .when(F.col("operationType") == "delete", "d")
        .otherwise("u")
        .alias("__op"),
        F.col("ts_ms").alias("__ts_ms"),
    ]
    out = cs.select(*cols)
    if rewrite_deletes:
        return out.withColumn("__deleted", F.col("__op") == "d")
    return out.filter(~is_del)


def mongo_extract_new_document_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExtractNewDocumentState under the external gate: the canonical
    stream re-encoded as Mongo change-stream documents (JSON
    documentKey/fullDocument), flattened back to typed rows with
    delete rewrite."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("key") < 2000)
    op_type = (
        F.when(F.col("op") == "c", "insert")
        .when(F.col("op") == "u", "update")
        .otherwise("delete")
    )
    cs = cdc.select(
        op_type.alias("operationType"),
        F.to_json(F.struct(F.col("key").alias("_id"))).alias("documentKey"),
        F.when(
            F.col("op") != "d",
            F.to_json(
                F.struct(
                    F.col("after_totalprice").alias("o_totalprice"),
                    F.col("o_custkey").alias("custkey"),
                )
            ),
        ).alias("fullDocument"),
        F.col("ts_ms"),
    )
    flat = extract_new_document_state(
        cs, {"o_totalprice": "double", "custkey": "long"}
    )
    return flat.select(
        "id",
        round_half_up(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "custkey", "__op", "__ts_ms", "__deleted",
    )


ORACLES["mongo_extract_new_document"] = CDC_FLAT_SQL + f"""
    SELECT key AS id,
           CASE WHEN op <> 'd'
                THEN {sql_round_half_up("after_totalprice", 2)} END AS o_totalprice,
           CASE WHEN op <> 'd' THEN o_custkey END AS custkey,
           op AS __op, ts_ms AS __ts_ms, op = 'd' AS __deleted
    FROM cdc WHERE key < 2000
"""
QUERIES["mongo_extract_new_document"] = mongo_extract_new_document_q


# --------------------------------------------------------------------------
# Dead-letter-queue routing (Kafka Connect errors.tolerance=all +
# errors.deadletterqueue.topic.name): records whose payload fails
# deserialization are routed to a DLQ with error metadata instead of
# failing the pipeline. Parse success is decided by from_json (NULL on
# malformed input) — a narrow codegen'd projection; the DLQ split is a
# filter, so at 100 TB this adds zero shuffles to the ingest stage.
# --------------------------------------------------------------------------
def dlq_split(df: DataFrame) -> DataFrame:
    """Tag each event ok/dlq. Malformed JSON `props` payloads get
    __error_reason + the source offset (`event_id`) for replay,
    mirroring Connect's DLQ headers (__connect.errors.*)."""
    parsed = F.from_json(F.col("props"), "map<string,string>")
    ok = parsed.isNotNull()
    return df.withColumn("__dlq", ~ok).withColumn(
        "__error_reason", F.when(~ok, F.lit("json_parse"))
    ).withColumn("__error_offset", F.when(~ok, F.col("event_id")))


def cdc_dlq_route_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DLQ routing under the external gate: a deterministic slice of
    event payloads is corrupted (leading garbage before the JSON — a
    framing error both parsers reject; Spark's Jackson tolerates
    *trailing* garbage, DuckDB does not, so that variant would not be
    a portable fixture), the splitter must route exactly those to the
    DLQ with offsets preserved."""
    ev = load_table(spark, sf_dir, "events")
    corrupted = ev.withColumn(
        "props",
        F.when(
            F.col("event_id") % 37 == 0, F.concat(F.lit("x"), F.col("props"))
        ).otherwise(F.col("props")),
    )
    out = dlq_split(corrupted)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((~F.col("__dlq")).cast("long")).alias("n_ok"),
            F.sum(F.col("__dlq").cast("long")).alias("n_dlq"),
            F.min("__error_offset").alias("min_dlq_offset"),
            F.max("__error_offset").alias("max_dlq_offset"),
        )
        .orderBy("event_type")
    )


ORACLES["cdc_dlq_route"] = """
    WITH c AS (
        SELECT event_type, event_id,
               CASE WHEN event_id % 37 = 0 THEN 'x' || props ELSE props END
                   AS props
        FROM events),
    tagged AS (
        SELECT event_type, event_id, NOT json_valid(props) AS dlq FROM c)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN dlq THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
           CAST(sum(CASE WHEN dlq THEN 1 ELSE 0 END) AS BIGINT) AS n_dlq,
           min(CASE WHEN dlq THEN event_id END) AS min_dlq_offset,
           max(CASE WHEN dlq THEN event_id END) AS max_dlq_offset
    FROM tagged GROUP BY event_type ORDER BY event_type
"""
QUERIES["cdc_dlq_route"] = cdc_dlq_route_q


# --------------------------------------------------------------------------
# HeaderFrom SMT (Kafka Connect `HeaderFrom$Value`, also listed in
# Debezium's SMT catalog): move or copy record-value fields into
# message headers. Headers are modeled as a map<string,string> column
# (the wire representation of Connect headers after a string
# converter); 'move' drops the source columns from the value, 'copy'
# keeps them. Inverse of header_to_value above.
# --------------------------------------------------------------------------
def value_to_header(
    df: DataFrame, fields: list[str], operation: str = "move"
) -> DataFrame:
    entries: list = []
    for f in fields:
        entries.append(F.lit(f))
        entries.append(F.col(f).cast("string"))
    out = df.withColumn("headers", F.create_map(*entries))
    if operation == "move":
        out = out.drop(*fields)
    return out


def cdc_value_to_header_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HeaderFrom under the external gate: MOVE o_orderpriority and
    COPY op into headers, then aggregate by the header entries — the
    values must survive the trip through the map column exactly."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    routed = value_to_header(cdc, ["o_orderpriority", "op"], "move")
    return (
        routed.groupBy(
            F.element_at("headers", "o_orderpriority").alias("hdr_priority"),
            F.element_at("headers", "op").alias("hdr_op"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("seq").alias("min_seq"),
            F.max("seq").alias("max_seq"),
        )
        .orderBy("hdr_priority", "hdr_op")
    )


ORACLES["cdc_value_to_header"] = CDC_FLAT_SQL + """
    SELECT o_orderpriority AS hdr_priority, op AS hdr_op, count(*) AS n,
           min(seq) AS min_seq, max(seq) AS max_seq
    FROM cdc GROUP BY 1, 2 ORDER BY hdr_priority, hdr_op
"""
QUERIES["cdc_value_to_header"] = cdc_value_to_header_q


# --------------------------------------------------------------------------
# ExtractNewRecordState add.fields / add.headers (debezium.io SMT docs
# "new-record-state-extraction"): promote envelope metadata — top-level
# fields or dotted source./transaction. paths — into the flattened
# value as double-underscore columns (`add.fields=op,source.seq,
# transaction.id` → __op, __source_seq, __transaction_id). Operates on
# the STRUCT envelope (the API shape), not the pre-flattened stream.
# --------------------------------------------------------------------------
def extract_with_metadata(envelope: DataFrame, add_fields: list[str]) -> DataFrame:
    """Deletes are dropped (delete.handling.mode=drop)."""
    after_cols = [
        F.col(f"after.{c}").alias(c)
        for c in envelope.select("after.*").columns
    ]
    meta = [
        F.col(p).alias("__" + p.replace(".", "_")) for p in add_fields
    ]
    out = envelope.select(*after_cols, *meta)
    return out.filter(F.col("__op") != "d") if "op" in add_fields \
        else out.filter(envelope["op"] != "d")


def cdc_add_fields_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from debezium_spark.cdc.envelope import synthesize_cdc_envelope

    env = synthesize_cdc_envelope(spark, sf_dir)
    flat = extract_with_metadata(
        env, ["op", "ts_ms", "source.table", "source.seq", "transaction.id"]
    )
    return (
        flat.groupBy("__op", "__source_table")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__source_seq").alias("min_seq"),
            F.max("__source_seq").alias("max_seq"),
            F.countDistinct("__transaction_id").alias("n_txn"),
        )
        .orderBy("__op")
    )


ORACLES["cdc_add_fields"] = CDC_FLAT_SQL + f"""
    SELECT op AS __op, 'orders' AS __source_table, count(*) AS n,
           min(seq) AS min_seq, max(seq) AS max_seq,
           count(DISTINCT {sql_txn_id("seq")}) AS n_txn
    FROM cdc WHERE op <> 'd' GROUP BY op ORDER BY op
"""
QUERIES["cdc_add_fields"] = cdc_add_fields_q


# --------------------------------------------------------------------------
# TimestampRouter SMT (org.apache.kafka.connect.transforms.
# TimestampRouter, public Kafka Connect) + the storage-sink
# TimeBasedPartitioner path (io.confluent.connect.storage.partitioner
# .TimeBasedPartitioner): route each change event to a time-suffixed
# topic and a hive-style year=/month= object path derived from the
# event's business timestamp.
# --------------------------------------------------------------------------
def cdc_timestamp_router_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic = 'orders.' + yyyyMM of o_orderdate (TimestampRouter
    topic.format semantics); path = the TimeBasedPartitioner
    partition directory for the same granularity. One narrow
    projection + one groupBy on the derived topic — at 100 TB the
    route computation is map-side and the shuffle is bounded by the
    number of (topic, path) partitions, not by events."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    d = F.col("o_orderdate").cast("timestamp")
    topic = F.concat(F.lit("orders."), F.date_format(d, "yyyyMM"))
    path = F.concat(
        F.lit("orders/year="),
        F.date_format(d, "yyyy"),
        F.lit("/month="),
        F.date_format(d, "MM"),
    )
    return (
        cdc.select(
            topic.alias("topic"),
            path.alias("path"),
            "key",
            "seq",
            "op",
        )
        .groupBy("topic", "path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("key").cast("long").alias("n_keys"),
            F.min("seq").cast("long").alias("min_seq"),
            F.max("seq").cast("long").alias("max_seq"),
            F.sum((F.col("op") == "d").cast("long"))
            .cast("long")
            .alias("n_deletes"),
        )
        .orderBy("topic")
    )


ORACLES["cdc_timestamp_router"] = CDC_FLAT_SQL + """
    SELECT 'orders.' || strftime(o_orderdate, '%Y%m') AS topic,
           'orders/year=' || strftime(o_orderdate, '%Y') ||
           '/month=' || strftime(o_orderdate, '%m') AS path,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
           CAST(min(seq) AS BIGINT) AS min_seq,
           CAST(max(seq) AS BIGINT) AS max_seq,
           CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
    FROM cdc
    GROUP BY topic, path
    ORDER BY topic
"""
QUERIES["cdc_timestamp_router"] = cdc_timestamp_router_q


# --------------------------------------------------------------------------
# Connect SMT predicates (Kafka Connect's transforms.<name>.predicate
# mechanism, the three built-ins Debezium deployments use:
# TopicNameMatches, HasHeaderKey, RecordIsTombstone — each optionally
# negated). An SMT guarded by a predicate applies ONLY to matching
# records; the rest pass through untouched. In Spark terms the guard
# is a per-column `when(pred, transformed).otherwise(original)` —
# still a narrow codegen'd projection, zero extra data movement.
# --------------------------------------------------------------------------


def predicate_topic_matches(pattern: str) -> Column:
    return F.col("topic").rlike(pattern)


def predicate_has_header_key(key: str) -> Column:
    return F.map_contains_key(F.col("headers"), F.lit(key))


def predicate_is_tombstone() -> Column:
    """Tombstone analog in the flattened stream: a delete whose after
    image is empty (Debezium's tombstone follows the delete; in the
    synthesized flat stream the delete row itself carries the null
    after image)."""
    return F.col("op") == "d"


def apply_smt_guarded(
    df: DataFrame, pred: Column, replacements: dict[str, Column]
) -> DataFrame:
    """Apply per-column replacement expressions only where `pred`
    holds (negate with `~pred`); non-matching rows keep every
    original value. Replacements are expressions over `df` itself —
    one lineage, one narrow projection."""
    out = df
    for c, expr in replacements.items():
        out = out.withColumn(c, F.when(pred, expr).otherwise(F.col(c)))
    return out


def cdc_smt_predicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-guarded SMT chain under the external gate:
    - topic = high/std routed on the after image;
    - mask(o_orderpriority) guarded by TopicNameMatches('^cdc\\\\.orders
      \\\\.high$') AND NOT RecordIsTombstone — only non-delete rows of
      the high topic get the md5;
    - headers carry 'src' only for creates; insert __unsourced=true
      guarded by HasHeaderKey('src') negate=true.
    The oracle recomputes topic, guard and md5 per row."""
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("key") < 3000)
    routed = cdc.withColumn(
        "topic",
        F.when(
            F.col("after_totalprice") >= 300000, "cdc.orders.high"
        ).otherwise("cdc.orders.std"),
    ).withColumn(
        "headers",
        F.when(
            F.col("op") == "c", F.create_map(F.lit("src"), F.lit("erp"))
        ).otherwise(F.create_map().cast("map<string,string>")),
    )
    mask_pred = predicate_topic_matches(r"^cdc\.orders\.high$") & ~(
        predicate_is_tombstone()
    )
    masked = apply_smt_guarded(
        routed,
        mask_pred,
        {"o_orderpriority": F.md5(F.col("o_orderpriority").cast("string"))},
    )
    flagged = masked.withColumn(
        "__unsourced", ~predicate_has_header_key("src")
    )
    return flagged.select(
        "key",
        "seq",
        "op",
        "topic",
        F.col("o_orderpriority").alias("priority_out"),
        "__unsourced",
    ).orderBy("key", "seq")


ORACLES["cdc_smt_predicates"] = CDC_FLAT_SQL + """
    SELECT key, seq, op,
           CASE WHEN after_totalprice >= 300000
                THEN 'cdc.orders.high' ELSE 'cdc.orders.std' END AS topic,
           CASE WHEN after_totalprice >= 300000 AND op <> 'd'
                THEN md5(o_orderpriority) ELSE o_orderpriority END
               AS priority_out,
           op <> 'c' AS __unsourced
    FROM cdc WHERE key < 3000 ORDER BY key, seq
"""
QUERIES["cdc_smt_predicates"] = cdc_smt_predicates_q


# --------------------------------------------------------------------------
# Flatten SMT (Connect's org.apache.kafka.connect.transforms.Flatten):
# recursively hoist nested struct fields to top-level columns joined
# by an underscore — the standard bridge from the API-level envelope
# {before{...}, after{...}, source{...}} to sinks that need flat rows.
# Pure projection: column pruning still reaches the parquet scan
# because Spark resolves `s.a.b` to a nested-field read.
# --------------------------------------------------------------------------


def flatten_struct_columns(df: DataFrame) -> DataFrame:
    """Recursive struct flatten; non-struct columns pass through in
    order, struct fields expand depth-first as parent_child."""
    from pyspark.sql import types as T

    cols: list[Column] = []

    def rec(path: str, name: str, dtype) -> None:
        full = f"{path}.{name}" if path else name
        label = full.replace(".", "_")
        if isinstance(dtype, T.StructType):
            for sub in dtype.fields:
                rec(full, sub.name, sub.dataType)
        else:
            cols.append(F.col(full).alias(label))

    for f in df.schema.fields:
        rec("", f.name, f.dataType)
    return df.select(*cols)


def cdc_flatten_envelope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten SMT over the API-level nested envelope, under the
    external gate: dotted paths become underscore-joined columns and
    every value (including NULL before/after images on creates/
    deletes) must match the closed-form oracle."""
    from debezium_spark.cdc.envelope import synthesize_cdc_envelope

    env = synthesize_cdc_envelope(spark, sf_dir).filter(F.col("key") < 3000)
    flat = flatten_struct_columns(env)
    return flat.select(
        "key",
        "seq",
        "op",
        F.col("before_o_totalprice"),
        F.col("after_o_totalprice"),
        F.col("source_table"),
        F.col("source_seq"),
        F.col("transaction_id"),
    ).orderBy("key", "seq")


ORACLES["cdc_flatten_envelope"] = CDC_FLAT_SQL + f"""
    SELECT key, seq, op,
           before_totalprice AS before_o_totalprice,
           after_totalprice AS after_o_totalprice,
           'orders' AS source_table,
           seq AS source_seq,
           {sql_txn_id("seq")} AS transaction_id
    FROM cdc WHERE key < 3000 ORDER BY key, seq
"""
QUERIES["cdc_flatten_envelope"] = cdc_flatten_envelope_q
