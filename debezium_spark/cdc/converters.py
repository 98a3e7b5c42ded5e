"""Value-converter SMTs: Debezium's connector-level value-conversion
modes re-expressed as declarative column plans.

Parity targets (public Debezium docs — debezium.io/documentation,
connector property reference):
- Postgres **TOAST columns**: an UPDATE that does not rewrite a
  TOASTed value ships the `__debezium_unavailable_value` placeholder
  instead of the real value; downstream consumers must carry the
  last-known value forward per key ("unavailable value placeholder").
- **decimal.handling.mode** = precise | double | string. `precise`
  is Kafka Connect's `Decimal` — an *unscaled integer* plus a scale —
  re-expressed here as (unscaled BIGINT, scale INT); `double` and
  `string` are the lossy/portable alternatives.
- **time.precision.mode** = adaptive_time_microseconds (epoch
  microseconds), connect (epoch milliseconds), plus Connect `Date`
  (epoch days) and an ISO-8601 string form.

Scale shape: decimal/temporal conversion are narrow codegen'd
projections (scan-speed, zero shuffle at 100 TB). The TOAST fill is
one window over (key, seq) — the exact shuffle latest-state already
pays, so in a real pipeline it shares that exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import CDC_FLAT_SQL, synthesize_cdc_flat
from debezium_spark.cdc.materialize import latest_state, sql_latest_state
from debezium_spark.functions.rounding import sql_to_units, to_units

UNAVAILABLE = "__debezium_unavailable_value"


# --------------------------------------------------------------------------
# TOAST / unavailable-value placeholder handling
# --------------------------------------------------------------------------
def toast_placeholders(cdc: DataFrame) -> DataFrame:
    """Deterministically re-create the connector-side behavior: every
    update event whose seq ≡ 0 (mod 3) did not rewrite the TOASTed
    o_orderpriority column, so it carries the placeholder."""
    return cdc.withColumn(
        "o_orderpriority",
        F.when(
            (F.col("op") == "u") & (F.pmod(F.col("seq"), F.lit(3)) == 0),
            F.lit(UNAVAILABLE),
        ).otherwise(F.col("o_orderpriority")),
    )


def unavailable_value_fill(df: DataFrame, cols: list[str]) -> DataFrame:
    """Carry the last real value forward per key: placeholder → NULL,
    then last(..., ignorenulls) over (key, seq). The first event per
    key is a create (never TOASTed), so the fill always resolves."""
    w = (
        Window.partitionBy("key")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in cols:
        real = F.when(F.col(c) != UNAVAILABLE, F.col(c))
        df = df.withColumn(f"{c}_filled", F.last(real, ignorenulls=True).over(w))
    return df


def cdc_unavailable_value_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = toast_placeholders(synthesize_cdc_flat(spark, sf_dir))
    filled = unavailable_value_fill(cdc, ["o_orderpriority"])
    return filled.select(
        "key",
        "seq",
        "op",
        F.col("o_orderpriority").alias("priority_raw"),
        F.col("o_orderpriority_filled").alias("priority_filled"),
    ).orderBy("key", "seq")


# --------------------------------------------------------------------------
# decimal.handling.mode
# --------------------------------------------------------------------------
DECIMAL_SCALE = 2


def decimal_modes(df: DataFrame, col: str) -> DataFrame:
    """Emit all three decimal.handling.mode encodings of `col`.
    `precise` = unscaled int64 + scale (Connect Decimal's logical
    payload); integer-cents scaling keeps the unscaled value
    bit-identical across engines (SURVEY §6)."""
    v = F.col(col)
    cents = to_units(v, DECIMAL_SCALE)
    whole = F.floor(cents / (10**DECIMAL_SCALE)).cast("long")
    frac = F.lpad(
        F.pmod(cents, F.lit(10**DECIMAL_SCALE)).cast("string"),
        DECIMAL_SCALE,
        "0",
    )
    return df.select(
        "key",
        "seq",
        F.when(v.isNotNull(), cents).alias("price_unscaled"),
        F.lit(DECIMAL_SCALE).alias("price_scale"),
        v.alias("price_double"),
        F.when(v.isNotNull(), F.concat_ws(".", whole.cast("string"), frac)).alias(
            "price_string"
        ),
    )


def cdc_decimal_handling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("op") != "d")
    return decimal_modes(cdc, "after_totalprice").orderBy("key", "seq")


# --------------------------------------------------------------------------
# time.precision.mode
# --------------------------------------------------------------------------
def temporal_modes(df: DataFrame, col: str) -> DataFrame:
    """adaptive_time_microseconds → epoch µs (int64); connect → epoch
    ms (int64); Connect Date → epoch days (int32); plus ISO-8601."""
    # parquet timestamps arrive as TIMESTAMP_NTZ; with the session TZ
    # pinned UTC this cast reads the wall-clock as the same instant
    # DuckDB's naive epoch_ms/epoch_us see.
    t = F.col(col).cast("timestamp")
    return df.select(
        "key",
        "seq",
        F.datediff(F.to_date(t), F.lit("1970-01-01")).alias("epoch_days"),
        F.unix_millis(t).alias("epoch_millis"),
        F.unix_micros(t).alias("epoch_micros"),
        F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_ts"),
    )


def cdc_temporal_precision_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = synthesize_cdc_flat(spark, sf_dir)
    return temporal_modes(cdc, "o_orderdate").orderBy("key", "seq")


# --------------------------------------------------------------------------
# Schema evolution apply: a column added by DDL mid-stream. Debezium
# emits the new schema via the schema-history topic; the consumer must
# merge old-schema and new-schema events into one collection with NULL
# backfill (exactly what unionByName(allowMissingColumns) expresses —
# a zero-shuffle narrow union; the only exchange is the latest-state
# hash partition on key).
# --------------------------------------------------------------------------
def apply_schema_evolution(old: DataFrame, new: DataFrame) -> DataFrame:
    return old.unionByName(new, allowMissingColumns=True)


def cdc_schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The o_discount_pct column exists only for events captured after
    the DDL (here: every event past each key's initial create, seq%10
    >= 2). Latest-state over the merged stream: keys whose last event
    predates the DDL surface NULL."""
    cdc = synthesize_cdc_flat(spark, sf_dir).select(
        "key", "seq", "op", "o_orderstatus"
    )
    ddl_applied = F.pmod(F.col("seq"), F.lit(10)) >= 2
    old = cdc.filter(~ddl_applied)
    new = cdc.filter(ddl_applied).withColumn(
        "o_discount_pct", F.pmod(F.col("key"), F.lit(7))
    )
    merged = apply_schema_evolution(old, new)
    return (
        latest_state(merged)
        .select(
            "key",
            F.col("seq").alias("last_seq"),
            "o_orderstatus",
            "o_discount_pct",
        )
        .orderBy("key")
    )


ORACLES: dict[str, str] = {
    "cdc_schema_evolution": CDC_FLAT_SQL
    + f"""
        , evolved AS (
            SELECT key, seq, op, o_orderstatus,
                   CASE WHEN seq % 10 >= 2 THEN key % 7 END AS o_discount_pct
            FROM cdc)
        SELECT key, seq AS last_seq, o_orderstatus, o_discount_pct
        FROM {sql_latest_state("evolved")} ORDER BY key
    """,
    "cdc_unavailable_value_fill": CDC_FLAT_SQL
    + f"""
        , toasted AS (
            SELECT key, seq, op,
                   CASE WHEN op = 'u' AND seq % 3 = 0
                        THEN '{UNAVAILABLE}'
                        ELSE o_orderpriority END AS priority_raw
            FROM cdc)
        SELECT key, seq, op, priority_raw,
               last_value(CASE WHEN priority_raw <> '{UNAVAILABLE}'
                               THEN priority_raw END IGNORE NULLS)
                   OVER (PARTITION BY key ORDER BY seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS priority_filled
        FROM toasted ORDER BY key, seq
    """,
    "cdc_decimal_handling": CDC_FLAT_SQL
    + f"""
        , cents AS (
            SELECT key, seq, after_totalprice AS v,
                   {sql_to_units("after_totalprice", DECIMAL_SCALE)} AS u
            FROM cdc WHERE op <> 'd')
        SELECT key, seq,
               CASE WHEN v IS NOT NULL THEN u END AS price_unscaled,
               CAST({DECIMAL_SCALE} AS INT) AS price_scale,
               v AS price_double,
               CASE WHEN v IS NOT NULL THEN
                   CAST(u // {10**DECIMAL_SCALE} AS VARCHAR) || '.' ||
                   lpad(CAST(u % {10**DECIMAL_SCALE} AS VARCHAR),
                        {DECIMAL_SCALE}, '0') END AS price_string
        FROM cents ORDER BY key, seq
    """,
    "cdc_temporal_precision": CDC_FLAT_SQL
    + """
        SELECT key, seq,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS INT) AS epoch_days,
               epoch_ms(o_orderdate) AS epoch_millis,
               epoch_us(o_orderdate) AS epoch_micros,
               strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_ts
        FROM cdc ORDER BY key, seq
    """,
}

QUERIES = {
    "cdc_schema_evolution": cdc_schema_evolution_q,
    "cdc_unavailable_value_fill": cdc_unavailable_value_fill_q,
    "cdc_decimal_handling": cdc_decimal_handling_q,
    "cdc_temporal_precision": cdc_temporal_precision_q,
}


# --------------------------------------------------------------------------
# binary.handling.mode (Debezium connector config, public docs
# /connectors/postgresql#postgresql-property-binary-handling-mode):
# BYTEA/BLOB payload columns are emitted as raw bytes, base64, or
# hex. The payload here is a deterministic md5-derived 16-byte blob
# per event (unhex of md5 — REAL bytes, not hex text), rendered in
# all three modes; `bytes` mode is gated through its byte length
# (DuckDB's md5 rejects BLOBs) with content verified via the base64
# and hex renderings; hex is lowercased in both engines (Spark hex()
# is uppercase, DuckDB lowercase).
# --------------------------------------------------------------------------


def binary_modes(df: DataFrame, col: str) -> DataFrame:
    return df.select(
        "key",
        "seq",
        F.length(F.col(col)).cast("long").alias("payload_len"),  # bytes mode
        F.base64(F.col(col)).alias("payload_base64"),
        F.lower(F.hex(F.col(col))).alias("payload_hex"),
    )


def cdc_binary_handling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cdc = synthesize_cdc_flat(spark, sf_dir).filter(F.col("key") < 3000)
    blob = F.unhex(F.md5(F.concat_ws(":", "key", "seq", "o_orderpriority")))
    return binary_modes(cdc.withColumn("payload", blob), "payload").orderBy(
        "key", "seq"
    )


ORACLES["cdc_binary_handling"] = CDC_FLAT_SQL + """
    , b AS (
        SELECT key, seq,
               from_hex(md5(CAST(key AS VARCHAR) || ':'
                            || CAST(seq AS VARCHAR) || ':'
                            || o_orderpriority)) AS payload
        FROM cdc WHERE key < 3000)
    SELECT key, seq,
           CAST(octet_length(payload) AS BIGINT) AS payload_len,
           to_base64(payload) AS payload_base64,
           lower(hex(payload)) AS payload_hex
    FROM b ORDER BY key, seq
"""
QUERIES["cdc_binary_handling"] = cdc_binary_handling_q
