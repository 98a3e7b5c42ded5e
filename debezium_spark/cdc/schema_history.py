"""Schema history tracking (Debezium's database-schema-history topic,
re-expressed): fingerprint table schemas, record versioned history,
and diff consecutive versions.

Debezium persists every DDL change so a connector can rebuild the
in-memory schema at any offset; the Spark analog is a small metadata
DataFrame of (version, table, columns, fingerprint) rows that sinks
alongside the data. Schema capture itself is driver-side metadata
(schemas are not data-sized), so these helpers are plain functions +
tiny DataFrames.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def schema_signature(df: DataFrame) -> list[tuple[str, str]]:
    """(name, dataType) pairs in column order."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def schema_fingerprint(df: DataFrame) -> str:
    """Deterministic md5 over the ordered name:type list — equal
    fingerprints ⇔ identical schema (order-sensitive, like Debezium's
    schema versions)."""
    blob = ",".join(f"{n}:{t}" for n, t in schema_signature(df))
    return hashlib.md5(blob.encode()).hexdigest()


class SchemaHistory:
    """In-memory schema-history log; `to_df` materializes it as the
    history 'topic'."""

    def __init__(self) -> None:
        self._log: list[tuple[int, str, str, str]] = []

    def record(self, table: str, df: DataFrame) -> int:
        version = len(self._log)
        cols = ",".join(f"{n}:{t}" for n, t in schema_signature(df))
        self._log.append((version, table, cols, schema_fingerprint(df)))
        return version

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self._log, "version int, table string, columns string, fingerprint string"
        )

    def latest(self, table: str) -> tuple[int, str] | None:
        for version, t, _cols, fp in reversed(self._log):
            if t == table:
                return (version, fp)
        return None


def cdc_schema_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-history topic under the external gate: the version log
    of the canonical SMT chain's output schemas (raw envelope →
    extract-new-state(drop) → extract-new-state(rewrite), which adds
    __deleted). The oracle re-derives each fingerprint with md5 over
    the same column signature, so ANY schema drift in the envelope or
    the SMT outputs fails the gate — a schema-stability regression
    check, the role Debezium's schema-history topic plays on
    connector restart."""
    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.transforms import extract_new_record_state

    cdc = synthesize_cdc_flat(spark, sf_dir)
    h = SchemaHistory()
    h.record("orders.envelope", cdc)
    h.record("orders.flat", extract_new_record_state(cdc))
    h.record("orders.flat", extract_new_record_state(cdc, delete_mode="rewrite"))
    return h.to_df(spark).orderBy("version")


_ENVELOPE_SIG = (
    "key:bigint,op:string,seq:bigint,ts_ms:bigint,"
    "before_totalprice:double,after_totalprice:double,o_custkey:bigint,"
    "o_orderstatus:string,o_orderdate:timestamp_ntz,o_orderpriority:string"
)
_FLAT_SIG = (
    "key:bigint,o_totalprice:double,o_custkey:bigint,o_orderstatus:string,"
    "o_orderpriority:string,__op:string,__ts_ms:bigint,__table:string"
)

ORACLES: dict[str, str] = {
    "cdc_schema_history": f"""
        WITH v(version, "table", columns) AS (VALUES
            (0, 'orders.envelope', '{_ENVELOPE_SIG}'),
            (1, 'orders.flat', '{_FLAT_SIG}'),
            (2, 'orders.flat', '{_FLAT_SIG},__deleted:boolean'))
        SELECT version, "table", columns, md5(columns) AS fingerprint
        FROM v ORDER BY version
    """,
}

QUERIES = {
    "cdc_schema_history": cdc_schema_history_q,
}


# --------------------------------------------------------------------------
# Schema-compatibility classification (Confluent Schema Registry
# semantics, the gate Debezium's Avro deployments run every schema
# change through): for each consecutive version pair, classify the
# transition as BACKWARD (new readers read old data — additions must
# be optional), FORWARD (old readers read new data — removals must be
# optional), FULL (both) or NONE (a retype, or required-field churn
# both ways). "optional" ≈ nullable here (Avro's nullable-with-default
# reduced to the column nullability Spark tracks).
# --------------------------------------------------------------------------


def schema_signature_nullable(df: DataFrame) -> str:
    """name:type:n|r signature string — the nullability-aware variant
    of schema_fingerprint's input.

    The signature is parsed back by splitting on ',' then ':', which
    is only unambiguous for atomic types; a struct/map simpleString
    (`struct<a:int,b:string>`) would corrupt the parse silently, so
    refuse non-atomic columns loudly instead."""
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        if "," in s or ":" in s or "," in f.name or ":" in f.name:
            raise ValueError(
                f"schema_signature_nullable: column {f.name!r} has a "
                f"non-atomic type {s!r}; the ','/':' -delimited signature "
                "cannot represent it — flatten the struct/map first"
            )
    return ",".join(
        f"{f.name}:{f.dataType.simpleString()}:{'n' if f.nullable else 'r'}"
        for f in df.schema.fields
    )


def classify_compatibility(versions: DataFrame, n_versions: int) -> DataFrame:
    """(version, columns-signature) log → per-transition class. The
    classification itself runs as engine expressions (split/explode/
    full-outer join/aggregate), NOT driver Python, so the DuckDB
    oracle re-derives the verdicts from the same signature strings."""
    from pyspark.sql import functions as F

    f = versions.select(
        "version", F.explode(F.split("columns", ",")).alias("fld")
    ).select(
        "version",
        F.split("fld", ":")[0].alias("name"),
        F.split("fld", ":")[1].alias("typ"),
        F.split("fld", ":")[2].alias("nul"),
    )
    new = f.select(
        (F.col("version") - 1).alias("version"),
        "name",
        F.col("typ").alias("n_typ"),
        F.col("nul").alias("n_nul"),
    )
    j = f.join(new, ["version", "name"], "full_outer").filter(
        F.col("version").between(0, n_versions - 2)
    )
    agg = j.groupBy("version").agg(
        F.sum((F.col("typ").isNull() & (F.col("n_nul") == "r")).cast("long")).alias("added_req"),
        F.sum((F.col("typ").isNull() & (F.col("n_nul") == "n")).cast("long")).alias("added_opt"),
        F.sum((F.col("n_typ").isNull() & (F.col("nul") == "r")).cast("long")).alias("removed_req"),
        F.sum((F.col("n_typ").isNull() & (F.col("nul") == "n")).cast("long")).alias("removed_opt"),
        F.sum(
            (
                F.col("typ").isNotNull()
                & F.col("n_typ").isNotNull()
                & (F.col("typ") != F.col("n_typ"))
            ).cast("long")
        ).alias("n_retyped"),
        # Nullability flips on retained same-type fields: under the
        # Confluent/Avro mapping (optional ≈ nullable), optional→
        # required means old data may carry a null the new reader
        # rejects (blocks BACKWARD, like a required add); required→
        # optional means new data may carry a null the old reader
        # rejects (blocks FORWARD, like a required remove).
        F.sum(
            (
                F.col("typ").isNotNull() & F.col("n_typ").isNotNull()
                & (F.col("typ") == F.col("n_typ"))
                & (F.col("nul") == "n") & (F.col("n_nul") == "r")
            ).cast("long")
        ).alias("opt_to_req"),
        F.sum(
            (
                F.col("typ").isNotNull() & F.col("n_typ").isNotNull()
                & (F.col("typ") == F.col("n_typ"))
                & (F.col("nul") == "r") & (F.col("n_nul") == "n")
            ).cast("long")
        ).alias("req_to_opt"),
    )
    blocks_backward = F.col("added_req") + F.col("opt_to_req")
    blocks_forward = F.col("removed_req") + F.col("req_to_opt")
    compat = (
        F.when(F.col("n_retyped") > 0, F.lit("NONE"))
        .when((blocks_backward == 0) & (blocks_forward == 0), F.lit("FULL"))
        .when(blocks_backward == 0, F.lit("BACKWARD"))
        .when(blocks_forward == 0, F.lit("FORWARD"))
        .otherwise(F.lit("NONE"))
    )
    return agg.select(
        F.col("version").cast("int").alias("from_version"),
        (F.col("version") + 1).cast("int").alias("to_version"),
        (F.col("added_req") + F.col("added_opt")).cast("long").alias("n_added"),
        (F.col("removed_req") + F.col("removed_opt")).cast("long").alias("n_removed"),
        F.col("n_retyped").cast("long").alias("n_retyped"),
        compat.alias("compat"),
    ).orderBy("from_version")


def cdc_schema_compatibility_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-style compatibility verdicts over a real DDL-change
    chain: flat state → +__deleted (required add → FORWARD) →
    -__table (required remove → BACKWARD) → o_custkey retype (NONE) →
    +source_system (required add → FORWARD) → -o_orderpriority
    (optional remove → FULL) → o_totalprice optional→required
    (FORWARD) → source_system required→optional (BACKWARD).
    Signatures come from the ACTUAL SMT
    output schemas, so envelope/SMT schema drift fails the gate (the
    oracle inlines the expected signatures), and the classification
    logic is recomputed by both engines."""
    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.cdc.transforms import (
        cast_fields,
        extract_new_record_state,
        insert_field_static,
        replace_field,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    v0 = extract_new_record_state(cdc)
    v1 = extract_new_record_state(cdc, delete_mode="rewrite")
    v2 = replace_field(v1, exclude=["__table"])
    v3 = cast_fields(v2, {"o_custkey": "int"})
    v4 = insert_field_static(v3, "source_system", "erp")
    v5 = replace_field(v4, exclude=["o_orderpriority"])
    from pyspark.sql import functions as F

    # nullability-only transitions (same name, same type): coalesce
    # with a literal default flips nullable→required (opt_to_req →
    # BACKWARD blocked → FORWARD); a when-without-otherwise flips
    # required→nullable (req_to_opt → FORWARD blocked → BACKWARD).
    v6 = v5.withColumn(
        "o_totalprice", F.coalesce(F.col("o_totalprice"), F.lit(0.0))
    )
    v7 = v6.withColumn(
        "source_system",
        F.when(F.length("source_system") >= 0, F.col("source_system")),
    )
    chain = [v0, v1, v2, v3, v4, v5, v6, v7]
    vdf = spark.createDataFrame(
        [(i, schema_signature_nullable(d)) for i, d in enumerate(chain)],
        "version int, columns string",
    )
    return classify_compatibility(vdf, len(chain))


# expected signatures (regression literals — see cdc_schema_history):
_SIG0 = (
    "key:bigint:n,o_totalprice:double:n,o_custkey:bigint:n,"
    "o_orderstatus:string:n,o_orderpriority:string:n,__op:string:r,"
    "__ts_ms:bigint:n,__table:string:r"
)
_SIG1 = _SIG0 + ",__deleted:boolean:r"
_SIG2 = _SIG1.replace(",__table:string:r", "")
_SIG3 = _SIG2.replace("o_custkey:bigint:n", "o_custkey:int:n")
_SIG4 = _SIG3 + ",source_system:string:r"
_SIG5 = _SIG4.replace("o_orderpriority:string:n,", "")
_SIG6 = _SIG5.replace("o_totalprice:double:n", "o_totalprice:double:r")
_SIG7 = _SIG6.replace("source_system:string:r", "source_system:string:n")

ORACLES["cdc_schema_compatibility"] = f"""
    WITH v(version, columns) AS (VALUES
        (0, '{_SIG0}'), (1, '{_SIG1}'), (2, '{_SIG2}'),
        (3, '{_SIG3}'), (4, '{_SIG4}'), (5, '{_SIG5}'),
        (6, '{_SIG6}'), (7, '{_SIG7}')),
    f AS (
        SELECT version,
               split_part(fld, ':', 1) AS name,
               split_part(fld, ':', 2) AS typ,
               split_part(fld, ':', 3) AS nul
        FROM (SELECT version, unnest(string_split(columns, ',')) AS fld
              FROM v)
    ),
    n AS (SELECT version - 1 AS version, name,
                 typ AS n_typ, nul AS n_nul FROM f),
    j AS (
        SELECT version, typ, nul, n_typ, n_nul
        FROM f FULL OUTER JOIN n USING (version, name)
        WHERE version BETWEEN 0 AND 6
    ),
    agg AS (
        SELECT version,
               CAST(sum(CASE WHEN typ IS NULL AND n_nul = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS added_req,
               CAST(sum(CASE WHEN typ IS NULL AND n_nul = 'n' THEN 1 ELSE 0 END) AS BIGINT) AS added_opt,
               CAST(sum(CASE WHEN n_typ IS NULL AND nul = 'r' THEN 1 ELSE 0 END) AS BIGINT) AS removed_req,
               CAST(sum(CASE WHEN n_typ IS NULL AND nul = 'n' THEN 1 ELSE 0 END) AS BIGINT) AS removed_opt,
               CAST(sum(CASE WHEN typ IS NOT NULL AND n_typ IS NOT NULL
                             AND typ <> n_typ THEN 1 ELSE 0 END) AS BIGINT) AS n_retyped,
               CAST(sum(CASE WHEN typ IS NOT NULL AND n_typ IS NOT NULL
                             AND typ = n_typ AND nul = 'n' AND n_nul = 'r'
                        THEN 1 ELSE 0 END) AS BIGINT) AS opt_to_req,
               CAST(sum(CASE WHEN typ IS NOT NULL AND n_typ IS NOT NULL
                             AND typ = n_typ AND nul = 'r' AND n_nul = 'n'
                        THEN 1 ELSE 0 END) AS BIGINT) AS req_to_opt
        FROM j GROUP BY version
    )
    SELECT CAST(version AS INT) AS from_version,
           CAST(version + 1 AS INT) AS to_version,
           added_req + added_opt AS n_added,
           removed_req + removed_opt AS n_removed,
           n_retyped,
           CASE WHEN n_retyped > 0 THEN 'NONE'
                WHEN added_req + opt_to_req = 0
                     AND removed_req + req_to_opt = 0 THEN 'FULL'
                WHEN added_req + opt_to_req = 0 THEN 'BACKWARD'
                WHEN removed_req + req_to_opt = 0 THEN 'FORWARD'
                ELSE 'NONE' END AS compat
    FROM agg ORDER BY from_version
"""
QUERIES["cdc_schema_compatibility"] = cdc_schema_compatibility_q
