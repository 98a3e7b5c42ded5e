"""Schema-history tracking (Debezium schema-history topic analog)."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.schema_history import (
    SchemaHistory,
    schema_fingerprint,
)
from debezium_spark.sources.tables import load_table


def test_fingerprint_stable_and_order_sensitive(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    assert schema_fingerprint(o) == schema_fingerprint(o)
    reordered = o.select(*reversed(o.columns))
    assert schema_fingerprint(o) != schema_fingerprint(reordered)


def test_history_log(spark, sf_dir):
    h = SchemaHistory()
    o = load_table(spark, sf_dir, "orders")
    v0 = h.record("orders", o)
    v1 = h.record("orders", o.withColumn("x", F.lit(1)))
    assert (v0, v1) == (0, 1)
    latest = h.latest("orders")
    assert latest[0] == 1
    df = h.to_df(spark)
    assert df.count() == 2
    assert df.filter(F.col("version") == 0).first()["table"] == "orders"
    assert h.latest("nope") is None


def test_compatibility_classes(spark, sf_dir):
    from debezium_spark.cdc.schema_history import cdc_schema_compatibility_q

    rows = cdc_schema_compatibility_q(spark, sf_dir).collect()
    verdicts = [(r["from_version"], r["compat"]) for r in rows]
    # required add -> FORWARD; required remove -> BACKWARD; retype ->
    # NONE; optional remove -> FULL; nullability flips: opt->req ->
    # FORWARD, req->opt -> BACKWARD (see the operator docstring chain)
    assert verdicts == [
        (0, "FORWARD"),
        (1, "BACKWARD"),
        (2, "NONE"),
        (3, "FORWARD"),
        (4, "FULL"),
        (5, "FORWARD"),
        (6, "BACKWARD"),
    ]
    assert all(r["to_version"] == r["from_version"] + 1 for r in rows)


def test_classify_compatibility_on_synthetic_log(spark):
    from debezium_spark.cdc.schema_history import classify_compatibility

    vdf = spark.createDataFrame(
        [
            (0, "a:int:r,b:string:n"),
            (1, "a:int:r,b:string:n,c:double:n"),   # optional add -> FULL
            (2, "a:int:r,c:double:n"),              # optional remove -> FULL
            (3, "a:long:r,c:double:n"),             # retype -> NONE
        ],
        "version int, columns string",
    )
    out = {r["from_version"]: r["compat"]
           for r in classify_compatibility(vdf, 4).collect()}
    assert out == {0: "FULL", 1: "FULL", 2: "NONE"}
