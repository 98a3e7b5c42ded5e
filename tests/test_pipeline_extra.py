"""Unit tests for decontamination, sequence packing, and schema
evolution (round-4 additions)."""

from pyspark.sql import functions as F

from debezium_spark.cdc.converters import (
    apply_schema_evolution,
    cdc_schema_evolution_q,
)
from debezium_spark.functions.tokens import words
from debezium_spark.operators.pipeline import (
    PACK_CONTEXT,
    decontaminate_q,
    sequence_pack_q,
)


def test_decontaminate_flags_overlap(spark, sf_dir):
    rows = decontaminate_q(spark, sf_dir).collect()
    assert rows, "expected training docs"
    # eval docs excluded from the output
    assert all(r["doc_id"] % 97 != 0 for r in rows)
    # contaminated == (n_shared_ngrams > 0) by construction
    assert all(r["contaminated"] == (r["n_shared_ngrams"] > 0) for r in rows)
    # the tiny shared vocabulary guarantees at least some overlap
    assert any(r["contaminated"] for r in rows)
    assert any(not r["contaminated"] for r in rows)


def test_sequence_pack_fill_invariants(spark, sf_dir):
    rows = sequence_pack_q(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_packs"] >= 1
        assert r["total_tokens"] > 0
        # greedy contiguous fill: every pack holds at least one doc and
        # total fill never exceeds capacity+max_doc slack per pack
        assert r["n_docs"] >= r["n_packs"]
        assert 0 < r["fill_ratio"]


def test_sequence_pack_matches_naive_window(spark, sf_dir):
    """Two-phase prefix sum == the naive per-source running sum."""
    from debezium_spark.sources.tables import load_table
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = (
        d.select("doc_id", "source", F.size(words()).cast("long").alias("n"))
        .withColumn("cum", F.sum("n").over(w))
        .withColumn("pack_id", F.floor((F.col("cum") - F.col("n")) / PACK_CONTEXT))
        .groupBy("source")
        .agg(F.countDistinct("pack_id").alias("n_packs"))
    )
    expected = {r["source"]: r["n_packs"] for r in naive.collect()}
    got = {
        r["source"]: r["n_packs"]
        for r in sequence_pack_q(spark, sf_dir).collect()
    }
    assert got == expected


def test_apply_schema_evolution_backfills_null(spark):
    old = spark.createDataFrame([(1, 10, "a")], ["key", "seq", "v"])
    new = spark.createDataFrame(
        [(1, 20, "b", 5)], ["key", "seq", "v", "added"]
    )
    merged = apply_schema_evolution(old, new).orderBy("seq").collect()
    assert merged[0]["added"] is None
    assert merged[1]["added"] == 5


def test_cdc_schema_evolution_latest_state(spark, sf_dir):
    rows = cdc_schema_evolution_q(spark, sf_dir).collect()
    assert rows
    for r in rows[:200]:
        if r["last_seq"] % 10 >= 2:
            assert r["o_discount_pct"] == r["key"] % 7
        else:
            assert r["o_discount_pct"] is None
