"""Dedup invariants: LSH recall vs exact Jaccard, simhash symmetry,
exact-dup detection on crafted duplicates."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _exact_jaccard_pairs,
    _hashed_shingle_rows,
    _minhash_agg_exprs,
    dedup_exact_q,
    lsh_candidate_pairs,
    simhash_packed,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "spark table join filter agg window sort merge hash scan " * 8
    rows = [
        (0, base + "alpha beta gamma"),
        (1, base + "alpha beta delta"),          # near-dup of 0
        (2, base.replace("spark", "flink") + "x y z"),
        (3, "totally different tiny text here now ok"),
        (4, base + "alpha beta gamma"),          # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_jaccard_sane(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in _exact_jaccard_pairs(docs).collect()}
    assert pairs[(0, 4)] == 1.0                      # exact dup
    assert pairs[(0, 1)] > 0.7                       # near dup
    assert pairs.get((0, 3), 0.0) < 0.1              # unrelated


def _minhash_signatures(docs):
    """The signature build `dedup_minhash_lsh_q` runs, minus its
    shingle-set column."""
    rows = _hashed_shingle_rows(docs, distinct=False)
    return rows.groupBy("doc_id").agg(*_minhash_agg_exprs())


def test_lsh_candidates_cover_high_jaccard(docs):
    sigs = _minhash_signatures(docs)
    cand = {(r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs(sigs).collect()}
    exact = _exact_jaccard_pairs(docs)
    high = {(r["doc_a"], r["doc_b"])
            for r in exact.filter(F.col("jaccard") >= 0.9).collect()}
    assert high <= cand  # recall at J>=0.9 must be total here


def test_lsh_verified_subset_of_exact(docs):
    sigs = _minhash_signatures(docs)
    cand = lsh_candidate_pairs(sigs)
    exact = _exact_jaccard_pairs(docs).select("doc_a", "doc_b", "jaccard")
    verified = cand.join(exact, ["doc_a", "doc_b"]).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    allexact = {(r["doc_a"], r["doc_b"]) for r in exact.filter(
        F.col("jaccard") >= JACCARD_THRESHOLD).collect()}
    got = {(r["doc_a"], r["doc_b"]) for r in verified.collect()}
    assert got <= allexact


def test_simhash_deterministic_and_discriminative(docs):
    s1 = {r["doc_id"]: r["sig"] for r in simhash_packed(docs).collect()}
    s2 = {r["doc_id"]: r["sig"] for r in simhash_packed(docs).collect()}
    assert s1 == s2
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(s1[0], s1[4]) == 0           # exact dup → same signature
    assert ham(s1[0], s1[1]) <= 10          # near dup → close
    assert ham(s1[0], s1[3]) > 10           # unrelated → far


def test_dedup_exact_finds_planted_dup(spark, sf_dir, monkeypatch, docs):
    import debezium_spark.operators.dedup as mod

    monkeypatch.setattr(
        mod, "load_table", lambda _s, _d, _n: docs.withColumn(
            "text", F.col("text"))
    )
    out = mod.dedup_exact_q(spark, sf_dir)
    grp = out.filter(F.col("n_docs") > 1).collect()
    assert len(grp) == 1 and grp[0]["canonical_doc_id"] == 0


def test_connected_components_chain_and_pair(spark):
    from debezium_spark.operators.dedup import connected_components

    # chain 1-2, 2-3, 3-4 (diameter 3) plus disjoint pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    from debezium_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(edges).count() == 0


def test_segment_dedup_keep_first(spark):
    from debezium_spark.operators.dedup import segment_dedup

    # doc 2 repeats doc 1's first 10-word segment verbatim; doc 3 is
    # unique. Width-4 segments to keep the fixture small.
    seg_a = "a b c d"
    seg_b = "e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),
            (2, f"{seg_a} x y z w"),
            (3, "p q r s"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, width=4).collect()}
    assert out[1]["n_segments"] == 2 and out[1]["n_kept"] == 2
    # doc 2 loses its first segment (already seen in doc 1)
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["kept_chars"] == len("x y z w")
    assert out[3]["n_kept"] == 1


def test_substring_span_report(spark):
    from debezium_spark.operators.dedup import substring_span_report

    # L=4 windows. doc 2 repeats a 6-token span from doc 1 -> its dup
    # windows are 3 consecutive ones = span of 6 tokens. doc 3 short.
    shared = "s1 s2 s3 s4 s5 s6"
    docs = spark.createDataFrame(
        [
            (1, f"a b {shared} c d"),
            (2, f"x y z {shared} q"),
            (3, "t u v"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r
           for r in substring_span_report(docs, length=4).collect()}
    assert out[1]["n_dup_windows"] == 0
    assert out[2]["n_dup_windows"] == 3
    assert out[2]["longest_dup_span"] == 6
    assert out[3]["n_windows"] == 0 and out[3]["longest_dup_span"] == 0


def test_semdedup_keep_first_and_counts(spark, sf_dir):
    """SemDeDup invariants on the real table: per-cell counts add up,
    the smallest vec_id of each cell is never dropped (keep-first),
    and cluster sizes cover the whole table exactly once."""
    from debezium_spark.operators.dedup import dedup_semantic_q
    from debezium_spark.sources.tables import load_table

    rep = dedup_semantic_q(spark, sf_dir)
    rows = rep.collect()
    total = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_vectors"] for r in rows) == total
    for r in rows:
        assert r["n_kept"] == r["n_vectors"] - r["n_dropped"]
        assert 0 <= r["n_dropped"] < r["n_vectors"]  # min id survives


def test_minhash_lsh_leaves_no_persisted_rdd(spark, sf_dir):
    from debezium_spark.operators.dedup import dedup_minhash_lsh_q

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    dedup_minhash_lsh_q(spark, sf_dir).collect()
    assert jsc.getPersistentRDDs().size() == before
