"""`word_ngrams` against its DuckDB twin `sql_word_ngrams`, on
the edge cases of the tokenizer: empty text, fewer words than n,
exactly n words, runs of spaces, leading/trailing spaces and tabs."""

from collections import Counter

import duckdb
import pytest

from pyspark.sql import functions as F

from debezium_spark.functions.tokens import h60, sql_h60, word_ngrams
from debezium_spark.functions.tokens import sql_word_ngrams
from debezium_spark.functions.tokens import content_md5, knuth32
from debezium_spark.functions.tokens import sql_content_md5, sql_knuth32

LONG = " ".join(f"w{i % 7}" for i in range(25))  # repeated grams
DOCS = [
    (0, ""),
    (1, "one"),
    (2, "a b"),
    (3, "a b c"),
    (4, " ".join(f"t{i}" for i in range(20))),
    (5, "a  b   c    d"),
    (6, "   lead and trail   "),
    (7, "tab\tseparated\t\twords here"),
    (8, "\tleading tab and trailing tab\t"),
    (9, LONG),
    (10, " ".join([LONG] * 2)),
]


def _duckdb_ngrams(n: int) -> Counter:
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", DOCS)
    return Counter(con.execute(sql_word_ngrams(n, source="docs")).fetchall())


@pytest.mark.parametrize("n", [2, 3, 6, 20])
def test_word_ngrams_match_duckdb(spark, n):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = word_ngrams(docs, n)
    assert got.columns == ["doc_id", "pos", "gram"]
    spark_rows = Counter(
        (r["doc_id"], r["pos"], r["gram"]) for r in got.collect()
    )
    expected = _duckdb_ngrams(n)
    assert spark_rows == expected
    # docs shorter than n give no rows; the rest give len - n + 1
    assert {d for d, _, _ in expected} >= {4, 9, 10}


def test_h60_matches_duckdb(spark):
    texts = ["", "a", "the quick brown fox", "h\u00e9llo w\u00f6rld", "x" * 1000]
    rows = list(enumerate(texts))
    got = {
        r["i"]: r["h"]
        for r in spark.createDataFrame(rows, "i long, t string")
        .select("i", h60("t").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT i, {sql_h60('t')} FROM t").fetchall())
    assert got == want
    assert all(0 <= h < 1 << 60 for h in got.values())


def test_content_md5_and_knuth32_match_duckdb(spark):
    rows = [(i, t) for i, t in DOCS] + [
        (2**31 + 5, "  Same\tText  "), (3 * 10**9 + 11, "same text"),
    ]
    got = {
        r["i"]: (r["md5"], r["k32"])
        for r in spark.createDataFrame(rows, "i long, text string")
        .select(
            "i",
            content_md5(F.col("text")).alias("md5"),
            knuth32(F.col("i")).alias("k32"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        i: (m, k)
        for i, m, k in con.execute(
            f"SELECT i, {sql_content_md5('text')}, {sql_knuth32('i')} FROM docs"
        ).fetchall()
    }
    assert got == want
    assert got[2**31 + 5][0] == got[3 * 10**9 + 11][0]  # case, tabs, runs
    assert all(0 <= k < 2**32 for _, k in got.values())
