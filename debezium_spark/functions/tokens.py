"""The one place that turns document text into words and word n-grams.

The words of a document are Spark's `split(trim(text), '\\s+')`. trim
drops only spaces, so a text that starts or ends with a tab gets an
empty first or last word. DuckDB's `SQL_WORDS` splits identically,
edge cases included, so every n-gram, shingle and word count in the
operators matches its oracle.

`word_ngrams` builds the n-grams as rows with
posexplode(sequence(1, n_grams)) + element_at into the per-doc words
array: zero shuffles, zero lambdas, everything codegen'd. Spark's
higher-order functions (transform/aggregate/filter lambdas) are
CodegenFallback and run interpreted, which measured 10-30× slower and
anti-scaled with cores; a posexplode + window-lead form needs a
partitionBy(doc_id) shuffle + sort, which dominated the whole LSH
pipeline. sequence() is guarded by a size filter because Spark's
sequence(1, hi) DESCENDS when hi < 1 instead of returning empty.

`h60` is the first 60 bits of md5 as a non-negative BIGINT: md5 exists
identically in DuckDB, which is what keeps the hash pipelines
(MinHash/LSH, SimHash and the sketches) value-verifiable, as are the
exact-duplicate key `content_md5` and the Knuth hash `knuth32`.

This module owns both twins of each rule: `SQL_WORDS` and the `sql_*`
builders are the DuckDB spellings of `words()`, `h60`, `content_md5`,
`knuth32` and `word_ngrams` (`sql_word_ngrams`); every oracle uses
them, so none is written elsewhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SQL_WORDS = "string_split_regex(trim(text), '\\s+')"  # DuckDB twin of words()
KNUTH_MULT = 2654435761


def words() -> Column:
    """The words of the `text` column, as an array<string>."""
    return F.split(F.trim(F.col("text")), r"\s+")


def h60(col: Column | str) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_h60(expr: str) -> str:
    """DuckDB twin of `h60` over the SQL expression `expr`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def content_md5(col: Column) -> Column:
    """md5 of `col` trimmed, lower-cased, whitespace runs as one space."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def sql_content_md5(expr: str) -> str:
    """DuckDB twin of `content_md5` over the SQL expression `expr`."""
    return f"md5(regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g'))"


def knuth32(col: Column) -> Column:
    """Knuth's multiplicative hash of the integer `col`, mod 2^32."""
    return F.pmod(col * F.lit(KNUTH_MULT), F.lit(2**32))


def sql_knuth32(expr: str) -> str:
    """DuckDB twin of `knuth32` over the SQL expression `expr`."""
    return f"({expr} * {KNUTH_MULT}) % {2**32}"


def word_ngrams(docs: DataFrame, n: int) -> DataFrame:
    """One row per word n-gram: docs' columns other than `text`, the
    0-based word position `pos` the n-gram starts at, and `gram`, its
    n words joined by single spaces. Docs with fewer than n words
    yield no rows. `docs` holds no column named ws, i, pos or gram."""
    keep = [c for c in docs.columns if c != "text"]
    idx = (
        docs.select(*keep, words().alias("ws"))
        .filter(F.size("ws") >= n)
        .select(
            *keep,
            "ws",
            F.posexplode(F.sequence(F.lit(1), F.size("ws") - (n - 1))).alias(
                "pos", "i"
            ),
        )
    )
    gram = F.concat_ws(
        " ", *[F.element_at("ws", F.col("i") + off) for off in range(n)]
    )
    return idx.select(*keep, "pos", gram.alias("gram"))


def sql_word_ngrams(n: int, keep: str = "doc_id", source: str = "documents") -> str:
    """DuckDB twin of `word_ngrams`: a SELECT of the `keep` columns, the
    0-based `pos` and `gram` over the docs in the FROM clause `source`
    (a table, optionally with a WHERE). Docs with fewer than n words
    yield no rows."""
    gram = " || ' ' || ".join(f"ws[pos + {off}]" for off in range(n))
    return f"""
        SELECT {keep}, pos - 1 AS pos, {gram} AS gram
        FROM (SELECT {keep}, ws, unnest(range(1, len(ws) - {n - 1} + 1)) AS pos
              FROM (SELECT {keep}, {SQL_WORDS} AS ws FROM {source}))"""
