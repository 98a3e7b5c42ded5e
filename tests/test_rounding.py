"""The Spark-side rounding helpers agree with their DuckDB twins, the
builders every oracle calls, on decimal ties."""

import duckdb
import pyspark.sql.functions as F
import pytest

from debezium_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
    sql_to_units,
    to_units,
)

# (value, its cents): 1.005 is stored as 1.00499999..., so without the
# nudge it would round to 100 cents
TIES = [
    (1.005, 101),
    (0.125, 13),
    (2.675, 268),
    (8.345, 835),
    (0.285, 29),
    (1234.565, 123457),
]


@pytest.mark.parametrize("x,cents", TIES)
def test_spark_and_duckdb_round_ties_alike(spark, x, cents):
    got = spark.createDataFrame([(x,)], "x double").select(
        to_units(F.col("x"), 2).alias("cents"),
        round_half_up(F.col("x"), 2).alias("r2"),
    ).first()
    want = duckdb.sql(
        f"SELECT {sql_to_units('x', 2)} AS cents,"
        f" {sql_round_half_up('x', 2)} AS r2"
        f" FROM (SELECT CAST({x!r} AS DOUBLE) AS x)"
    ).fetchone()
    assert (got["cents"], got["r2"]) == want
    assert got["cents"] == cents
