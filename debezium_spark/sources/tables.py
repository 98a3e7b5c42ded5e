"""Table registry over the driver-generated parquet star schema.

At 100 TB the facts (lineitem/orders/events) are the big tables; loads
are plain `spark.read.parquet` so Catalyst keeps predicate pushdown,
column pruning and partition pruning — do NOT cache here (caching
defeats pushdown and cannot hold 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
