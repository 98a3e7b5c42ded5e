"""Skew-handling helpers: salted two-phase aggregation.

AQE's skew-join splitting covers joins; for aggregations over a
pathologically hot key, pre-salting splits the hot partition across
the cluster: phase 1 aggregates on (key, salt), phase 2 merges the
partials. Works for any algebraic aggregate (sum/count/min/max).
At 100 TB this is the difference between one straggler executor and
an even shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_spark.functions.rounding import sql_to_units, to_units


def salted_sum_count(df: DataFrame, key: str, value: str) -> DataFrame:
    """Two-phase sum/count per key via salting. The salt derives from
    a cheap hash of the full row id-space (monotonically varied), so
    a hot key's rows spread over 16 reducers."""
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(value)), F.lit(16)))
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(value).alias("__psum"), F.count(F.lit(1)).alias("__pcnt")
    )
    return partial.groupBy(key).agg(
        F.sum("__psum").alias(f"sum_{value}"),
        F.sum("__pcnt").alias("n"),
    )


def salted_hot_key_agg_q(spark, sf_dir: str) -> DataFrame:
    """Oracle-gated demonstration over the events stream, whose
    5-value event_type key space makes every key hot: phase-1
    aggregates on (key, salt), phase-2 merges partials — the straggler
    killer for skewed 100 TB aggregations. Values are scaled to
    integer cents before summation (exact integer arithmetic) so the
    two-phase reorder is bit-identical to the oracle's single-phase
    sum."""
    from debezium_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        to_units(F.col("value"), 2).alias("value_cents"),
    )
    return (
        salted_sum_count(cents, "event_type", "value_cents")
        .select(
            "event_type",
            F.col("sum_value_cents").alias("sum_cents"),
            "n",
        )
        .orderBy("event_type")
    )


ORACLES: dict[str, str] = {
    "salted_hot_key_agg": f"""
        SELECT event_type,
               CAST(sum({sql_to_units("value", 2)}) AS BIGINT) AS sum_cents,
               count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type
    """,
}

QUERIES = {
    "salted_hot_key_agg": salted_hot_key_agg_q,
}


# --------------------------------------------------------------------------
# Salted skew JOIN: for a fact⋈dim join where a handful of fact keys
# dominate (and the dim side is too big to broadcast outright), salt
# the fact side with a per-row shard and REPLICATE each dim row across
# all shards. The hot key's rows then land on n_salts reducers instead
# of one straggler. (AQE's skew-join split handles this adaptively
# when stats surface it; explicit salting is the deterministic
# fallback for known-hot keys and for non-AQE engines.)
# --------------------------------------------------------------------------
def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Inner-join fact⋈dim on `key` with the shuffle spread over
    (key, salt). Result is row-identical to the plain join."""
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(n_salts))
    )
    replicated_dim = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast(
            "array<bigint>")),
    )
    return salted_fact.join(replicated_dim, [key, "__salt"]).drop("__salt")


def salted_skew_join_q(spark, sf_dir: str) -> DataFrame:
    """Gate: events (hot 5-value event_type space) salted-joined to a
    tiny per-type dimension built from the same table; the aggregate
    must equal the plain-join oracle exactly (integer-cents values)."""
    from debezium_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        to_units(F.col("value"), 2).alias("cents"),
    )
    dim = (
        e.groupBy("event_type")
        .agg(F.min("user_id").alias("first_user"))
        .withColumn("type_tag", F.upper("event_type"))
    )
    j = salted_join(e, dim, "event_type")
    return (
        j.groupBy("event_type", "type_tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("first_user").alias("first_user"),
        )
        .orderBy("event_type")
    )


ORACLES["salted_skew_join"] = f"""
    WITH e AS (SELECT event_type, user_id,
                      {sql_to_units("value", 2)} AS cents
               FROM events),
    dim AS (SELECT event_type, min(user_id) AS first_user,
                   upper(event_type) AS type_tag
            FROM e GROUP BY event_type)
    SELECT e.event_type, dim.type_tag, count(*) AS n,
           CAST(sum(e.cents) AS BIGINT) AS sum_cents,
           min(dim.first_user) AS first_user
    FROM e JOIN dim USING (event_type)
    GROUP BY e.event_type, dim.type_tag ORDER BY e.event_type
"""
QUERIES["salted_skew_join"] = salted_skew_join_q
