"""Entry-point contract of the PySpark engine.

`entry(spark)` — flagship query smoke check at sf0.001.
`queries()` — every operator, keyed by name; each callable is
(spark, sf_dir) -> DataFrame.
`oracle_sql()` — matching ANSI SQL for DuckDB (same aliases, same
rounding), one per `queries()` entry.

Both are the union of the `QUERIES`/`ORACLES` dicts of the modules in
`_QUERY_MODULES`, taken in module order; that order carries no
meaning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from debezium_spark.cdc import materialize as _materialize
from debezium_spark.cdc import signals as _signals
from debezium_spark.cdc import transforms as _transforms
from debezium_spark.operators import analytics as _analytics
from debezium_spark.operators import dedup as _dedup
from debezium_spark.operators import multimodal as _multimodal
from debezium_spark.operators import pipeline as _pipeline
from debezium_spark.operators import quality as _quality
from debezium_spark.operators import relational as _relational
from debezium_spark.operators import similarity as _similarity
from debezium_spark.operators import sketches as _sketches
from debezium_spark.operators import text as _text
from debezium_spark.operators import tpch as _tpch
from debezium_spark import streaming as _streaming
from debezium_spark.functions import skew as _skew
from debezium_spark.sources import dialects as _dialects
from debezium_spark.sources import sinks as _sinks
from debezium_spark.cdc import schema_history as _schema_history
from debezium_spark.cdc import converters as _converters

_QUERY_MODULES = [
    _quality, _text, _dedup, _similarity, _pipeline, _multimodal,
    _streaming, _transforms, _materialize, _signals, _relational,
    _analytics, _skew, _dialects, _schema_history, _converters, _sinks,
    _sketches, _tpch,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC latest-state materialization of the synthesized
    change stream at sf0.001 (SURVEY §2 'latest-state
    materialization')."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _materialize.cdc_latest_state_q(spark, "/root/testdata/sf0.001")


def _utc(fn: Callable[[SparkSession, str], DataFrame]):
    """Pin the session timezone before building any plan: the oracle
    comparison (and the CDC timestamp math) assumes UTC; the driver's
    own SparkSession may not set it (the container is UTC, so this is
    defense-in-depth)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _QUERY_MODULES:
        out.update({name: _utc(fn) for name, fn in mod.QUERIES.items()})
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _QUERY_MODULES:
        out.update(mod.ORACLES)
    return out
