"""The benchmark's only door into `debezium_spark`.

Every call the benchmark makes into the package goes through this
file, so a rename inside the package (sink internals, query registry)
is fixed here and nowhere else. Public functions are used where they
exist; the three streaming-sink internals below have no public
equivalent that can run an open-loop (non-blocking) stream.
"""

from __future__ import annotations

import __spark_entry__ as entry
from debezium_spark.cdc import transforms as smt
from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import ORACLES as _MATERIALIZE_ORACLES
from debezium_spark.cdc.materialize import latest_state
from debezium_spark.session import get_spark
from debezium_spark.sources.sinks import sink_compacted
from debezium_spark.sources.tables import TABLES
from debezium_spark.streaming import ingest as _ingest
from tools.check_oracle import canon, dtype_mismatches

__all__ = [
    "LATEST_STATE_ORACLE", "TABLES", "canon", "compact_state",
    "dtype_mismatches", "get_spark", "latest_state", "manifest_merge",
    "oracle_sql", "queries", "read_state", "sink_compacted", "smt",
    "synthesize_cdc_flat",
]

# CDC_FLAT_SQL (the DuckDB twin of the synthesis) + latest state per key
LATEST_STATE_ORACLE = _MATERIALIZE_ORACLES["cdc_latest_state"]


def queries():
    return entry.queries()


def oracle_sql():
    return entry.oracle_sql()


def manifest_merge(batch, epoch_id: int, state_root: str) -> None:
    """One epoch of the manifest-committed latest-state sink."""
    _ingest._manifest_merge_batch(batch, epoch_id, state_root, 16, "key", "seq", None)


def read_state(spark, state_root: str):
    """Latest committed manifest state (tombstone rows included)."""
    return _ingest.read_manifest_state(spark, state_root)


def compact_state(spark, state_root: str) -> None:
    _ingest.compact_manifest_state(spark, state_root)
