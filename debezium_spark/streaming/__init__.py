from debezium_spark.streaming.ingest import ORACLES, QUERIES  # noqa: F401
