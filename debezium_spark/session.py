"""SparkSession construction tuned for the CDC/analytics workload.

Scale notes (100 TB / 1000 executors): every setting here is chosen to
be correct under `local[N]` *and* on a real cluster — AQE owns runtime
partition coalescing and skew-join splitting, so the static
`shuffle.partitions` is only an upper bound; broadcast threshold is
left at Spark's default so dimension tables broadcast automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "debezium-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - UTC session timezone: required for DuckDB-oracle parity (DuckDB
      timestamps are naive/UTC).
    - AQE on: runtime coalescing of small shuffle partitions and
      skew-join splitting — the scale path for hot CDC keys.
    - Arrow on: every Pandas-UDF boundary is Arrow-batched.
    - Sized to the host: `cores` defaults to the CPUs this process may
      run on and `spark.driver.memory` to half of physical RAM
      (SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override both).
    - Python UDF workers import this checkout: its root goes on the
      PYTHONPATH the JVM inherits when it starts.
    """
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, *paths) if p)
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(int(cores), 8))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{half_ram_mb}m"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # RAM-backed shuffle/spill: the sandbox's shared disk is the
        # contention point under local[32]; on a real cluster this
        # maps to NVMe-backed local dirs per executor.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
