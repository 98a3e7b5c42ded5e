"""SparkSession construction tuned for the CDC/analytics workload.

Scale notes (100 TB / 1000 executors): every setting here is chosen to
be correct under `local[N]` *and* on a real cluster — AQE owns runtime
partition coalescing and skew-join splitting, so the static
`shuffle.partitions` is only an upper bound; broadcast threshold is
left at Spark's default so dimension tables broadcast automatically.

The driver JVM runs the Parallel ("throughput") collector unless the
caller picks one. The JDK's default, G1, sizes its young generation to
meet a pause-time goal: in a `cdc_stream_upsert` benchmark run (4
cores, 3 GB heap) it grew young to ≈1.6 GB and the JVM peaked at ≈2.9
GB RSS, so peak RSS followed eden rather than the CDC state. Under
Parallel, which fixes the young generation at a third of the heap, the
same run kept at most 165 MB in the old generation and the JVM peaked
at ≈1.6 GB. Batch jobs do not need G1's short pauses.
"""

from __future__ import annotations

import os
import re

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
    - The driver JVM gets `-XX:+UseParallelGC` through
      `spark.driver.defaultJavaOptions`, which Spark puts in front of
      `spark.driver.extraJavaOptions`, unless the caller's
      `spark.driver.extraJavaOptions` (in `extra_conf`) or
      JAVA_TOOL_OPTIONS already select a collector: a JVM given two
      will not start, and the caller's choice wins. A caller's own
      `spark.driver.defaultJavaOptions` replaces this one.
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
        # RAM-backed shuffle/spill keeps the local-mode exchange off a
        # shared disk; on a real cluster this maps to NVMe-backed local
        # dirs per executor.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    extra_conf = extra_conf or {}
    java_opts = " ".join((extra_conf.get("spark.driver.extraJavaOptions", ""),
                          os.environ.get("JAVA_TOOL_OPTIONS", "")))
    if not re.search(r"-XX:\+Use\w*GC\b", java_opts):
        builder = builder.config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
