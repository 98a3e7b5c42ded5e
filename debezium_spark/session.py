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
GB RSS, so peak RSS followed eden rather than the CDC state. Batch
jobs do not need G1's short pauses.

Parallel alone still gives the young generation a third of the heap
(1 GB of 3 GB), and a run touches all of eden before its first young
collection, so eden stayed the largest part of peak RSS while the old
generation held 165–343 MB. A session given an initial heap (`-Xms`,
as perfbench's 3 GB is) therefore gets a young generation of 64 MB per
core (`-Xmn`), capped at a third of the heap. On 4 cores
`cdc_stream_upsert` peaked at ≈1.25 GB instead of ≈1.75 GB and
`cdc_ingest_batch` at ≈1.66 GB instead of ≈2.19 GB (medians of 20
seeds), for about three times as many young collections (0.1–0.4 s
more young-GC time per run), with `cpu_s_per_mevent` inside its bound
(ingest +1.6% in the median, within its spread). A smaller young generation promotes task buffers
early into the old one: on 4 cores at 128 MB `cdc_ingest_batch` peaked
at ≈2.0 GB again, and 384 MB saved nothing more. On 2 cores (128 MB)
the workloads peaked at ≈1.03 GB (stream) and ≈1.33 GB (ingest)
instead of ≈1.75 GB and ≈2.07 GB; there 64 MB suited the stream best
(≈0.99 GB) and 256 MB the ingest (≈1.30 GB), each within 6% of the
rule. Only 2 and 4 cores with a 3 GB heap were measured.

Without an initial heap the old generation starts nearly empty, and
beside a fixed young generation it grows only through full
collections: over four `bench.py` runs at sf0.01 on 4 cores the driver
made 30–36 full collections instead of 10–11 and spent 8.4–9.5 s in
GC instead of 2.8–3.3 s. Such sessions keep the JVM's own sizing.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# Spark's size suffixes (a trailing "b" alone means bytes)
_MB_PER_UNIT = {"b": 2**-20, "k": 2**-10, "m": 1, "g": 2**10, "t": 2**20, "p": 2**30}


def _mb(size) -> float | None:
    """A Spark memory size ("512m", "3g", "1073741824b"; no unit means
    MB, as for `spark.driver.memory`) in MB, or None if unreadable."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)(b?)", str(size).strip().lower())
    if m is None:
        return None
    n, unit, b = m.groups()
    return int(n) * _MB_PER_UNIT[unit or b or "m"]


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
    - With the collector comes `-Xmn`, a young generation of 64 MB per
      core, when the caller's Java options give an initial heap
      (`-Xms`) and that size is under a third of the resolved
      `spark.driver.memory` (a smaller heap keeps the JVM's default
      third). It is left out when those options size the young
      generation (`-Xmn`, `-XX:NewSize`, `-XX:MaxNewSize`,
      `-XX:NewRatio`). The module docstring gives the measurements
      behind the size and the `-Xms` condition.
    """
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, *paths) if p)
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    half_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(int(cores), 8))))

    extra_conf = extra_conf or {}
    driver_memory = extra_conf.get(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{half_ram_mb}m"))

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
        .config("spark.driver.memory", driver_memory)
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
    java_opts = " ".join((extra_conf.get("spark.driver.extraJavaOptions", ""),
                          os.environ.get("JAVA_TOOL_OPTIONS", "")))
    if not re.search(r"-XX:\+Use\w*GC\b", java_opts):
        gc_opts = "-XX:+UseParallelGC"
        young_mb = 64 * int(cores)
        if (young_mb < (_mb(driver_memory) or 0) / 3
                and re.search(r"-Xms\d", java_opts)
                and not re.search(r"-Xmn|-XX:(Max)?NewSize=|-XX:NewRatio=", java_opts)):
            gc_opts += f" -Xmn{young_mb}m"
        builder = builder.config("spark.driver.defaultJavaOptions", gc_opts)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
