"""Session construction: Python UDF workers import the checkout that
built the session, from any working directory, and the driver JVM runs
the Parallel collector unless the caller picks one. A session given an
initial heap also gets a young generation of 64 MB per core (at most a
third of the heap) unless the caller sizes it."""

import functools
import json
import os
import subprocess
import sys

import pytest

from conftest import ROOT, SF_DIR
from debezium_spark.session import _mb

SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
import __spark_entry__ as m
from debezium_spark.session import get_spark
spark = get_spark("udf-path", cores=2)
print(len(m.queries()["media_decode_stats"](spark, {SF_DIR!r}).collect()))
"""


def test_udf_workers_import_package_outside_checkout():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd="/", env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0


def test_driver_runs_parallel_collector(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert {bean.getName() for bean in beans} == {"PS Scavenge", "PS MarkSweep"}


G1_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from debezium_spark.session import get_spark
spark = get_spark("g1", cores=1,
                  extra_conf={{"spark.driver.extraJavaOptions": "-XX:+UseG1GC"}})
beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
print(sorted(bean.getName() for bean in beans))
"""


def test_caller_collector_wins():
    # with -XX:+UseParallelGC added too, this JVM would refuse to start
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m"}
    out = subprocess.run([sys.executable, "-c", G1_SCRIPT], cwd="/", env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "G1 Young Generation" in out.stdout.splitlines()[-1]


def young_mb(jvm) -> float:
    """The driver's young generation as its Parallel-collector memory
    pools report it: eden's max (the generation's max less both
    survivor spaces' current sizes) plus the from-survivor space. That
    is the generation's max less the to-space, so never above it,
    though the collector resizes the survivor spaces as it runs."""
    pools = {p.getName(): p.getUsage().getMax()
             for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()}
    return (pools["PS Eden Space"] + pools["PS Survivor Space"]) / 2**20


# the spaces are aligned inside the generation's bounds
SLACK_MB = 1


YOUNG_SCRIPT = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
from debezium_spark.session import get_spark
sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
from test_session import young_mb
spark = get_spark("young", cores=int(sys.argv[1]), extra_conf=json.loads(sys.argv[2]))
print(young_mb(spark._jvm))
"""


@functools.cache
def subprocess_young_mb(cores: int, extra_java: str = "-Xms512m", tool_opts: str = "") -> float:
    """Young-generation MB of a fresh 512m-heap session (with an
    initial heap of the same size unless `extra_java` says otherwise)."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "512m", "JAVA_TOOL_OPTIONS": tool_opts}
    extra = {"spark.driver.extraJavaOptions": extra_java} if extra_java else {}
    out = subprocess.run([sys.executable, "-c", YOUNG_SCRIPT, str(cores), json.dumps(extra)],
                         cwd="/", env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return float(out.stdout.split()[-1])


@pytest.mark.parametrize("cores", [1, 4])
def test_young_generation_fits_task_slots(cores):
    # 64 MB per core, but never above the JVM's own third of the heap:
    # at 4 cores a 512m heap keeps the default (≈170 MB, not 256)
    assert subprocess_young_mb(cores) <= min(64 * cores, 512 / 3) + SLACK_MB


def test_no_initial_heap_keeps_default_young_generation():
    # without -Xms the old generation starts nearly empty, and beside a
    # fixed young generation it would grow only by full collections
    assert subprocess_young_mb(1, extra_java="") > 96


@pytest.mark.parametrize("extra_java, tool_opts", [
    ("-Xms512m -Xmn128m", ""),
    ("-Xms512m", "-XX:NewRatio=3"),
])
def test_caller_young_sizing_wins(extra_java, tool_opts):
    # at 512m and 1 core the package picks 64 MB and the JVM's default
    # is ≈170 MB; the caller's 128 MB lies between the two
    assert subprocess_young_mb(1) <= 64 + SLACK_MB
    assert 96 < subprocess_young_mb(1, extra_java, tool_opts) < 140


@pytest.mark.parametrize("size, mb", [
    ("512m", 512), ("3g", 3072), ("3GB", 3072), ("2048", 2048), (2048, 2048),
    ("1073741824b", 1024), ("1048576k", 1024), ("1p", 2**30),
    ("0.5g", None), ("lots", None),
])
def test_memory_size(size, mb):
    assert _mb(size) == mb
