"""Session construction: Python UDF workers import the checkout that
built the session, from any working directory, and the driver JVM runs
the Parallel collector unless the caller picks one."""

import os
import subprocess
import sys

from conftest import ROOT, SF_DIR

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
