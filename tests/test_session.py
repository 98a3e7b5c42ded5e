"""Session construction: Python UDF workers import the checkout that
built the session, from any working directory."""

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
