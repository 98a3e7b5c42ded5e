#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one local Spark session
sized from this host (`nproc` cores, a driver heap that fits its RAM).
Inputs are generated from `--seed` into `.perfbench_work/` under the
repository root and removed at exit.

With `--trace 0` the named workload runs untraced and the last stdout
line carries the end-to-end metrics; with `--trace 1` the traced
per-layer run covers every layer of all three workloads and the last
line carries the per-layer metrics. The line before it is a JSON
record of the host, the seed and the workload-specific figures. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_ingest_batch", "cdc_stream_upsert", "analytics_mix")


def _host_conf() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    # a quarter of RAM, capped: the driver shares the host with other work
    driver_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "host_mem_gb": round(mem_kb / 1024 / 1024, 1),
            "driver_memory": f"{driver_gb}g"}


def _env(work: str, host: dict) -> None:
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python UDF workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["driver_memory"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "debezium_spark")):
        print("perfbench: debezium_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    host = _host_conf()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _env(work, host)
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

    import pyspark

    import adapter
    from probes import Tracer, peak_rss_mb

    ctx = {"work": work, "seed": args.seed, "seconds": args.seconds,
           "cores": host["cores"], "tracer": Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = adapter.get_spark(
            "perfbench", cores=host["cores"],
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                    f"-Xms{host['driver_memory']}",
            })
        ctx["spark"] = spark
        ctx["session_s"] = time.perf_counter() - t0
        if args.trace:
            import traced

            res = traced.run(ctx)
        else:
            import importlib

            res = importlib.import_module(
                {"cdc_ingest_batch": "ingest", "cdc_stream_upsert": "stream",
                 "analytics_mix": "mix"}[args.workload]).run(ctx)
            res["metrics"]["setup_s"] = (ctx["session_s"] + res["setup_s"], "s")
            res["metrics"]["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "pyspark": pyspark.__version__, **host,
                **res.get("info", {})}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        path = os.path.join(ROOT, ".perfbench_out", f"spans-{ctx['tracer'].run_id}.jsonl")
        ctx["tracer"].write(path)
        info["spans_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(info))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
