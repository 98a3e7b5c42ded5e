"""Measurement helpers that look at Spark from outside the package.

- `Tracer`: named spans (start, end, parent) that share one run id,
  kept in memory and written out once when the run ends.
- `StageMeter`: per-stage task metrics (shuffle, spill, input, CPU)
  summed over the stages a block of work added to the SparkContext
  status store. Works with the UI disabled.
- `catalyst_ms`: analysis + optimization + planning time of one
  DataFrame, from its QueryExecution phase tracker.
- `peak_rss_mb`: VmHWM of the driver JVM plus this Python process.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "executor_cpu_ns": "executorCpuTime",
    "executor_run_ms": "executorRunTime",
}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"run": self.run_id, "id": idx, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _flush_listener(spark) -> None:
    # task metrics reach the status store through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


class StageMeter:
    """`with StageMeter(spark) as m: ...` then `m.totals` holds the
    summed metrics of every stage attempt started inside the block and
    `m.cost_s` the meter's own bookkeeping time."""

    def __init__(self, spark):
        self.spark = spark
        self.totals: dict[str, int] = {}
        self.cost_s = 0.0

    def _stages(self) -> list:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        seq = sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        return [seq.apply(i) for i in range(seq.length())]

    def _stage_ids(self) -> set[tuple[int, int]]:
        return {(s.stageId(), s.attemptId()) for s in self._stages()}

    def __enter__(self):
        t = time.perf_counter()
        _flush_listener(self.spark)
        self._before = self._stage_ids()
        self.cost_s = time.perf_counter() - t
        return self

    def __exit__(self, *exc):
        t = time.perf_counter()
        _flush_listener(self.spark)
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        totals["stages"] = 0
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in self._before:
                continue
            totals["stages"] += 1
            for key, getter in STAGE_FIELDS.items():
                totals[key] += int(getattr(s, getter)())
        self.totals = totals
        self.cost_s += time.perf_counter() - t
        return False


def noop(df) -> None:
    """Run the whole plan with the noop sink: no driver collect, no output."""
    df.write.format("noop").mode("overwrite").save()


def catalyst_ms(df) -> float:
    """Forces planning, then sums the tracked Catalyst phases (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def wait_jit_idle(spark, quiet_s: float = 1.0, cap_s: float = 5.0) -> None:
    """Let the JVM's JIT finish compiling what the warm pass queued: with
    every core busy running tasks the compiler threads fall behind, and
    jobs keep getting faster for a minute or more. Returns once the JIT's
    total compilation time has not grown for `quiet_s` seconds."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    end = time.perf_counter() + cap_s
    last = mx.getTotalCompilationTime()
    while time.perf_counter() < end:
        time.sleep(quiet_s)
        now = mx.getTotalCompilationTime()
        if now == last:
            return
        last = now


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb("self")) / 1024.0


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
