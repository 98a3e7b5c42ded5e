"""The traced per-layer run: every layer of the benchmark, timed from
outside the package, in one process. Metric names are
`<layer>.<figure>`; README.md maps each to the end-to-end metric and
workload it should move. The ingest job's output and the stream's
deliveries are checked as in the untraced workloads."""

from __future__ import annotations

import ingest
import mix
import stream


def run(ctx) -> dict:
    tr = ctx["tracer"]
    ctx["checked"] = []
    metrics = {"session.get_spark_s": (ctx["session_s"], "s")}
    for name, mod in (("ingest", ingest), ("stream", stream), ("mix", mix)):
        with tr.span(f"trace.{name}"):
            metrics.update(mod.trace(ctx))
    return {"correct": ctx["correct"], "attempted": len(ctx["checked"]),
            "failed": ctx["checked"].count(False), "metrics": metrics}
