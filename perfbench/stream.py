"""cdc_stream_upsert: open-loop change-event delivery into the
manifest-committed latest-state sink.

A generator thread moves pre-staged change-event files into a watched
topic directory on a fixed schedule (RATE files/s for `--seconds`)
that does not slow down when the stream does. A checkpointed
Structured Streaming query merges each micro-batch through the sink.
Keys recur across files, so every epoch reads back and rewrites prior
state. The run then stops the query, compacts the state, lands
BACKLOG more files and resumes from the same checkpoint.

Commit latency of a file = mtime of the manifest of the batch that
read it (from the file source's batch log in the checkpoint) minus
the time it was due to land, so a generator stall counts against the
files it delays. After the run, the final state is compared with
batch `latest_state` over every delivered event; a delivered file
fails when it holds the newest event of a key whose final state is
wrong.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import threading
import time
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

import adapter
import datagen
from probes import StageMeter, pct, wait_jit_idle

ORDERS = 50_000     # keys; ~105k change events over all files
RATE = 10.0         # files landed per second
BACKLOG = 4         # files landed while the query is down after compaction
WARM_EPOCHS = 8     # one file each; the JIT needs several epochs
# the traced run is shorter and warms less, to stay well under 180 s
TRACE_SECONDS = 6
TRACE_WARM_EPOCHS = 3
FLAT = ("key", "op", "seq", "ts_ms", "before_totalprice", "after_totalprice",
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")


def _path(uri: str) -> str:
    return os.path.normpath(unquote(urlparse(uri).path))


def stage(ctx, n_files: int) -> list[str]:
    """Split the change stream of ORDERS generated keys into n_files
    parquet files (seeded split), returned in seeded arrival order."""
    import numpy as np
    from pyspark.sql import functions as F

    spark, work = ctx["spark"], ctx["work"]
    gen = os.path.join(work, "gen")
    os.makedirs(gen)
    rng = np.random.default_rng([ctx["seed"], 11])
    pq.write_table(datagen.orders_table(ORDERS, ORDERS // 10, rng),
                   os.path.join(gen, "orders.parquet"))
    salt = random.Random(ctx["seed"]).randrange(1 << 30)
    staged = os.path.join(work, "staged")
    (adapter.synthesize_cdc_flat(spark, gen)
     .withColumn("file_id", F.pmod(F.xxhash64("key", "seq", F.lit(salt)), F.lit(n_files)))
     .repartition("file_id")
     .write.partitionBy("file_id").parquet(staged))
    files = [glob.glob(os.path.join(staged, f"file_id={i}", "*.parquet"))[0]
             for i in range(n_files)]
    random.Random(ctx["seed"]).shuffle(files)
    return files


class Topic:
    """The watched directory plus the landing record of every file."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path)
        self.landed: dict[str, float] = {}
        self.due: dict[str, float] = {}
        self.late: list[float] = []

    def land(self, src: str, due: float | None = None) -> None:
        dst = os.path.join(self.path, f"f-{len(self.landed):05d}.parquet")
        os.rename(src, dst)  # atomic: the source never sees a partial file
        now = time.time()
        self.landed[dst] = now
        self.due[dst] = now if due is None else due
        self.late.append(now - self.due[dst])

    def deliver(self, files: list[str], rate: float) -> threading.Thread:
        """Land `files` at fixed times t0 + i/rate from a background thread."""
        t0 = time.time()

        def loop():
            for i, src in enumerate(files):
                target = t0 + i / rate
                delay = target - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.land(src, target)

        th = threading.Thread(target=loop, daemon=True)
        th.start()
        return th


def start_query(spark, schema, topic: str, ckpt: str, on_batch):
    return (spark.readStream.schema(schema).format("parquet").load(topic)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update").start())


def batch_of_file(ckpt: str) -> dict[str, int]:
    """File path -> batch id, from the file source's metadata log."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    out[_path(rec["path"])] = int(rec["batchId"])
    return out


def commit_time(state_root: str, batch_id: int) -> float | None:
    m = os.path.join(state_root, "_manifests", f"manifest-{batch_id}.json")
    return os.stat(m).st_mtime_ns / 1e9 if os.path.exists(m) else None


def verify(spark, topic: str, state_root: str) -> dict:
    """Final manifest state against batch latest_state over every
    delivered event; wrong keys are attributed to the file holding the
    key's newest event."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    delivered = spark.read.parquet(topic).withColumn("src", F.input_file_name())
    newest = (delivered
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("key").orderBy(F.desc("seq"))))
              .filter("rn = 1").drop("rn"))
    state = adapter.read_state(spark, state_root).select(*FLAT)
    same = None
    for c in FLAT[1:]:
        eq = F.col(f"e.{c}").eqNullSafe(F.col(f"a.{c}"))
        same = eq if same is None else same & eq
    bad = (newest.alias("e").join(state.alias("a"), "key", "full_outer")
           .filter(~same).select("key", "e.src").collect())
    expected = adapter.latest_state(delivered.drop("src")).select(*FLAT)
    visible = state.filter(F.col("op") != "d")
    return {
        "bad_files": {_path(r["src"]) for r in bad if r["src"]},
        "unattributed": sum(1 for r in bad if not r["src"]),
        "keys_expected": expected.count(),
        "keys_found": visible.count(),
        "keys_wrong": expected.exceptAll(visible).count(),
    }


def _warm(ctx, schema, files: list[str]) -> None:
    """A short stream, one epoch per copied staged file, warms the file
    source, foreachBatch and the merge before the timed run."""
    spark, work = ctx["spark"], ctx["work"]
    topic = Topic(os.path.join(work, "warm-topic"))
    state_root = os.path.join(work, "warm-state")
    q = start_query(spark, schema, topic.path, os.path.join(work, "warm-ckpt"),
                    lambda b, e: adapter.manifest_merge(b, e, state_root))
    for src in files:
        tmp = os.path.join(work, "warm-" + os.path.basename(os.path.dirname(src)))
        shutil.copyfile(src, tmp)
        topic.land(tmp)
        q.processAllAvailable()
    q.stop()
    wait_jit_idle(spark)


def session(ctx, seconds: float, warm_epochs: int, wrap=None) -> dict:
    """Stage, warm, run the open-loop phase and the compaction/resume
    phase, verify. `wrap(merge, state_root)` returns the foreachBatch
    function that calls `merge` (traced run)."""
    spark, work = ctx["spark"], ctx["work"]
    n_live = max(int(RATE * seconds), 1)
    t0 = time.perf_counter()
    files = stage(ctx, n_live + BACKLOG)
    schema = spark.read.parquet(files[0]).schema
    _warm(ctx, schema, files[:warm_epochs])
    setup_s = time.perf_counter() - t0

    topic = Topic(os.path.join(work, "topic"))
    state_root = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    merge = lambda b, e: adapter.manifest_merge(b, e, state_root)  # noqa: E731
    if wrap is not None:
        merge = wrap(merge, state_root)
    errors = 0
    with StageMeter(spark) as live_meter:
        q = start_query(spark, schema, topic.path, ckpt, merge)
        gen = topic.deliver(files[:n_live], RATE)
        gen.join()
        try:
            q.processAllAvailable()
        except Exception:
            errors += 1
        progress = list(q.recentProgress)
        q.stop()
    live_events = sum(pq.read_metadata(f).num_rows for f in topic.landed)
    live_batches = batch_of_file(ckpt)
    latencies, uncommitted = [], set()
    commits = {}
    for f, due in topic.due.items():
        c = commit_time(state_root, live_batches.get(f, -1))
        if c is None:
            uncommitted.add(f)
        else:
            commits[f] = c
            latencies.append(c - due)  # from when the file was due, so stalls count
    state_bytes = sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(state_root, "data", "*", "*")))

    t = time.perf_counter()
    adapter.compact_state(spark, state_root)
    compact_s = time.perf_counter() - t
    for src in files[n_live:]:
        topic.land(src)
    t = time.perf_counter()
    q = start_query(spark, schema, topic.path, ckpt, merge)
    restart_s = time.perf_counter() - t
    try:
        q.processAllAvailable()
    except Exception:
        errors += 1
    resume_s = time.perf_counter() - t
    progress += list(q.recentProgress)
    q.stop()

    v = verify(spark, topic.path, state_root)
    failed_files = v["bad_files"] | uncommitted
    landings = sorted(topic.landed[f] for f in commits)
    backlog = max(sum(1 for f, c in commits.items() if topic.landed[f] <= t_l < c)
                  for t_l in landings)
    return {
        "setup_s": setup_s, "errors": errors, "latencies": latencies,
        "failed": len(failed_files) + errors, "attempted": len(topic.landed),
        "correct": v["unattributed"] == 0, "verify": v, "progress": progress,
        "landed": topic.landed, "late": topic.late,
        "backlog_max": backlog, "state_bytes": state_bytes, "compact_s": compact_s,
        "restart_s": restart_s, "resume_s": resume_s, "batches": batch_of_file(ckpt),
        "cpu_s_per_mevent": live_meter.totals["executor_cpu_ns"] / 1e9 / live_events * 1e6,
    }


def run(ctx) -> dict:
    r = session(ctx, ctx["seconds"], WARM_EPOCHS)
    v = r["verify"]
    p50, p90 = pct(r["latencies"], 0.5) * 1000, pct(r["latencies"], 0.9) * 1000
    return {
        "setup_s": r["setup_s"], "correct": r["correct"],
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {"cpu_s_per_mevent": (r["cpu_s_per_mevent"], "s")},
        "info": {"commit_latency_p50_ms": p50, "commit_latency_p90_ms": p90,
                 "resume_catchup_s": r["resume_s"], "deliveries": r["attempted"],
                 "ops_failed_ratio": r["failed"] / r["attempted"],
                 "generator_late_ms_max": max(r["late"]) * 1000,
                 "backlog_files_max": r["backlog_max"],
                 "keys_expected": v["keys_expected"], "keys_found": v["keys_found"],
                 "keys_wrong": v["keys_wrong"]},
    }


def trace(ctx) -> dict:
    """The same session with a benchmark-side foreachBatch wrapper that
    times each merge and reads, from the manifests and parquet footers,
    how many buckets it touched and how many state rows it read back."""
    epochs: dict[int, dict] = {}

    def wrap(merge, state_root):
        mdir = os.path.join(state_root, "_manifests")

        def pointers(epoch: int) -> dict:
            path = os.path.join(mdir, f"manifest-{epoch}.json")
            if not os.path.exists(path):
                return {}
            with open(path) as fh:
                return json.load(fh)["buckets"]

        def traced(batch, epoch_id):
            t0 = time.time()
            prev = pointers(epoch_id - 1)
            t1 = time.time()
            merge(batch, epoch_id)
            t2 = time.time()
            touched = [b for b, d in pointers(epoch_id).items() if d == f"e{epoch_id}"]
            dirs = {prev[b] for b in touched if b in prev}
            rows_read = sum(pq.read_metadata(f).num_rows for d in dirs
                            for f in glob.glob(os.path.join(state_root, "data", d, "*.parquet")))
            epochs[epoch_id] = {"start": t1, "merge_s": t2 - t1, "touched": len(touched),
                                "rows_read": rows_read, "extra_s": (t1 - t0) + (time.time() - t2)}

        return traced

    with ctx["tracer"].span("stream.session"):
        r = session(ctx, min(ctx["seconds"], TRACE_SECONDS), TRACE_WARM_EPOCHS, wrap)
    ctx["checked"] += [True] * (r["attempted"] - r["failed"]) + [False] * r["failed"]
    ctx["correct"] = r["correct"]
    progress = {p["batchId"]: p for p in (json.loads(q.json) for q in r["progress"])}
    live = sorted(set(r["batches"][f] for f in r["landed"] if f in r["batches"]))
    live = [e for e in live if e in epochs and epochs[e]["touched"]]
    rows_in = {e: progress[e]["numInputRows"] for e in live if e in progress}
    merge_ms = [epochs[e]["merge_s"] * 1000 for e in live]
    waits = [(epochs[r["batches"][f]]["start"] - t) * 1000 for f, t in r["landed"].items()
             if r["batches"].get(f) in live]
    trig = [progress[e]["durationMs"]["triggerExecution"] - epochs[e]["merge_s"] * 1000
            for e in live if e in progress]
    return {
        "stream.commit_latency_ms_p50": (pct(r["latencies"], 0.5) * 1000, "ms"),
        "stream.commit_latency_ms_p90": (pct(r["latencies"], 0.9) * 1000, "ms"),
        "stream.merge_ms_p50": (pct(merge_ms, 0.5), "ms"),
        "stream.merge_ms_p90": (pct(merge_ms, 0.9), "ms"),
        "stream.trigger_overhead_ms_p50": (pct(trig, 0.5), "ms"),
        "stream.queue_wait_ms_p50": (pct(waits, 0.5), "ms"),
        "stream.buckets_touched_mean": (sum(epochs[e]["touched"] for e in live) / len(live), "count"),
        "stream.state_rows_read_per_input_row": (
            sum(epochs[e]["rows_read"] for e in rows_in) / max(sum(rows_in.values()), 1), "ratio"),
        "stream.epochs": (len(progress), "count"),
        "stream.empty_epochs": (sum(1 for p in progress.values() if not p["numInputRows"]), "count"),
        "stream.backlog_files_max": (r["backlog_max"], "count"),
        "stream.generator_late_ms_max": (max(r["late"]) * 1000, "ms"),
        "stream.state_bytes": (r["state_bytes"], "bytes"),
        "stream.compact_s": (r["compact_s"], "s"),
        "stream.restart_s": (r["restart_s"], "s"),
        "stream.resume_catchup_s": (r["resume_s"], "s"),
        "stream.trace_overhead_ratio": (
            1 + sum(epochs[e]["extra_s"] for e in live) / (sum(merge_ms) / 1000), "ratio"),
    }
