"""cdc_ingest_batch: closed-loop batch CDC ingest jobs.

One job = scan the staged multi-file orders -> synthesize the change
stream -> SMT chain (filter, content router, mask) -> latest state ->
compacted sink. Jobs run back to back for `--seconds`; each writes its
own output directory, and every output is checked against DuckDB
after the timed window.
"""

from __future__ import annotations

import os
import random
import time

import duckdb

import adapter
import datagen
from probes import StageMeter, catalyst_ms, noop, pct, wait_jit_idle

SF = 0.1            # generated orders: 150k rows
REPLICATION = 2     # staged input: 300k orders -> ~630k change events
STAGED_FILES = 16
# A fresh JVM spends ~60 s of CPU in its JIT over the first jobs, and
# with every core running tasks the compiler threads lag: task CPU per
# job settles from about the 5th job, wall time from about the 7th. The
# traced run warms less; its layer figures carry no bound.
WARM_JOBS = 5
TRACE_WARM_JOBS = 2

ROUTES_SQL = ("CASE WHEN o_orderpriority = '1-URGENT' THEN 'orders.urgent' "
              "WHEN o_orderpriority = '2-HIGH' THEN 'orders.high' ELSE 'orders.normal' END")
CHECK_COLS = "key, o_totalprice, o_custkey, o_orderstatus, o_orderpriority, seq, topic"


def stage(ctx) -> str:
    """Write REPLICATION copies of the generated orders as a multi-file
    `orders.parquet` directory; the seed salts which replica gets which
    key."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([ctx["seed"], 7])
    orders = datagen.orders_table(int(1_500_000 * SF), int(150_000 * SF), rng)
    salt = random.Random(ctx["seed"]).randrange(REPLICATION)
    base = orders.column("o_orderkey").to_numpy()
    reps = []
    for r in range(REPLICATION):
        key = base * REPLICATION + (r + salt) % REPLICATION
        reps.append(orders.set_column(0, "o_orderkey", pa.array(key)))
    table = pa.concat_tables(reps)
    staged = os.path.join(ctx["work"], "ingest")
    step = -(-table.num_rows // STAGED_FILES)
    out = os.path.join(staged, "orders.parquet")
    os.makedirs(out)
    for i in range(STAGED_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:03d}.parquet"))
    return staged


def smt_chain(cdc):
    from pyspark.sql import functions as F

    s = adapter.smt
    out = s.filter_smt(cdc, F.col("o_orderstatus") != "P")
    out = s.content_based_router(
        out,
        [(F.col("o_orderpriority") == "1-URGENT", "orders.urgent"),
         (F.col("o_orderpriority") == "2-HIGH", "orders.high")],
        "orders.normal")
    return s.mask_columns(out, ["o_custkey"])


def job(spark, staged: str, out_dir: str) -> None:
    cdc = adapter.synthesize_cdc_flat(spark, staged)
    adapter.sink_compacted(adapter.latest_state(smt_chain(cdc)), out_dir)


def _duck(staged: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{staged}/orders.parquet/*.parquet')")
    return con


def event_count(con) -> int:
    return con.execute(
        "SELECT sum(1 + (o_orderkey * 2654435761) % 3 "
        "+ CASE WHEN (o_orderkey * 40503) % 10 = 0 THEN 1 ELSE 0 END) FROM orders"
    ).fetchone()[0]


def check(con, out_dirs: list[str]) -> list[bool]:
    """True per output whose row count and order-independent row-hash
    sum equal those of the DuckDB oracle: the latest-state oracle SQL
    over the same staged orders, with the SMTs applied."""
    digest = f"SELECT count(*), sum(hash({CHECK_COLS})) FROM "
    expected = con.execute(digest + f"""(
        SELECT key, o_totalprice, md5(CAST(o_custkey AS VARCHAR)) AS o_custkey,
               o_orderstatus, o_orderpriority, seq, {ROUTES_SQL} AS topic
        FROM ({adapter.LATEST_STATE_ORACLE}) WHERE o_orderstatus <> 'P')""").fetchone()
    return [con.execute(digest + f"""(
        SELECT key, after_totalprice AS o_totalprice, o_custkey, o_orderstatus,
               o_orderpriority, seq, topic FROM read_parquet('{d}/*.parquet'))""").fetchone()
            == expected for d in out_dirs]


def run(ctx) -> dict:
    spark, work = ctx["spark"], ctx["work"]
    t0 = time.perf_counter()
    staged = stage(ctx)
    t_stage = time.perf_counter() - t0
    for i in range(WARM_JOBS):
        job(spark, staged, os.path.join(work, f"sink-warm{i}"))
    wait_jit_idle(spark)
    setup_s = time.perf_counter() - t0

    walls, cpus, outs, errors = [], [], [], 0
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx["seconds"] or len(outs) < 3:
        out = os.path.join(work, f"sink-{len(outs)}")
        try:
            with StageMeter(spark) as m:
                t = time.perf_counter()
                job(spark, staged, out)
                walls.append(time.perf_counter() - t)
        except Exception:
            errors += 1
            outs.append(None)
            continue
        cpus.append(m.totals["executor_cpu_ns"] / 1e9)
        outs.append(out)

    t_check = time.perf_counter()
    con = _duck(staged)
    events = event_count(con)
    ok = check(con, [d for d in outs if d])
    t_check = time.perf_counter() - t_check
    failed = errors + ok.count(False)
    p50 = pct(walls, 0.5)
    return {
        "setup_s": setup_s,
        "correct": True,
        "attempted": len(outs),
        "failed": failed,
        "metrics": {"cpu_s_per_mevent": (pct(cpus, 0.5) / events * 1e6, "s")},
        "info": {"events_per_job": events, "jobs": len(outs), "walls": walls, "cpus": cpus,
                 "latency_p50_ms": p50 * 1000, "latency_p90_ms": pct(walls, 0.9) * 1000,
                 "ingest_events_per_s": events / p50,
                 "ops_failed_ratio": failed / len(outs),
                 "stage_s": t_stage, "warm_s": setup_s - t_stage, "check_s": t_check},
    }


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def trace(ctx) -> dict:
    """Per-layer split of one ingest job: cumulative noop actions
    (scan, +synthesis, +SMT, +latest_state, +sink); a layer's self time
    is the difference between consecutive steps (faster of two reps).
    The tracer's overhead is the meter's bookkeeping time over the
    metered wall time."""
    spark, work, tr = ctx["spark"], ctx["work"], ctx["tracer"]
    with tr.span("ingest.stage"):
        staged = stage(ctx)
    for i in range(TRACE_WARM_JOBS):
        job(spark, staged, os.path.join(work, f"sink-warm{i}"))

    cdc = lambda: adapter.synthesize_cdc_flat(spark, staged)  # noqa: E731
    steps = [
        ("scan", lambda _: noop(spark.read.parquet(os.path.join(staged, "orders.parquet")))),
        ("synth", lambda _: noop(cdc())),
        ("smt", lambda _: noop(smt_chain(cdc()))),
        ("latest_state", lambda _: noop(adapter.latest_state(smt_chain(cdc())))),
        ("sink", lambda i: adapter.sink_compacted(
            adapter.latest_state(smt_chain(cdc())), os.path.join(work, f"sink-t{i}"))),
    ]
    wall, meter, cost = {}, {}, 0.0
    for name, fn in steps:
        for i in range(2):
            with tr.span(f"ingest.step.{name}"), StageMeter(spark) as m:
                t = time.perf_counter()
                fn(i)
                dt = time.perf_counter() - t
            cost += m.cost_s
            if name not in wall or dt < wall[name]:
                wall[name], meter[name] = dt, m.totals

    con = _duck(staged)
    events = event_count(con)
    ctx["checked"].append(check(con, [os.path.join(work, "sink-t1")])[0])
    smt_df = smt_chain(cdc())
    state = adapter.latest_state(smt_df)
    rows_out = smt_df.count()
    keys = state.count()
    ls = meter["latest_state"]
    full = meter["sink"]
    cpu_s = full["executor_cpu_ns"] / 1e9
    return {
        "tables.scan_s": (wall["scan"], "s"),
        "tables.input_bytes": (_du(os.path.join(staged, "orders.parquet")), "bytes"),
        "envelope.synth_self_s": (wall["synth"] - wall["scan"], "s"),
        "envelope.events_out": (events, "count"),
        "transforms.smt_self_s": (wall["smt"] - wall["synth"], "s"),
        "transforms.rows_in": (events, "count"),
        "transforms.rows_out": (rows_out, "count"),
        "materialize.latest_state_self_s": (wall["latest_state"] - wall["smt"], "s"),
        "materialize.shuffle_write_bytes": (ls["shuffle_write_bytes"], "bytes"),
        "materialize.shuffle_bytes_per_event": (ls["shuffle_write_bytes"] / events, "bytes"),
        "materialize.spill_bytes": (ls["memory_spill_bytes"] + ls["disk_spill_bytes"], "bytes"),
        "materialize.keys_out": (keys, "count"),
        "ingest.job_s": (wall["sink"], "s"),
        "sinks.sink_self_s": (wall["sink"] - wall["latest_state"], "s"),
        "sinks.bytes_written": (_du(os.path.join(work, "sink-t1")), "bytes"),
        "ingest.catalyst_ms": (catalyst_ms(state), "ms"),
        "ingest.executor_cpu_s": (cpu_s, "s"),
        "ingest.cpu_busy_ratio": (cpu_s / (wall["sink"] * ctx["cores"]), "ratio"),
        "ingest.trace_overhead_ratio": (1 + cost / sum(wall.values()), "ratio"),
    }
