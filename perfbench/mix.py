"""analytics_mix: one client running a fixed mix of headline queries
back to back over the generated tables.

The first pass collects every query's rows (warm-up; the rows are
checked against the query's DuckDB oracle after the timed window).
Timed passes then force each query with the noop sink until
`--seconds` have passed (at least one pass). Caches a query leaves
behind are counted, then cleared, between queries.
"""

from __future__ import annotations

import os
import time

import duckdb

import adapter
import datagen
from probes import StageMeter, catalyst_ms, noop, pct, wait_jit_idle

SF = 0.01
SMALL_SF = 0.001
# One headline query from six operators modules plus a dialect
# round-trip. Each query costs three executions in the traced run
# (warm, sf0.01, sf0.001); more would push that run toward 180 s on a
# 4-core host, so similarity, pipeline and multimodal are left out.
MIX = (
    "q1_pricing_summary",          # operators.tpch
    "sessionize_events",           # operators.analytics
    "dedup_minhash_lsh",           # operators.dedup
    "tfidf_topterms",              # operators.text
    "hll_distinct_users",          # operators.sketches
    "sqlserver_cdc_roundtrip",     # sources.dialects
)


def generate(ctx, sf: float, name: str) -> str:
    d = os.path.join(ctx["work"], name)
    datagen.generate(d, sf, ctx["seed"], adapter.TABLES)
    return d


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def warm_pass(spark, qs, sf_dir: str) -> dict:
    """Collect every query once: warms the JVM and keeps the rows
    (and Arrow schema) for the oracle check."""
    out = {}
    for name in MIX:
        try:
            df = qs[name](spark, sf_dir)
            out[name] = (df.columns, [tuple(r) for r in df.collect()],
                         df.limit(0).toArrow().schema)
        except Exception as e:  # counted as a failed query
            out[name] = e
        spark.catalog.clearCache()
    return out


def check(sf_dir: str, results: dict) -> dict[str, bool]:
    oracles = adapter.oracle_sql()
    con = duckdb.connect()
    for t in adapter.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = {}
    for name, res in results.items():
        if isinstance(res, Exception):
            ok[name] = False
            continue
        cols, rows, schema = res
        o = con.execute(oracles[name]).arrow()
        orows = [tuple(o.column(c)[i].as_py() for c in o.column_names)
                 for i in range(o.num_rows)]
        ok[name] = (not adapter.dtype_mismatches(schema, o.schema)
                    and sorted(cols) == sorted(o.column_names)
                    and adapter.canon(rows, cols) == adapter.canon(orows, o.column_names))
    return ok


def run(ctx) -> dict:
    spark = ctx["spark"]
    qs = adapter.queries()
    t0 = time.perf_counter()
    sf_dir = generate(ctx, SF, "sf")
    results = warm_pass(spark, qs, sf_dir)
    wait_jit_idle(spark)
    setup_s = time.perf_counter() - t0

    walls = {name: [] for name in MIX}
    errors: set[str] = set()
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < ctx["seconds"]:
        for name in MIX:
            t = time.perf_counter()
            try:
                noop(qs[name](spark, sf_dir))
                walls[name].append(time.perf_counter() - t)
            except Exception:
                errors.add(name)
            spark.catalog.clearCache()
        passes += 1

    ok = check(sf_dir, results)
    failed = sorted(errors | {n for n, good in ok.items() if not good})
    timed = [n for n in MIX if walls[n]]
    p50 = sum(pct(walls[n], 0.5) for n in timed)
    p90 = sum(pct(walls[n], 0.9) for n in timed)
    return {
        "setup_s": setup_s, "correct": True,
        "attempted": len(MIX), "failed": len(failed),
        "metrics": {"mix_pass_s": (p50, "s")},
        "info": {"mix_pass_p90_s": p90, "passes": passes, "failed_queries": failed,
                 "ops_failed_ratio": len(failed) / len(MIX)},
    }


def trace(ctx) -> dict:
    """Per query: Python build time, Catalyst phases, execution time at
    SF and SMALL_SF, shuffle bytes, and caches left behind."""
    spark, tr = ctx["spark"], ctx["tracer"]
    qs = adapter.queries()
    with tr.span("mix.generate"):
        dirs = {"": generate(ctx, SF, "sf"), "_small": generate(ctx, SMALL_SF, "sf_small")}
    with tr.span("mix.warm"):  # compiles each query's code paths; size is immaterial
        for name in MIX:
            noop(qs[name](spark, dirs["_small"]))
            spark.catalog.clearCache()
        wait_jit_idle(spark)
    out = {}
    probe_s = run_s = 0.0
    for name in MIX:
        with tr.span(f"mix.{name}"):
            for suffix, d in dirs.items():
                t = time.perf_counter()
                df = qs[name](spark, d)
                build = time.perf_counter() - t
                t = time.perf_counter()
                cat = 0.0 if suffix else catalyst_ms(df)
                probe_s += time.perf_counter() - t  # the planning probe is tracer overhead
                with StageMeter(spark) as m:
                    t = time.perf_counter()
                    noop(df)
                    exec_s = time.perf_counter() - t
                probe_s += m.cost_s
                run_s += build + exec_s
                out[f"mix.{name}.exec_s{suffix}"] = (exec_s, "s")
                if not suffix:
                    out[f"mix.{name}.build_s"] = (build, "s")
                    out[f"mix.{name}.catalyst_ms"] = (cat, "ms")
                    out[f"mix.{name}.shuffle_bytes"] = (m.totals["shuffle_write_bytes"], "bytes")
                    out[f"mix.{name}.persisted_rdds_after"] = (persisted_rdds(spark), "count")
                spark.catalog.clearCache()
    out["mix.trace_overhead_ratio"] = (1 + probe_s / run_s, "ratio")
    return out
