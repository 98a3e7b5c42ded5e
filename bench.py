"""Benchmark harness: runs the headline queries and prints two JSON lines.

    SPARK_GRAFT_SF_DIR=<test data>/sf0.1 python bench.py

The session is `get_spark("bench")`, sized from the host. An untimed
warm pass runs every headline query at $SPARK_GRAFT_SF_DIR (default
sf0.1) to absorb JIT and codegen startup. Then each query runs two
timed trials at the sibling sf0.01 dir and at $SPARK_GRAFT_SF_DIR; the
two scales separate a query's fixed cost from its per-row cost. A
trial builds the DataFrame (`build_s`), plans it (`catalyst_ms`,
outside the timed wall) and runs it with the noop sink (`exec_s`).

The next-to-last stdout line is the layer record, `{"layers": {sf:
{query: {...}}}}`: both trials' `build_s`, `catalyst_ms` and `exec_s`,
the second trial's shuffle-write and spill bytes, and the RDDs still
persisted once both trials ran (cleared before the next query). The
last line is the summary: `value` is the sum over the queries of the
best trial's `build_s + exec_s` at $SPARK_GRAFT_SF_DIR, with the run's
`cores`, its `peak_rss_mb` (driver JVM plus this process, read before
the session stops) and the driver's collector names (`gc`).
"""

from __future__ import annotations

import json
import os
import time

from perfbench.probes import StageMeter, catalyst_ms, noop, peak_rss_mb, wait_jit_idle

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "topk_parts_per_brand",
    "sessionize_events",
    "events_hourly_window",
    "cdc_stream_sample",
    "cdc_latest_state",
    "cdc_scd2",
    "cdc_incremental_snapshot",
    "cdc_route_topics",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "token_count",
    "quality_score",
    "fingerprint",
    "q13_customer_distribution",
    "q21_waiting_supplier",
    "cohort_retention",
    "training_mixture",
    "stratified_sample",
    "cdc_signal_snapshot",
    "pivot_event_counts",
    "rollup_revenue",
    "dedup_segments",
    "dedup_substring_spans",
    "ann_quantized_topk",
    "unigram_logprob",
    "mixture_weights",
    "sqlserver_cdc_roundtrip",
    "dedup_semantic",
    "tfidf_topterms",
    "chunk_documents",
    "dsir_importance",
    "hll_distinct_users",
    "bloom_decontaminate",
    "weighted_priority_sample",
    "range_join_views_before_purchase",
    "events_sliding_window",
    "window_rank_suite",
    "cdc_compact_retention",
    "cdc_timestamp_router",
    "cms_heavy_hitters",
    "histogram_quantiles",
    "cdc_txn_event_order",
    "bpe_merges",
    "media_decode_stats",
    "bigram_logprob",
    "image_dhash",
    "ibmi_commitment_control",
    "audio_contour",
    "cdc_smt_predicates",
    "cdc_flatten_envelope",
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_potential_promotion",
]
STAGE_KEYS = ("shuffle_write_bytes", "memory_spill_bytes", "disk_spill_bytes")


def sf_of(sf_dir: str) -> float:
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])


def record(spark, query, sf_dir: str) -> dict:
    """Two timed trials of one query at one scale."""
    rec = {"build_s": [], "catalyst_ms": [], "exec_s": []}
    for _ in range(2):
        t = time.perf_counter()
        df = query(spark, sf_dir)
        rec["build_s"].append(round(time.perf_counter() - t, 3))
        rec["catalyst_ms"].append(catalyst_ms(df))
        with StageMeter(spark) as meter:
            t = time.perf_counter()
            noop(df)
            rec["exec_s"].append(round(time.perf_counter() - t, 3))
    rec.update({k: meter.totals[k] for k in STAGE_KEYS})
    rec["persisted_rdds_after"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    return rec


def run_info(spark) -> dict:
    """The session's cores, peak RSS so far and driver collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {"cores": spark.sparkContext.defaultParallelism,
            "peak_rss_mb": round(peak_rss_mb(spark)),
            "gc": sorted(bean.getName() for bean in beans)}


def summary(records: dict, sf: float, run: dict) -> dict:
    times = {name: round(min(map(sum, zip(rec["build_s"], rec["exec_s"]))), 3)
             for name, rec in records.items()}
    return {"metric": "total_runtime", "value": round(sum(times.values()), 3),
            "unit": "sec", "queries": times, "sf": sf, **run}


def main() -> None:
    import __spark_entry__ as entrymod
    from debezium_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    small_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    spark = get_spark("bench")
    qs = entrymod.queries()
    for name in HEADLINE:
        noop(qs[name](spark, sf_dir))
        spark.catalog.clearCache()
    wait_jit_idle(spark)
    dirs = {str(sf_of(d)): d for d in (small_dir, sf_dir)}
    layers = {sf: {} for sf in dirs}
    for name in HEADLINE:
        for sf, d in dirs.items():
            layers[sf][name] = record(spark, qs[name], d)
    run = run_info(spark)
    spark.stop()
    print(json.dumps({"layers": layers}))
    print(json.dumps(summary(layers[str(sf_of(sf_dir))], sf_of(sf_dir), run)))


if __name__ == "__main__":
    main()
