"""End-to-end demo: the full CDC ingest → transform → materialize →
sink → analyze story in one runnable script.

    python examples/end_to_end.py [sf_dir]

1. An IBM i journal 'arrives' (synthesized from the orders table and
   serialized into journal layout — the reference fork's connector).
2. The journal normalizes into the canonical change-event envelope.
3. An SMT chain routes, masks, and flattens the stream.
4. State materializes: latest-state (compacted) and SCD2 history.
5. Sinks: topic-partitioned parquet + JSON wire sample.
6. Analytics run over the materialized state.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import latest_state, scd2, transaction_topic
from debezium_spark.cdc.transforms import (
    content_based_router,
    extract_new_record_state,
    mask_columns,
)
from debezium_spark.session import get_spark
from debezium_spark.sources.dialects import (
    normalize_ibmi_journal,
    to_ibmi_journal,
)
from debezium_spark.sources.sinks import envelope_to_json, sink_to_topics


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("end-to-end-demo")

    # 1-2. journal in, envelope out
    journal = to_ibmi_journal(
        synthesize_cdc_flat(spark, sf_dir).select(
            "key", "op", "seq", "ts_ms", "before_totalprice", "after_totalprice"
        )
    )
    envelope = normalize_ibmi_journal(journal)
    print(f"journal events ingested: {envelope.count()}")

    # 3. SMT chain over the full synthesized stream (with payload)
    cdc = synthesize_cdc_flat(spark, sf_dir)
    routed = content_based_router(
        cdc,
        [(F.col("op") == "d", "cdc.orders.deletes")],
        default="cdc.orders",
    )
    masked = mask_columns(routed, ["o_orderpriority"])
    flat = extract_new_record_state(masked, delete_mode="rewrite")
    print(f"after SMT chain: {flat.count()} rows, "
          f"{flat.filter('__deleted').count()} flagged deletes")

    # 4. materialize
    current = latest_state(cdc)
    history = scd2(cdc)
    txns = transaction_topic(cdc)
    print(f"latest-state keys: {current.count()}, "
          f"scd2 versions: {history.count()}, "
          f"txn markers: {txns.count()}")

    # 5. sinks
    with tempfile.TemporaryDirectory() as out:
        sink_to_topics(routed, os.path.join(out, "topics"))
        topics = sorted(
            d for d in os.listdir(os.path.join(out, "topics"))
            if d.startswith("topic=")
        )
        print(f"topic sink layout: {topics}")
    wire = envelope_to_json(cdc.limit(1)).first()
    print(f"wire sample: {wire['value'][:80]}...")

    # 6. analytics over materialized state
    top = (
        current.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("after_totalprice"), 2).alias("total"),
        )
        .orderBy(F.desc("total"))
    )
    print("revenue by priority (materialized state):")
    for r in top.collect():
        print(f"  {r['o_orderpriority']:<16} n={r['n']:>6} total={r['total']:>14,.2f}")

    # 7. exactly-once manifest-commit sink: crash between data write
    # and manifest rename, restart from the same checkpoint, converge
    from pyspark.errors import StreamingQueryException

    from debezium_spark.streaming.ingest import (
        read_manifest_state,
        run_manifest_stream,
    )

    with tempfile.TemporaryDirectory() as workdir:
        topic_dir = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        cdc.repartition(4, "key").write.parquet(topic_dir)
        schema = spark.read.parquet(topic_dir).schema

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(topic_dir)
            )

        try:
            run_manifest_stream(stream(), state_root, ckpt, crash_before_commit={2})
        except StreamingQueryException:
            pass  # the injected crash
        run_manifest_stream(stream(), state_root, ckpt)
        state = read_manifest_state(spark, state_root).filter(F.col("op") != "d")
        print(f"manifest sink after crash+restart: {state.count()} keys "
              f"(= batch latest-state: {state.count() == current.count()})")

    # 8. tokenizer training + multimodal decode (round-5 operators)
    from debezium_spark.operators.multimodal import media_decode_stats_q
    from debezium_spark.operators.text import bpe_merges_q

    merges = bpe_merges_q(spark, sf_dir).collect()
    print("BPE merges learned:",
          " ".join(f"{r['lhs']}+{r['rhs']}" for r in merges[:5]), "...")
    for r in media_decode_stats_q(spark, sf_dir).collect():
        print(f"decoded {r['kind']}: n={r['n']} "
              f"mean_micro_sum={r['mean_micro_sum']}")

    spark.stop()


if __name__ == "__main__":
    main()
