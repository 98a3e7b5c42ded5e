"""Streaming ↔ batch convergence: the core correctness property of
the CDC ingest loop."""

import glob
import json
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import latest_state
from debezium_spark.streaming.ingest import (
    stream_cdc_latest_state_q,
    stream_windowed_counts_q,
)
from debezium_spark.streaming.state import running_user_counts
from debezium_spark.sources.tables import load_table


def test_streaming_latest_state_equals_batch(spark, sf_dir):
    got = stream_cdc_latest_state_q(spark, sf_dir)
    want = latest_state(synthesize_cdc_flat(spark, sf_dir)).select(
        "key",
        F.col("after_totalprice").alias("o_totalprice"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "seq",
    )
    assert got.count() == want.count()
    assert got.unionByName(want).groupBy(got.columns).count().filter(
        F.col("count") != 2
    ).count() == 0


def test_stream_windowed_counts_equals_batch(spark, sf_dir):
    got = stream_windowed_counts_q(spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts").cast("timestamp"))
                 .alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("n")).first()[0] == want.agg(F.sum("n")).first()[0]


def test_out_of_order_delivery_converges(spark, sf_dir):
    """Adversarial replay: the topic's files arrive newest-first
    (descending seq). Max-seq-wins merging must still converge to the
    batch state — late-arriving older events never regress a key."""
    from debezium_spark.streaming.ingest import (
        read_manifest_state,
        run_manifest_stream,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        # three seq-range files written in ascending order; replay
        # newest-file-first via latestFirst
        lo = cdc.filter(F.col("seq") % 3 == 0)
        mid = cdc.filter(F.col("seq") % 3 == 1)
        hi = cdc.filter(F.col("seq") % 3 == 2)
        lo.coalesce(1).write.parquet(topic)
        mid.coalesce(1).write.mode("append").parquet(topic)
        hi.coalesce(1).write.mode("append").parquet(topic)
        schema = spark.read.parquet(topic).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", True)
            .format("parquet")
            .load(topic)
        )
        run_manifest_stream(stream, state_root, os.path.join(workdir, "ckpt"))
        final = (
            read_manifest_state(spark, state_root)
            .filter(F.col("op") != "d")
            .select("key", "seq", "after_totalprice")
        )
        want = latest_state(cdc).select("key", "seq", "after_totalprice")
        assert final.count() == want.count()
        diff = final.unionByName(want).groupBy(
            "key", "seq", "after_totalprice"
        ).count().filter(F.col("count") != 2)
        assert diff.count() == 0


def test_session_window_stream_matches_batch_sessionize(spark, sf_dir):
    from debezium_spark.operators.analytics import sessionize_events
    from debezium_spark.streaming.ingest import stream_session_windows

    got = stream_session_windows(spark, sf_dir)
    per_user = got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )
    want = sessionize_events(spark, sf_dir)
    joined = per_user.alias("g").join(want.alias("w"), "user_id")
    bad = joined.filter(
        (F.col("g.n_sessions") != F.col("w.n_sessions"))
        | (F.col("g.n_events") != F.col("w.n_events"))
    )
    assert bad.count() == 0
    assert per_user.count() == want.count()


def test_stateful_running_counts(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "events")
        events.repartition(3).write.parquet(topic)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(topic)
        )
        out = running_user_counts(stream)
        name = "stateful_test_out"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # last emitted row per user = final running count
        final = spark.sql(
            f"""SELECT user_id, max_by(n_events, n_events) AS n_events
                FROM {name} GROUP BY user_id"""
        )
        want = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        joined = final.join(want, "user_id")
        assert joined.filter(F.col("n_events") != F.col("n")).count() == 0
        assert final.count() == want.count()


def _manifest(state_root, epoch):
    with open(os.path.join(state_root, "_manifests", f"manifest-{epoch}.json")) as fh:
        return json.load(fh)


def test_merge_on_read_delta_and_fold_epochs(spark):
    """Epoch 0 folds the empty sink into a base. Epoch 1 only appends
    its raw batch as a delta: its dir holds exactly the batch's rows
    and no bucket pointer moves, yet its delete of key 7 hides that
    key's base row. Epoch 2 finds the delta outgrowing the base and
    folds base, delta and batch into one new base."""
    from debezium_spark.streaming.ingest import (
        _manifest_merge_batch,
        read_manifest_state,
    )

    cols = ["key", "op", "seq", "val"]
    seed = spark.range(200).select(
        F.col("id").alias("key"),
        F.lit("c").alias("op"),
        F.lit(1).cast("long").alias("seq"),
        (F.col("id") * 1.0).alias("val"),
    )
    # 25 updates per key (seq 2..26); key 7's last event is a delete
    updates = spark.range(5000).select(
        (F.col("id") % 200).alias("key"),
        F.when((F.col("id") % 200 == 7) & (F.col("id") >= 4800), "d")
        .otherwise("u").alias("op"),
        ((F.col("id") / 200).cast("long") + 2).alias("seq"),
        (F.col("id") * 1.5).alias("val"),
    )
    last = seed.limit(1).withColumn("seq", F.lit(27).cast("long"))

    def rows(df):
        return sorted(tuple(r) for r in df.select(cols).collect())

    with tempfile.TemporaryDirectory() as state:
        _manifest_merge_batch(seed, 0, state, 16, "key", "seq", None)
        _manifest_merge_batch(updates, 1, state, 16, "key", "seq", None)
        m0, m1 = _manifest(state, 0), _manifest(state, 1)
        assert (m0["kind"], m0["deltas"]) == ("fold", [])
        assert m0["buckets"] == {str(b): "e0" for b in range(16)}
        assert (m1["kind"], m1["deltas"]) == ("delta", ["e1"])
        assert m1["buckets"] == m0["buckets"]
        e1 = spark.read.parquet(os.path.join(state, "data", "e1"))
        assert rows(e1) == rows(updates)
        live = read_manifest_state(spark, state).filter("op != 'd'")
        assert live.filter("key = 7").count() == 0
        assert rows(live) == rows(latest_state(seed.unionByName(updates)))

        _manifest_merge_batch(last, 2, state, 16, "key", "seq", None)
        m2 = _manifest(state, 2)
        assert (m2["kind"], m2["deltas"]) == ("fold", [])
        assert m2["buckets"] == {str(b): "e2" for b in range(16)}
        want = rows(latest_state(
            seed.unionByName(updates).unionByName(last), keep_tombstones=True))
        e2 = spark.read.parquet(os.path.join(state, "data", "e2"))
        assert rows(e2) == want  # one row per key, key 7's tombstone kept
        assert rows(read_manifest_state(spark, state)) == want


def test_sink_history_explains_every_epoch(spark, sf_dir):
    """sink_history has one row per epoch of a short stream, and each
    row's kind follows from the bytes of the rows before it: an epoch
    folds exactly when the pending deltas' bytes reach the base's."""
    from debezium_spark.streaming.ingest import (
        _file_stream,
        run_manifest_stream,
        sink_history,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state = os.path.join(workdir, "state")
        cdc.repartition(6, "key").write.parquet(topic)
        run_manifest_stream(
            _file_stream(spark, topic), state, os.path.join(workdir, "ckpt")
        )
        hist = sink_history(spark, state).collect()
        assert [r["epoch"] for r in hist] == list(range(6))
        base_bytes, pending = 0, []
        for r in hist:
            written = sum(os.path.getsize(f) for f in glob.glob(
                os.path.join(state, "data", f"e{r['epoch']}", "*.parquet")))
            assert r["bytes_written"] == written > 0
            assert r["merge_ms"] > 0
            fold = sum(pending) >= base_bytes
            assert r["kind"] == ("fold" if fold else "delta"), (r, pending)
            if fold:
                base_bytes, pending = written, []
            else:
                pending.append(written)
            assert r["pending_deltas"] == len(pending)
        assert {r["kind"] for r in hist} == {"fold", "delta"}


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from debezium_spark.streaming.ingest import stream_stream_join_q
    from debezium_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = {r["view_hour"]: (r["n_pairs"], r["n_users"], r["purchase_cents"])
           for r in stream_stream_join_q(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"))
    j = v.join(p, (v.v_user == p.p_user) & (p.p_ts >= v.v_ts)
               & (p.p_ts <= v.v_ts + F.expr("interval 1 hour")))
    want = {r["view_hour"]: (r["n_pairs"], r["n_users"], r["purchase_cents"])
            for r in j.groupBy(F.date_format(F.date_trunc("hour", "v_ts"),
                                             "yyyy-MM-dd HH:mm:ss")
                               .alias("view_hour"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.countDistinct("v_user").alias("n_users"),
                 F.sum(F.round(F.col("p_value") * 100 + 1e-9).cast("long"))
                 .alias("purchase_cents")).collect()}
    assert got == want and len(got) > 0


def test_stream_dedup_matches_batch_distinct(spark, sf_dir):
    from debezium_spark.streaming.ingest import stream_dedup_documents_q
    from debezium_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    row = stream_dedup_documents_q(spark, sf_dir).collect()[0]
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    want = (
        load_table(spark, sf_dir, "documents")
        .select(F.md5(norm).alias("m")).distinct().count()
    )
    assert row["n_unique"] == want


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    from debezium_spark.sources.tables import load_table
    from debezium_spark.streaming.ingest import stream_static_enrich_q

    got = {
        (r["c_mktsegment"], r["event_type"]): (r["n"], r["value_cents"])
        for r in stream_static_enrich_q(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    batch = (
        e.join(c, e.user_id == c.c_custkey, "left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("value") * 100 + 1e-9).cast("long")
            ).alias("value_cents"),
        )
    )
    want = {
        (r["c_mktsegment"], r["event_type"]): (r["n"], r["value_cents"])
        for r in batch.collect()
    }
    assert got == want


def test_stream_sliding_counts_equals_batch(spark, sf_dir):
    """The streaming sliding-window replay must converge to the batch
    events_sliding_window counts (same windows, same n)."""
    from debezium_spark.operators.analytics import events_sliding_window
    from debezium_spark.streaming.ingest import stream_sliding_counts_q

    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in stream_sliding_counts_q(spark, sf_dir).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in events_sliding_window(spark, sf_dir).collect()
    }
    assert got == want
