"""Offset bookkeeping: a checkpointed stream stopped mid-topic and
restarted resumes from its offset and converges to the same state —
Debezium's offset-storage / at-least-once delivery contract."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.errors import StreamingQueryException

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import latest_state


def test_checkpoint_resume_converges(spark, sf_dir):
    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        ckpt = os.path.join(workdir, "ckpt")
        sink = os.path.join(workdir, "sink")
        cdc.repartition(6, "key").write.parquet(topic)
        schema = spark.read.parquet(topic).schema

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(topic)
            )
            return (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        # phase 1: process some batches, then stop mid-topic
        q = start()
        q.processAllAvailable()
        q.stop()
        n_after_first = spark.read.parquet(sink).count()

        # phase 2: restart from the checkpoint — no reprocessing, no loss
        q = start()
        q.processAllAvailable()
        q.stop()

        delivered = spark.read.parquet(sink)
        assert delivered.count() == cdc.count() == n_after_first
        # exactly-once into the sink: no duplicate (key, seq)
        dups = delivered.groupBy("key", "seq").count().filter("count > 1")
        assert dups.count() == 0
        # and the materialized state matches the batch plan
        assert latest_state(delivered).count() == latest_state(cdc).count()


def test_manifest_sink_crash_consistent_resume(spark, sf_dir):
    """Kill-mid-batch / restart proof for the manifest-commit sink:
    a crash injected between the epoch data write and the manifest
    rename leaves the torn epoch invisible to readers; restarting
    from the same checkpoint replays that epoch exactly once and
    converges to the batch latest-state — no loss, no duplication."""
    from debezium_spark.cdc.materialize import latest_state
    from debezium_spark.streaming.ingest import (
        _latest_manifest,
        read_manifest_state,
        run_manifest_stream,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        cdc.repartition(4, "key").write.parquet(topic)
        schema = spark.read.parquet(topic).schema

        def stream():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(topic)
            )

        # run 1: crash before committing epoch 2
        with pytest.raises(Exception, match="injected crash|FOREACH_BATCH"):
            run_manifest_stream(
                stream(), state_root, ckpt, crash_before_commit={2}
            )
        _, committed_epoch = _latest_manifest(state_root)
        assert committed_epoch == 1  # epoch 2's data write is torn
        # the torn epoch dir may exist on disk but is NOT referenced
        # by any committed manifest, as base or as delta — readers
        # cannot see it
        import json as _json

        mpath, _ = _latest_manifest(state_root)
        with open(mpath) as fh:
            man = _json.load(fh)
        assert "e2" not in set(man["buckets"].values()) | set(man["deltas"])
        assert read_manifest_state(spark, state_root).count() > 0

        # run 2: same checkpoint — epoch 2 replays, commits, stream
        # finishes the remaining epochs
        run_manifest_stream(stream(), state_root, ckpt)
        # tombstones (op='d') are retained in state by design so
        # replays cannot resurrect deletes; consumers filter them
        final = read_manifest_state(spark, state_root).filter(F.col("op") != "d")
        expect = latest_state(cdc)
        assert final.count() == expect.count()
        # no duplicate keys (exactly-once materialization)
        assert final.groupBy("key").count().filter("count > 1").count() == 0
        # replaying an ALREADY-committed epoch is a wholesale no-op:
        # manifests unchanged after a third full replay from scratch
        # of the same checkpointed stream (all epochs committed)
        _, e_before = _latest_manifest(state_root)
        run_manifest_stream(stream(), state_root, ckpt)
        _, e_after = _latest_manifest(state_root)
        assert e_after == e_before
        assert (
            read_manifest_state(spark, state_root)
            .filter(F.col("op") != "d")
            .count()
            == expect.count()
        )


def test_manifest_compaction_preserves_state(spark, sf_dir):
    from debezium_spark.streaming.ingest import (
        compact_manifest_state,
        read_manifest_state,
        run_manifest_stream,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        cdc.repartition(4, "key").write.parquet(topic)
        schema = spark.read.parquet(topic).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(topic)
        )
        run_manifest_stream(stream, state_root, ckpt)
        before = {
            tuple(r) for r in read_manifest_state(spark, state_root).collect()
        }
        n_dirs_before = len(os.listdir(os.path.join(state_root, "data")))
        compact_manifest_state(spark, state_root)
        after_df = read_manifest_state(spark, state_root)
        after = {tuple(r) for r in after_df.collect()}
        assert before == after
        assert len(os.listdir(os.path.join(state_root, "data"))) == 1
        assert n_dirs_before > 1


# --------------------------------------------------------------------------
# Manifest sink under run / crash / compact / resume / empty-file
# sequences. Four change-event chunks over 200 keys are staged once as
# single parquet files; a sequence lands them in a chosen order into a
# fresh topic and drives one checkpointed stream over it.
# --------------------------------------------------------------------------

N_KEYS = 200
N_CHUNKS = 4


def _chunk(spark, i):
    """Chunk i: 300 events over N_KEYS keys; seqs are unique across
    chunks and interleave, so any arrival order is out of seq order
    for some keys. Every fifth event is a delete."""
    ev = spark.range(300)
    return ev.select(
        ((F.col("id") * 7 + i * 13) % N_KEYS).alias("key"),
        F.when((F.col("id") + i) % 5 == 0, F.lit("d"))
        .otherwise(F.lit("u")).alias("op"),
        (F.col("id") * N_CHUNKS + (i * 3) % N_CHUNKS).alias("seq"),
        (F.col("id") * 10.0 + i).alias("val"),
    )


@pytest.fixture(scope="module")
def staged_chunks(spark):
    """Chunk i staged as one parquet file at index i; index N_CHUNKS
    is a zero-row file with the same schema."""
    with tempfile.TemporaryDirectory() as d:
        files = []
        for i in range(N_CHUNKS + 1):
            df = _chunk(spark, i) if i < N_CHUNKS else _chunk(spark, 0).limit(0)
            out = os.path.join(d, f"c{i}")
            df.coalesce(1).write.parquet(out)
            (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
            files.append(os.path.join(out, part))
        yield files


def _play(spark, staged, arrival, steps):
    """Run `steps` against a fresh topic/checkpoint/state and check the
    committed state against batch latest_state after every step; a
    final resume must leave the state equal to latest_state over every
    landed chunk."""
    import shutil

    from debezium_spark.streaming.ingest import (
        _latest_manifest,
        compact_manifest_state,
        read_manifest_state,
        run_manifest_stream,
    )

    cols = ["key", "op", "seq", "val"]
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        os.makedirs(topic)
        schema = spark.read.parquet(staged[0]).schema
        pending = list(arrival)
        landed: list[int] = []  # chunk ids, in landing order
        applied: list[int] = []  # chunk ids the committed state covers

        def land(src, name):
            tmp = os.path.join(workdir, name)
            shutil.copyfile(src, tmp)
            os.rename(tmp, os.path.join(topic, name))

        def run(crash):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .format("parquet")
                .load(topic)
            )
            run_manifest_stream(
                stream, state_root, ckpt,
                crash_before_commit=set(range(100)) if crash else None,
            )

        def state():
            if _latest_manifest(state_root)[0] is None:
                return set()
            return {
                tuple(r)
                for r in read_manifest_state(spark, state_root)
                .filter(F.col("op") != "d").select(cols).collect()
            }

        def expected(chunks):
            if not chunks:
                return set()
            events = _chunk(spark, chunks[0])
            for c in chunks[1:]:
                events = events.unionByName(_chunk(spark, c))
            return {tuple(r) for r in latest_state(events).select(cols).collect()}

        for n, step in enumerate(steps + ["run"]):
            if step == "land" and pending:
                land(staged[pending[0]], f"{n:02d}-chunk.parquet")
                landed.append(pending.pop(0))
            elif step == "empty":
                land(staged[N_CHUNKS], f"{n:02d}-empty.parquet")
            elif step == "run":
                run(crash=False)
                applied = list(landed)
            elif step == "crash":
                try:
                    run(crash=True)
                except StreamingQueryException as e:  # if a batch ran
                    assert "injected crash" in str(e)
            elif step == "compact" and _latest_manifest(state_root)[0]:
                compact_manifest_state(spark, state_root)
            assert state() == expected(applied), (steps, n)


def test_manifest_compact_then_resume_keeps_next_batch(spark, staged_chunks):
    """Land half the topic, run, compact, land the rest and resume on
    the same checkpoint: the batch after compaction must be applied,
    not mistaken for an already-committed one."""
    _play(spark, staged_chunks, range(N_CHUNKS),
          ["land", "land", "run", "compact", "land", "land"])


steps_st = st.lists(
    st.sampled_from(["land", "empty", "run", "crash", "compact"]),
    min_size=1, max_size=10,
)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(arrival=st.permutations(range(N_CHUNKS)), steps=steps_st)
@example(arrival=[0, 1, 2, 3], steps=["empty", "run", "compact", "land"])
@example(arrival=[3, 1, 0, 2],
         steps=["land", "crash", "compact", "land", "run", "compact", "land"])
def test_manifest_sink_random_fault_sequences(spark, staged_chunks,
                                              arrival, steps):
    _play(spark, staged_chunks, arrival, steps)


def test_manifest_empty_first_file_reads_as_empty_state(spark, staged_chunks):
    """A zero-row file landing first commits a fold of no rows; it
    must read back as zero rows with the state columns."""
    from debezium_spark.streaming.ingest import (
        _file_stream,
        _latest_manifest,
        read_manifest_state,
        run_manifest_stream,
    )

    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        os.makedirs(topic)
        os.link(staged_chunks[N_CHUNKS], os.path.join(topic, "empty.parquet"))
        stream = _file_stream(spark, topic)
        run_manifest_stream(stream, state_root, os.path.join(workdir, "ckpt"))
        assert _latest_manifest(state_root)[1] == 0
        state = read_manifest_state(spark, state_root)
        assert state.columns == stream.columns
        assert state.count() == 0


def test_manifest_compaction_keeps_every_bucket(spark, sf_dir):
    """Compaction takes its bucket set from the manifest, so a sink run
    with more buckets than the default keeps all of its state and all
    of its bucket pointers."""
    from debezium_spark.streaming.ingest import (
        _file_stream,
        _load_latest_manifest,
        compact_manifest_state,
        read_manifest_state,
        run_manifest_stream,
    )

    cdc = synthesize_cdc_flat(spark, sf_dir)
    with tempfile.TemporaryDirectory() as workdir:
        topic = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        cdc.repartition(2, "key").write.parquet(topic)
        run_manifest_stream(
            _file_stream(spark, topic), state_root,
            os.path.join(workdir, "ckpt"), n_buckets=32,
        )
        all_buckets = {str(b) for b in range(32)}
        assert set(_load_latest_manifest(state_root)["buckets"]) == all_buckets
        before = {tuple(r) for r in read_manifest_state(spark, state_root).collect()}
        assert before
        compact_manifest_state(spark, state_root)
        assert set(_load_latest_manifest(state_root)["buckets"]) == all_buckets
        after = {tuple(r) for r in read_manifest_state(spark, state_root).collect()}
        assert after == before
