"""Structured Streaming CDC ingest.

Re-expresses Debezium's delivery loop in Spark terms: a file-source
change stream (stand-in for the Kafka topic), watermarked windowed
aggregation for event-time analytics, and one latest-state sink — the
exactly-once manifest-commit sink below. Its state is merge-on-read:
each microbatch is appended as one delta file, the deltas are folded
max-seq-wins per key into a new base once their bytes reach the
base's, and every epoch is made visible by an atomic manifest commit,
so replays, crashes between write and commit, out-of-order batches and
compaction all converge to the same state.

The oracle-gated stream entries replay a staged topic to completion
through one gate-only runner, `_replay` (memory sink, batch finish,
local result), so results are deterministic and comparable to the
batch oracles — streaming latest-state must equal batch latest-state
(tested), which is the Debezium at-least-once + idempotent-consumer
contract.

At scale: a delta epoch costs its batch, not the state, and a fold
rewrites the state only after about as many bytes have arrived as it
holds; maxFilesPerTrigger bounds per-batch volume.
applyInPandasWithState carries per-key running aggregates where
event-time windows can't express the semantics.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable, Iterable

from pyspark.errors import StreamingQueryException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.cdc.materialize import ORACLES as _MAT_ORACLES
from debezium_spark.cdc.materialize import latest_state
from debezium_spark.functions.rounding import round_half_up, sql_to_units, to_units
from debezium_spark.functions.tokens import content_md5, sql_content_md5
from debezium_spark.operators.analytics import SESSION_GAP_MIN
from debezium_spark.sources.tables import load_table


def _file_stream(spark: SparkSession, topic_dir: str) -> DataFrame:
    """File-source stream over a staged 'topic', one file per trigger."""
    return (
        spark.readStream.schema(spark.read.parquet(topic_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(topic_dir)
    )


def _replay(
    stream: DataFrame, mode: str, finish: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Gate-only: run `stream` to completion into a memory sink in
    output `mode`, apply the batch `finish` to the sink's rows and
    return them as a local DataFrame; the sink's view is dropped on
    the way out. Every row passes through the driver, so this serves
    the bounded oracle replays only — the manifest sink is the
    production route."""
    spark = stream.sparkSession
    name = f"replay_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        q.stop()  # the sink keeps its rows; stop is idempotent
        out = finish(spark.table(name))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def _replay_topic(
    spark: SparkSession, sf_dir: str, build: Callable[[DataFrame], DataFrame],
    mode: str, finish: Callable[[DataFrame], DataFrame],
    table: str = "events", parts: tuple[int, ...] = (4,),
) -> DataFrame:
    """Stage `table` as a file 'topic' in a temporary directory (one
    copy per entry of `parts`, split into that many files) and
    `_replay` the stream `build` makes of it."""
    with tempfile.TemporaryDirectory(prefix="topic_") as workdir:
        topic = os.path.join(workdir, table)
        rows = load_table(spark, sf_dir, table)
        for n in parts:
            rows.repartition(n).write.mode("append").parquet(topic)
        return _replay(build(_file_stream(spark, topic)), mode, finish)


def _window_counts(
    spark: SparkSession, sf_dir: str, window: Column, watermark: str | None
) -> DataFrame:
    """Complete-mode (event-time window, event_type) counts and sums."""

    def build(events: DataFrame) -> DataFrame:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        if watermark is not None:
            events = events.withWatermark("ts", watermark)
        return events.groupBy(window.alias("w"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    def finish(rows: DataFrame) -> DataFrame:
        return rows.select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        ).orderBy("window_start", "event_type")

    return _replay_topic(spark, sf_dir, build, "complete", finish)


def stream_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-hour aggregation, replayed to completion
    through a memory sink. Deterministic → oracle-checkable."""
    return _window_counts(spark, sf_dir, F.window("ts", "1 hour"), "1 hour")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window aggregation over the event stream: per (user,
    session) event counts with analytics.SESSION_GAP_MIN minutes of
    inactivity closing a session — the streaming twin of
    analytics.sessionize_events (equivalence is tested)."""

    # no watermark: the replayed 'topic' files arrive in arbitrary
    # order, so a watermark would drop whole files as late. Complete
    # mode keeps all session state. A production unbounded stream
    # (ordered source) adds .withWatermark to bound state.
    def build(events: DataFrame) -> DataFrame:
        return (
            events.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(
                F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("sw"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

    return _replay_topic(
        spark, sf_dir, build, "complete",
        lambda rows: rows.select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        ),
    )


ORACLES: dict[str, str] = {
    "stream_windowed_counts": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "stream_sessionize": f"""
        WITH flags AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) >= {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_sess) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
}

QUERIES = {
    "stream_windowed_counts": stream_windowed_counts_q,
}


def stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window aggregation under the external gate: per-session
    (user, start, n_events) rows from the streaming session_window
    must equal the batch lag-gap sessionization. Boundary semantics:
    Spark's session window is [start, last_ts + gap), so a gap of
    exactly the gap opens a NEW session — the oracle uses >= on the gap
    accordingly."""
    out = stream_session_windows(spark, sf_dir)
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
    ).orderBy("user_id", "session_start")


QUERIES["stream_sessionize"] = stream_sessionize_q


def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (view → purchase
    attribution within 1 hour, same user): the canonical Structured
    Streaming join — both sides watermarked, join condition carries
    the event-time range so the state store can evict rows older than
    the watermark. At scale this is the plan for joining two live CDC
    topics without unbounded state. The join itself runs as a real
    streaming query into a memory sink; the final rollup happens in
    batch on the joined pairs (deterministic input → oracle-exact).

    Watermark note: the staged topic REPLAYS a month of history in
    arbitrary file order, so the replay watermark must cover the full
    span (31 days) or genuinely-joinable rows would be dropped as
    late. A live deployment ingesting near-real-time would use the
    tight production delay (minutes–hours); the 1-hour join range
    bound is what sizes the state either way."""

    def build(events: DataFrame) -> DataFrame:
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
        views = (
            events.filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("event_id").alias("v_id"),
            )
            .withWatermark("v_ts", "31 days")
        )
        purchases = (
            events.filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
            .withWatermark("p_ts", "31 days")
        )
        return views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour")),
            "inner",
        )

    def finish(pairs: DataFrame) -> DataFrame:
        return (
            pairs.groupBy(F.date_format(
                F.date_trunc("hour", F.col("v_ts")),
                "yyyy-MM-dd HH:mm:ss").alias("view_hour"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("v_user").alias("n_users"),
                F.sum(to_units(F.col("p_value"), 2)).alias("purchase_cents"),
            )
            .orderBy("view_hour")
        )

    return _replay_topic(spark, sf_dir, build, "append", finish)


ORACLES["stream_stream_join"] = f"""
    WITH v AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    j AS (SELECT v.user_id, v.ts AS v_ts, p.value
          FROM v JOIN p ON v.user_id = p.user_id
               AND p.ts >= v.ts
               AND p.ts <= v.ts + INTERVAL 1 HOUR)
    SELECT strftime(date_trunc('hour', v_ts), '%Y-%m-%d %H:%M:%S')
               AS view_hour,
           count(*) AS n_pairs,
           count(DISTINCT user_id) AS n_users,
           CAST(sum({sql_to_units("value", 2)}) AS BIGINT) AS purchase_cents
    FROM j GROUP BY 1 ORDER BY view_hour
"""
QUERIES["stream_stream_join"] = stream_stream_join_q


def stream_stateful_running_counts_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """applyInPandasWithState under the external gate: per-user
    running (count, sum) state updated batch-by-batch over the
    replayed stream; the LAST update per user must equal the batch
    groupBy. Values are integer cents carried in doubles (exact in
    float64 far below 2^53), so the running float accumulation is
    bit-exact and oracle-comparable."""
    from debezium_spark.streaming.state import running_user_counts

    def build(events: DataFrame) -> DataFrame:
        return running_user_counts(events.withColumn(
            "value", round_half_up(F.col("value") * 100, 0)
        ))

    def finish(updates: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                "n_events",
                F.col("total_value").cast("long").alias("total_cents"),
            )
            .orderBy("user_id")
        )

    return _replay_topic(spark, sf_dir, build, "update", finish)


ORACLES["stream_stateful_running_counts"] = f"""
    SELECT user_id, count(*) AS n_events,
           CAST(sum({sql_to_units("value", 2)}) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id ORDER BY user_id
"""
QUERIES["stream_stateful_running_counts"] = stream_stateful_running_counts_q


def stream_dedup_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicates state (the streaming
    twin of dedup_exact): the document topic is staged TWICE (every
    document arrives at least twice), and the stream must emit each
    distinct normalized content exactly once. The output aggregates
    content-set invariants (count + hash sum), not surviving doc_ids —
    which copy wins the state race is arbitrary, the content set is
    not. Production streams bound the state with
    dropDuplicatesWithinWatermark; the bounded replay keeps full state
    on purpose."""

    def build(docs: DataFrame) -> DataFrame:
        return docs.select(
            content_md5(F.col("text")).alias("content_md5")
        ).dropDuplicates(["content_md5"])

    def finish(unique: DataFrame) -> DataFrame:
        return unique.agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(
                F.conv(F.substring("content_md5", 1, 15), 16, 10)
                .cast("long") % 1000000007
            ).alias("content_hash_sum"),
        )

    return _replay_topic(spark, sf_dir, build, "append", finish,
                         table="documents", parts=(4, 3))


ORACLES["stream_dedup_documents"] = f"""
    WITH u AS (
        SELECT DISTINCT {sql_content_md5("text")} AS content_md5
        FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(CAST(('0x' || substr(content_md5, 1, 15)) AS BIGINT)
                    % 1000000007) AS BIGINT) AS content_hash_sum
    FROM u
"""
QUERIES["stream_dedup_documents"] = stream_dedup_documents_q


def stream_static_enrich_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical CDC consumer
    pattern: a live event stream joined to a slowly-changing dimension
    that lives at rest (here the customer table, keyed by user_id =
    c_custkey). Structured Streaming re-plans the static side every
    microbatch, so on a cluster the dim is a fresh broadcast per
    trigger — no state store involvement at all (unlike stream-stream
    joins), which is why this is THE scale answer for enriching a
    100 TB/day topic against a dimension that fits in executor memory.
    Aggregation runs in complete mode over the enriched stream;
    money sums in integer cents (bit-exact gate)."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def build(events: DataFrame) -> DataFrame:
        enriched = events.join(F.broadcast(dim), "user_id", "left")
        return enriched.groupBy("c_mktsegment", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(to_units(F.col("value"), 2)).alias("value_cents"),
        )

    return _replay_topic(
        spark, sf_dir, build, "complete",
        lambda rows: rows.orderBy("c_mktsegment", "event_type"),
    )


ORACLES["stream_static_enrich"] = f"""
    SELECT c.c_mktsegment, e.event_type, count(*) AS n,
           CAST(sum({sql_to_units("e.value", 2)}) AS BIGINT) AS value_cents
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY c_mktsegment, event_type
"""
QUERIES["stream_static_enrich"] = stream_static_enrich_q


def stream_sliding_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (2h window / 1h slide):
    the Structured Streaming twin of the batch events_sliding_window
    operator — every event feeds two overlapping windows; state is
    keyed by (window, event_type) so the 100 TB layout is identical
    to the tumbling case, just with 2× window keys. Replayed to
    completion through a memory sink (deterministic → exact oracle;
    complete mode because the file replay is historical, SURVEY §6)."""
    slide = F.window("ts", "2 hours", "1 hour")
    return _window_counts(spark, sf_dir, slide, None)  # no watermark


ORACLES["stream_sliding_counts"] = """
    WITH exploded AS (
        SELECT unnest([
                   make_timestamp((epoch_us(ts) // 3600000000) * 3600000000),
                   make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 - 3600000000)
               ]) AS w_start,
               event_type, value
        FROM events
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM exploded
    GROUP BY w_start, event_type
    ORDER BY window_start, event_type
"""
QUERIES["stream_sliding_counts"] = stream_sliding_counts_q


# --------------------------------------------------------------------------
# Exactly-once manifest-commit latest-state sink, merge-on-read.
#
# The state is one base plus the deltas not yet folded into it, made
# atomic by the commit idea of Delta Lake's _delta_log and Iceberg's
# metadata pointer, reduced to a JSON manifest committed by atomic
# rename:
#
#   state_root/data/e<batchId>/         immutable per-batch parquet
#   state_root/_manifests/manifest-<batchId>.json
#       {"epoch": N, "key": "<col>", "seq": "<col>", "schema": {...},
#        "buckets": {"<bucket>": "<base dir>"},
#        "deltas": ["<dir>", ...],                       oldest first
#        "kind": "delta" | "fold", "bytes_written": B, "merge_ms": T}
#
# A manifest is named after the last batch id it applied. The base
# holds one max-seq-wins row per key; tombstones (op='d') stay in it so
# a lower-seq replay cannot resurrect a delete, and consumers filter
# them. A delta epoch writes its raw batch as one file and appends it
# to `deltas`, reading no prior state. Once the pending deltas' parquet
# bytes reach the base's (an empty sink has 0 >= 0), the epoch folds
# base, deltas and batch into a new base, points every bucket at it and
# empties `deltas`. The 1:1 ratio keeps a read to about twice the base
# and writes each received byte about twice. Readers read exactly the dirs the latest manifest
# references, so a crash between data write and rename leaves the torn
# batch invisible. On restart Structured Streaming replays the same
# batch id: an id at or below the latest manifest's was applied and is
# skipped wholesale, a higher one is rewritten in place and committed.
# Compaction folds the state into one dir and replaces the latest
# manifest in place, so it never claims a batch id the stream has yet
# to run.
# --------------------------------------------------------------------------


def _manifest_paths(state_root: str) -> dict[int, str]:
    """Batch id -> path of every committed manifest."""
    mdir = os.path.join(state_root, "_manifests")
    if not os.path.isdir(mdir):
        return {}
    return {
        int(m.group(1)): os.path.join(mdir, f)
        for f in os.listdir(mdir)
        if (m := re.fullmatch(r"manifest-(\d+)\.json", f))
    }


def _latest_manifest(state_root: str) -> tuple[str | None, int]:
    paths = _manifest_paths(state_root)
    if not paths:
        return None, -1
    epoch = max(paths)
    return paths[epoch], epoch


def _load_latest_manifest(state_root: str) -> dict:
    mpath, _ = _latest_manifest(state_root)
    if mpath is None:
        raise FileNotFoundError(f"no committed manifest under {state_root}")
    with open(mpath) as fh:
        return json.load(fh)


def _commit_manifest(state_root: str, manifest: dict) -> None:
    """Atomically (re)place manifest-<epoch>.json."""
    mpath = os.path.join(
        state_root, "_manifests", f"manifest-{manifest['epoch']}.json"
    )
    tmp = mpath + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, mpath)  # the atomic commit point


def _dir_bytes(state_root: str, dirs: Iterable[str]) -> int:
    """Parquet bytes in the given data dirs."""
    total = 0
    for d in dirs:
        with os.scandir(os.path.join(state_root, "data", d)) as entries:
            total += sum(
                e.stat().st_size for e in entries if e.name.endswith(".parquet")
            )
    return total


def _read_state(
    spark: SparkSession, state_root: str, manifest: dict,
    extra: DataFrame | None = None,
) -> DataFrame:
    """The state `manifest` commits, with `extra` as one more delta:
    base and deltas are read with the manifest's schema (no inference
    job) and resolved max-seq-wins per key only when a delta is
    pending."""
    dirs = sorted(set(manifest["buckets"].values())) + manifest["deltas"]
    state = spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(
        *[os.path.join(state_root, "data", d) for d in dirs]
    )
    if extra is not None:
        state = state.unionByName(extra)
    if manifest["deltas"] or extra is not None:
        state = latest_state(
            state, manifest["key"], manifest["seq"], keep_tombstones=True
        )
    return state


def _manifest_merge_batch(
    batch: DataFrame,
    epoch_id: int,
    state_root: str,
    n_buckets: int,
    key: str,
    seq: str,
    crash_before_commit: set[int] | None,
) -> None:
    """One epoch of the manifest protocol: write the batch as a new
    delta dir, or fold base, deltas and batch into a new base dir once
    the deltas' bytes reach the base's; then atomically commit the
    manifest. `crash_before_commit`: epoch ids at which to raise AFTER
    the data write but BEFORE the manifest rename — the crash-injection
    hook the kill/restart test uses to prove torn epochs stay
    invisible."""
    t0 = time.perf_counter()
    os.makedirs(os.path.join(state_root, "_manifests"), exist_ok=True)
    prev_manifest, last_epoch = _latest_manifest(state_root)
    if epoch_id <= last_epoch:
        return  # batch already applied — replay skips wholesale
    man = {"epoch": epoch_id, "key": key, "seq": seq,
           "schema": batch.schema.jsonValue(), "buckets": {}, "deltas": []}
    if prev_manifest is not None:
        with open(prev_manifest) as fh:
            prev = json.load(fh)
        man["buckets"], man["deltas"] = prev["buckets"], prev["deltas"]
    epoch_dir = f"e{epoch_id}"
    fold = _dir_bytes(state_root, man["deltas"]) >= _dir_bytes(
        state_root, set(man["buckets"].values())
    )
    if fold:
        out = _read_state(batch.sparkSession, state_root, man, extra=batch)
        man["buckets"] = {str(i): epoch_dir for i in range(n_buckets)}
        man["deltas"] = []
    else:
        out = batch.coalesce(1)
        man["deltas"] = man["deltas"] + [epoch_dir]
    out.write.mode("overwrite").parquet(
        os.path.join(state_root, "data", epoch_dir)
    )
    if crash_before_commit and epoch_id in crash_before_commit:
        raise RuntimeError(f"injected crash before commit of epoch {epoch_id}")
    _commit_manifest(state_root, {
        **man,
        "kind": "fold" if fold else "delta",
        "bytes_written": _dir_bytes(state_root, [epoch_dir]),
        "merge_ms": (time.perf_counter() - t0) * 1000,
    })


def run_manifest_stream(
    stream_df: DataFrame,
    state_root: str,
    checkpoint: str,
    crash_before_commit: set[int] | None = None,
    n_buckets: int = 16,
) -> None:
    """Run `stream_df` to completion through the manifest-commit sink.
    The checkpoint gives a restart the same batch ids, which is what
    makes replay detection exact."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _manifest_merge_batch(
            batch, epoch_id, state_root, n_buckets, "key", "seq",
            crash_before_commit,
        )

    q = (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_manifest_state(spark: SparkSession, state_root: str) -> DataFrame:
    """The state the latest committed manifest references: its base,
    with any pending deltas resolved max-seq-wins per key. Dirs of
    older or torn epochs are excluded by construction; a sink that has
    seen only empty batches reads as zero rows with the state
    columns."""
    return _read_state(spark, state_root, _load_latest_manifest(state_root))


def sink_history(spark: SparkSession, state_root: str) -> DataFrame:
    """One row per retained manifest, oldest first, in the manner of
    Delta's DESCRIBE HISTORY: the batch id, whether the epoch wrote a
    `delta` or a `fold`, the parquet bytes it wrote, its merge time
    before the commit, and the deltas its manifest leaves pending."""
    rows = []
    for epoch, path in sorted(_manifest_paths(state_root).items()):
        with open(path) as fh:
            m = json.load(fh)
        rows.append((epoch, m["kind"], m["bytes_written"],
                     float(m["merge_ms"]), len(m["deltas"])))
    return spark.createDataFrame(
        rows,
        "epoch long, kind string, bytes_written long, merge_ms double, "
        "pending_deltas int",
    )


def compact_manifest_state(spark: SparkSession, state_root: str) -> str:
    """Compaction for the manifest layout: fold the current state into
    one consolidated dir, atomically replace the latest manifest with
    one pointing each of its buckets at that dir and no delta, and
    delete the data dirs no longer referenced. The manifest keeps its
    batch id, so a stream resuming afterwards applies its next batch
    normally. Bounds the O(epochs) dir growth of a long-running stream;
    correctness never depends on it. Assumes no concurrent reader: one
    still scanning the dirs of the replaced manifest loses them."""
    man = _load_latest_manifest(state_root)
    compact_dir = f"compact-{man['epoch']}-{uuid.uuid4().hex[:8]}"
    _read_state(spark, state_root, man).write.mode("overwrite").parquet(
        os.path.join(state_root, "data", compact_dir)
    )
    _commit_manifest(state_root, {
        **man, "buckets": {b: compact_dir for b in man["buckets"]}, "deltas": [],
    })
    data_dir = os.path.join(state_root, "data")
    for d in os.listdir(data_dir):
        if d != compact_dir:
            shutil.rmtree(os.path.join(data_dir, d), ignore_errors=True)
    return state_root


def _cdc_state_columns(state: DataFrame) -> DataFrame:
    """Live sink rows in the shape of the cdc_latest_state oracle."""
    return state.filter(F.col("op") != "d").select(
        "key",
        F.col("after_totalprice").alias("o_totalprice"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "seq",
    )


def _stream_cdc_state(
    spark: SparkSession, sf_dir: str, faults: bool
) -> DataFrame:
    """Synthesize the change stream, stage it as a multi-file 'topic'
    and replay it through the manifest-commit sink; the final state
    must equal the batch cdc_latest_state oracle. With `faults`, half
    the topic (even seqs) lands first and the first run crashes before
    committing batch 2; the restart replays it, the state is compacted,
    the other half lands and the stream resumes on the same
    checkpoint."""
    with tempfile.TemporaryDirectory(prefix="cdc_stream_") as workdir:
        topic_dir = os.path.join(workdir, "topic")
        state_root = os.path.join(workdir, "state")
        ckpt = os.path.join(workdir, "ckpt")
        cdc = synthesize_cdc_flat(spark, sf_dir)
        if not faults:
            cdc.repartition(4, "key").write.parquet(topic_dir)
            run_manifest_stream(_file_stream(spark, topic_dir), state_root, ckpt)
        else:
            even = F.col("seq") % 2 == 0
            cdc.filter(even).repartition(4, "key").write.parquet(topic_dir)
            try:
                run_manifest_stream(
                    _file_stream(spark, topic_dir), state_root, ckpt,
                    crash_before_commit={2},
                )
            except StreamingQueryException:
                pass  # the injected crash
            run_manifest_stream(_file_stream(spark, topic_dir), state_root, ckpt)
            compact_manifest_state(spark, state_root)
            cdc.filter(~even).repartition(2, "key").write.mode("append").parquet(
                topic_dir
            )
            run_manifest_stream(_file_stream(spark, topic_dir), state_root, ckpt)
        # local copy: the state it was read from is deleted on return
        final = _cdc_state_columns(read_manifest_state(spark, state_root))
        return spark.createDataFrame(final.collect(), final.schema)


def stream_cdc_latest_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: change stream → file-source readStream (one file per
    trigger) → manifest-commit sink → final materialized state. Must
    equal the batch cdc_latest_state oracle exactly."""
    return _stream_cdc_state(spark, sf_dir, faults=False)


def manifest_commit_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once contract under the external gate: the
    same stream with an injected crash between data write and manifest
    commit, a checkpointed restart, a mid-stream compaction and a
    resume on newly landed files must still converge to the batch
    latest-state oracle with no loss and no duplication."""
    return _stream_cdc_state(spark, sf_dir, faults=True)


# both streaming latest-state entries share the batch latest-state
# oracle — streaming replay must converge to the same materialization
ORACLES["stream_cdc_latest_state"] = _MAT_ORACLES["cdc_latest_state"]
QUERIES["stream_cdc_latest_state"] = stream_cdc_latest_state_q
ORACLES["manifest_commit_state"] = _MAT_ORACLES["cdc_latest_state"]
QUERIES["manifest_commit_state"] = manifest_commit_state_q
