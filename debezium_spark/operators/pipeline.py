"""End-to-end training-data mixture pipeline: quality filter →
exact-dedup (canonical doc wins) → deterministic token-budget cut →
per-source mixture report. The composite shape a 100 TB pretraining
data build runs, expressed as one declarative plan (filters and the
dedup window push into the scan; the budget cut is a single running
sum over the kept set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import event_seq, is_deleted, n_versions
from debezium_spark.cdc.envelope import sql_event_seq, sql_is_deleted, sql_n_versions
from debezium_spark.cdc.materialize import latest_state, sql_latest_state
from debezium_spark.functions.rounding import round_half_up, to_units
from debezium_spark.functions.rounding import sql_round_half_up, sql_to_units
from debezium_spark.functions.tokens import SQL_WORDS, h60, sql_h60, word_ngrams, words
from debezium_spark.functions.tokens import sql_word_ngrams
from debezium_spark.functions.tokens import content_md5, knuth32
from debezium_spark.functions.tokens import sql_content_md5, sql_knuth32
from debezium_spark.operators.text import STOPWORDS as _LANG_STOPWORDS
from debezium_spark.operators.text import stopword_hit_count
from debezium_spark.sources.tables import load_table

QUALITY_THRESHOLD = 0.5
TOKEN_BUDGET = 40_000
STOPWORDS = _LANG_STOPWORDS["en"]
PREFIX_BUCKETS = 64


def training_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    n_words = F.size(ws)
    stop_hits = stopword_hit_count(ws, STOPWORDS)
    mean_word_len = (F.length("text") - (n_words - 1)) / n_words
    quality = (
        0.5 * F.least(n_words / F.lit(200.0), F.lit(1.0))
        + 0.3 * (1.0 - stop_hits / n_words)
        + 0.2 * F.least(mean_word_len / F.lit(8.0), F.lit(1.0))
    )

    scored = d.select(
        "doc_id",
        "source",
        n_words.alias("n_tokens"),
        quality.alias("q"),
        content_md5(F.col("text")).alias("content_md5"),
    ).filter(F.col("q") >= QUALITY_THRESHOLD)

    dedup_w = Window.partitionBy("content_md5").orderBy("doc_id")
    canonical = scored.withColumn("rn", F.row_number().over(dedup_w)).filter(
        F.col("rn") == 1
    )

    # Token-budget cut = global running sum ordered by doc_id. A bare
    # Window.orderBy would move every row to ONE task (WindowExec "No
    # Partition Defined") — anti-scale. Two-phase prefix sum instead:
    # deterministic range buckets on doc_id (monotonic, so bucket
    # order == doc_id order), per-bucket token subtotals, a tiny
    # cumulative-offset join over the PREFIX_BUCKETS subtotal rows,
    # broadcast the offsets back, then a per-bucket (parallel) running
    # sum + offset. Output is identical to the single-window form for
    # any bucket boundaries — so the boundary scalar can come from the
    # RAW table's max(doc_id) (canonical ⊆ documents keeps the cover
    # valid): a one-row column-pruned aggregate collected driver-side,
    # instead of a crossJoin branch over the canonical set that forced
    # the whole scan→score→dedup pipeline to compile 4× in the plan.
    mx = int(d.agg(F.max("doc_id")).head()[0])
    bucketed = canonical.withColumn(
        "bucket",
        F.floor(
            F.col("doc_id") * PREFIX_BUCKETS / F.lit(mx + 1)
        ).cast("int"),
    )
    run_w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.withColumn("cum_in", F.sum("n_tokens").over(run_w))
    # bucket totals come from the SAME post-window frame (max of the
    # in-bucket running sum), so both branches hang off one
    # hashpartitioning(bucket) exchange and Spark's ReuseExchange
    # computes the scan→score→dedup→bucket pipeline exactly once
    btot = cum.groupBy("bucket").agg(F.max("cum_in").alias("pt"))
    # cumulative offsets over ≤PREFIX_BUCKETS subtotal rows via a
    # bounded triangular self-join (≤B² tiny rows) — not a window, so
    # nothing in this plan ever creates an unpartitioned WindowExec
    offsets = (
        btot.alias("a")
        .join(btot.alias("b"), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.pt"), F.lit(0)).alias("offset"))
    )
    kept = (
        cum.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tokens", F.col("offset") + F.col("cum_in"))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )

    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            round_half_up(F.avg("q"), 4).alias("avg_quality"),
        )
        .orderBy("source")
    )


SAMPLE_PCT = 20


def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: an arithmetic-hash coin per
    doc (reproducible across engines and runs — the property a
    training-data pipeline needs for resumable sampling), reported
    per source stratum."""
    d = load_table(spark, sf_dir, "documents")
    coin = F.pmod(knuth32(F.col("doc_id")), F.lit(100))
    return (
        d.withColumn("coin", coin)
        .filter(F.col("coin") < SAMPLE_PCT)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(F.size(words())).alias("sampled_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing any word
# n-gram with the held-out eval set. n=3 at test scale (the synthetic
# vocabulary is ~30 words, so 3-grams produce a meaningful overlap
# mix); production pipelines use n=8..13 — the plan shape is
# identical.
# ---------------------------------------------------------------------------
DECON_N = 3
EVAL_MOD = 97  # doc_id % 97 == 0 -> held-out eval document


def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training doc: how many distinct word n-grams it shares with
    the eval split, and the contaminated verdict. The eval n-gram set
    is the small side — broadcast, so at 100 TB the training scan
    never shuffles on the join; the only exchange is the per-doc
    distinct-count aggregation."""
    d = load_table(spark, sf_dir, "documents")
    is_eval = F.pmod(F.col("doc_id"), F.lit(EVAL_MOD)) == 0
    train = d.filter(~is_eval)
    ngram = F.lower("gram").alias("ngram")
    eval_ngrams = (
        word_ngrams(d.filter(is_eval), DECON_N).select(ngram).distinct()
    )
    train_ngrams = (
        word_ngrams(train, DECON_N).select("doc_id", ngram).distinct()
    )
    hits = (
        train_ngrams.join(F.broadcast(eval_ngrams), "ngram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing: contiguous greedy fill of fixed-size context
# windows, per source, in doc_id order (the deterministic packing a
# pretraining tokenizer shard job does).
# ---------------------------------------------------------------------------
PACK_CONTEXT = 512


def sequence_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_id = floor(start_offset / context) where start_offset is
    the per-source running token sum *before* each doc. The running
    sum reuses the two-phase prefix-sum shape from training_mixture —
    (source, doc_id-range-bucket) partitions for the heavy window,
    bucket subtotals via a bounded triangular join, offsets broadcast
    back — so no WindowExec ever sees a whole source in one task."""
    d = load_table(spark, sf_dir, "documents")
    mx = int(d.agg(F.max("doc_id")).head()[0])
    t = d.select(
        "doc_id",
        "source",
        F.size(words()).cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") * PREFIX_BUCKETS / F.lit(mx + 1))
        .cast("int")
        .alias("bucket"),
    )
    run_w = (
        Window.partitionBy("source", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_in", F.sum("n_tokens").over(run_w))
    btot = cum.groupBy("source", "bucket").agg(F.max("cum_in").alias("pt"))
    offsets = (
        btot.alias("a")
        .join(
            btot.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("b.bucket") < F.col("a.bucket")),
            "left",
        )
        .groupBy(F.col("a.source").alias("source"),
                 F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.pt"), F.lit(0)).alias("offset"))
    )
    packed = (
        cum.join(F.broadcast(offsets), ["source", "bucket"])
        .withColumn("cum_tokens", F.col("offset") + F.col("cum_in"))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / PACK_CONTEXT),
        )
    )
    per_pack = packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
    return (
        per_pack.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("pack_tokens").alias("total_tokens"),
            F.max("pack_tokens").alias("max_pack_tokens"),
            round_half_up(
                F.sum("pack_tokens") / (F.count(F.lit(1)) * PACK_CONTEXT), 4
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


ORACLES: dict[str, str] = {
    "stratified_sample": f"""
        SELECT source, count(*) AS n_sampled,
               CAST(sum(len({SQL_WORDS})) AS BIGINT) AS sampled_tokens,
               min(doc_id) AS first_doc
        FROM documents
        WHERE {sql_knuth32("doc_id")} % 100 < {SAMPLE_PCT}
        GROUP BY source ORDER BY source
    """,
    "training_mixture": f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(w) AS INT) AS n_tokens,
                   0.5 * least(len(w) / 200.0, 1.0)
                   + 0.3 * (1.0 - len(list_filter(w, x -> x IN
                         ('the','a','of','and','to','in','is'))) * 1.0 / len(w))
                   + 0.2 * least(((length(text) - (len(w) - 1)) * 1.0 / len(w)) / 8.0, 1.0)
                       AS q,
                   {sql_content_md5("text")} AS content_md5
            FROM (SELECT *, {SQL_WORDS} AS w FROM documents)
        ), filtered AS (
            SELECT * FROM scored WHERE q >= {QUALITY_THRESHOLD}
        ), canonical AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY content_md5
                                             ORDER BY doc_id) AS rn
                FROM filtered)
            WHERE rn = 1
        ), kept AS (
            SELECT * FROM (
                SELECT *, sum(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
                FROM canonical)
            WHERE cum_tokens <= {TOKEN_BUDGET}
        )
        SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               {sql_round_half_up("avg(q)", 4)} AS avg_quality
        FROM kept GROUP BY source ORDER BY source
    """,
    "decontaminate_ngram_overlap": f"""
        WITH ngrams AS (
            SELECT doc_id, lower(gram) AS ngram
            FROM ({sql_word_ngrams(DECON_N)})),
        eval_ng AS (
            SELECT DISTINCT ngram FROM ngrams WHERE doc_id % {EVAL_MOD} = 0),
        train_ng AS (
            SELECT DISTINCT doc_id, ngram FROM ngrams
            WHERE doc_id % {EVAL_MOD} <> 0),
        hits AS (
            SELECT doc_id, count(*) AS n_shared
            FROM train_ng JOIN eval_ng USING (ngram)
            GROUP BY doc_id)
        SELECT d.doc_id, d.source,
               COALESCE(h.n_shared, 0) AS n_shared_ngrams,
               COALESCE(h.n_shared, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % {EVAL_MOD} <> 0
        ORDER BY d.doc_id
    """,
    "sequence_pack": f"""
        WITH t AS (
            SELECT doc_id, source,
                   CAST(len({SQL_WORDS}) AS BIGINT)
                       AS n_tokens
            FROM documents),
        c AS (
            SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
            FROM t),
        packed AS (
            SELECT *, CAST(floor((cum_tokens - n_tokens) * 1.0
                                 / {PACK_CONTEXT}) AS BIGINT) AS pack_id
            FROM c),
        per_pack AS (
            SELECT source, pack_id, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
            FROM packed GROUP BY source, pack_id)
        SELECT source, count(*) AS n_packs,
               CAST(sum(n_docs) AS BIGINT) AS n_docs,
               CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
               max(pack_tokens) AS max_pack_tokens,
               {sql_round_half_up(
                   f"sum(pack_tokens) * 1.0 / (count(*) * {PACK_CONTEXT})", 4
               )} AS fill_ratio
        FROM per_pack GROUP BY source ORDER BY source
    """,
}

QUERIES = {
    "training_mixture": training_mixture_q,
    "stratified_sample": stratified_sample_q,
    "decontaminate_ngram_overlap": decontaminate_q,
    "sequence_pack": sequence_pack_q,
}


# --------------------------------------------------------------------------
# Temperature-based domain mixing (mT5/XLM-R style: sample source s
# with p_s ∝ n_tokens_s^ALPHA, ALPHA<1 upsamples small domains). Pure
# aggregate arithmetic: one groupBy(source) + a broadcast 1-row totals
# join — no window, scale-free at any corpus size.
# --------------------------------------------------------------------------
MIX_ALPHA = 0.7


def mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(words()).cast("long")
    per = (
        d.select("source", toks.alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .withColumn(
            "w_raw", F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w_raw").alias("tot_w")
    )
    share = F.col("n_tokens") / F.col("tot_tokens")
    weight = F.col("w_raw") / F.col("tot_w")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round_half_up(share, 4).alias("token_share"),
            round_half_up(weight, 4).alias("sample_weight"),
            round_half_up(weight / share, 4).alias("upsample_factor"),
        )
        .orderBy("source")
    )


ORACLES["mixture_weights"] = f"""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(len({SQL_WORDS}))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    w AS (SELECT *, pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) AS w_raw
          FROM per),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   sum(w_raw) AS tot_w FROM w)
    SELECT source, n_docs, n_tokens,
           {sql_round_half_up("n_tokens * 1.0 / tot_tokens", 4)} AS token_share,
           {sql_round_half_up("w_raw / tot_w", 4)} AS sample_weight,
           {sql_round_half_up(
               "(w_raw / tot_w) / (n_tokens * 1.0 / tot_tokens)", 4
           )} AS upsample_factor
    FROM w CROSS JOIN tot ORDER BY source
"""
QUERIES["mixture_weights"] = mixture_weights_q


# --------------------------------------------------------------------------
# CDC → training-data fusion: the engine's headline composition. The
# document corpus itself is a CHANGE STREAM (docs get created, edited,
# deleted upstream); the training pipeline must consume the
# materialized latest state, not the raw table. This operator chains
# envelope synthesis (keyed by doc_id, deterministic arithmetic) →
# last-write-wins materialization → token statistics per source — all
# one declarative plan: narrow synthesis, one pk shuffle for the
# window, one groupBy(source).
# --------------------------------------------------------------------------
def cdc_document_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    versions = d.select(
        "doc_id", "source", "text", n_versions(k).alias("nv"),
        is_deleted(k).alias("is_del"),
    ).select(
        "doc_id",
        "source",
        "text",
        "nv",
        "is_del",
        F.explode(F.sequence(F.lit(1), F.col("nv") + F.lit(1))).alias("v"),
    ).filter((F.col("v") <= F.col("nv")) | F.col("is_del"))
    cdc = versions.select(
        "doc_id",
        "source",
        F.when(F.col("v") == 1, "c")
        .when(F.col("v") <= F.col("nv"), "u")
        .otherwise("d")
        .alias("op"),
        event_seq(F.col("doc_id"), F.col("v")).alias("seq"),
        # edits append a revision marker so each version's token
        # count differs — NULL image on deletes
        F.when(
            F.col("v") <= F.col("nv"),
            F.concat(
                F.col("text"),
                F.concat_ws(
                    "", F.lit(" rev"), F.col("v").cast("string")
                ),
            ),
        ).alias("after_text"),
    )
    live = latest_state(cdc, "doc_id").select(
        "doc_id", "source", F.col("after_text").alias("text")
    )
    toks = F.size(words()).cast("long")
    return (
        live.select("source", toks.alias("n_toks"),
                    F.length("text").cast("long").alias("n_chars"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_live_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


ORACLES["cdc_document_pipeline"] = f"""
    WITH base AS (
        SELECT doc_id, source, text,
               {sql_n_versions("doc_id")} AS nv,
               {sql_is_deleted("doc_id")} AS is_del
        FROM documents),
    versions AS (
        SELECT doc_id, source, text, nv, is_del,
               unnest(range(1, CAST(nv AS BIGINT) + 2)) AS v
        FROM base),
    cdc AS (
        SELECT doc_id, source,
               CASE WHEN v = 1 THEN 'c'
                    WHEN v <= nv THEN 'u' ELSE 'd' END AS op,
               {sql_event_seq("doc_id", "v")} AS seq,
               CASE WHEN v <= nv
                    THEN text || ' rev' || CAST(v AS VARCHAR) END
                   AS after_text
        FROM versions WHERE v <= nv OR is_del),
    live AS (
        SELECT doc_id, source, after_text AS text
        FROM {sql_latest_state("cdc", "doc_id")})
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_live_docs,
           CAST(sum(len({SQL_WORDS}))
                AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM live GROUP BY source ORDER BY source
"""
QUERIES["cdc_document_pipeline"] = cdc_document_pipeline_q


# --------------------------------------------------------------------------
# Document chunking with overlap: split each document into fixed-size
# token windows advanced by a stride (stride < chunk ⇒ overlapping
# context), the standard context-window prep for both pretraining and
# retrieval corpora. A chunk is emitted only if it contributes tokens
# the previous chunk didn't cover (len > chunk − stride), so the tail
# is never a pure sub-window. Everything is codegen'd array math —
# one explode of the per-doc start sequence, slice + array_join + md5
# for the verifiable chunk fingerprint; per-doc cost is O(n_tokens ·
# chunk/stride) and the plan is a pure scan→explode→project (no
# shuffle at all until a consumer aggregates).
# --------------------------------------------------------------------------
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def chunk_documents(d: DataFrame) -> DataFrame:
    ws = words()
    n = F.size(ws)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)),
                        F.lit(CHUNK_STRIDE))
    ch = d.select(
        "doc_id", "source", ws.alias("w"), n.alias("n_words"),
        F.posexplode(starts).alias("chunk_id", "start"),
    ).filter(
        (F.col("start") == 0)
        | (F.col("n_words") - F.col("start") > CHUNK_TOKENS - CHUNK_STRIDE)
    )
    toks = F.slice(F.col("w"), F.col("start") + 1, CHUNK_TOKENS)
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start").cast("long").alias("start_tok"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.array_join(toks, " ")).alias("chunk_md5"),
    )


def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id", "chunk_id"
    )


ORACLES["chunk_documents"] = f"""
    WITH t AS (SELECT doc_id, {SQL_WORDS} AS w
               FROM documents),
    s AS (SELECT doc_id, w, len(w) AS n_words,
                 unnest(range(0, greatest(len(w), 1), {CHUNK_STRIDE}))
                     AS start,
                 unnest(range(0, CAST(ceil(greatest(len(w), 1)
                     / {CHUNK_STRIDE}.0) AS BIGINT))) AS chunk_id
          FROM t),
    k AS (SELECT * FROM s
          WHERE start = 0
             OR n_words - start > {CHUNK_TOKENS - CHUNK_STRIDE}),
    c AS (SELECT doc_id, chunk_id, start,
                 w[start + 1 : start + {CHUNK_TOKENS}] AS toks
          FROM k)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks, ' ')) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_id
"""
QUERIES["chunk_documents"] = chunk_documents_q


# --------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw
# document by how much its hashed unigram features look like a target
# domain. Features are words hashed into DSIR_BUCKETS buckets (the
# oracle-portable md5-h60 idiom); bucket probabilities are
# add-one-smoothed MLEs of the target split vs the full corpus, and a
# document's weight is Σ_w [ln p_tgt(b(w)) − ln p_raw(b(w))],
# quantized per-bucket to integer micro-nats BEFORE the per-doc sum
# (reorder-proof integer aggregation — the repo-standard trick).
# Deterministic resampling variant: take the top-K by weight.
# Scale: two bucket groupBys (bucket space is a 256-row broadcast),
# one broadcast join back to the word stream, one per-doc sum, one
# TakeOrdered — linear in the corpus, no windows, no HOFs.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 256
DSIR_TOP = 100
DSIR_TARGET_LANG = "en"


def dsir_importance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wb = d.select("doc_id", "lang", F.explode(words()).alias("w")).select(
        "doc_id", "lang", F.pmod(h60("w"), F.lit(DSIR_BUCKETS)).alias("bucket")
    )
    # one pass builds BOTH distributions (raw count + filtered target
    # count per bucket); corpus totals then come from the 256-row
    # bucket table, not another scan — 2 word-stream passes total
    # (this one + the per-doc scoring join), down from 4.
    counts = wb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, 1)).alias(
            "c_tgt"
        ),
    )
    tot = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    lr_micro = to_units(
        F.log(
            (F.col("c_tgt") + F.lit(1.0))
            / (F.col("n_tgt") + F.lit(DSIR_BUCKETS))
        )
        - F.log(
            (F.col("c_raw") + F.lit(1.0))
            / (F.col("n_raw") + F.lit(DSIR_BUCKETS))
        ),
        6,
    )
    ratio = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", lr_micro.alias("lr_micro")
    )
    return (
        wb.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("lr_micro").alias("weight_micro"),
        )
        .orderBy(F.desc("weight_micro"), F.asc("doc_id"))
        .limit(DSIR_TOP)
    )


ORACLES["dsir_importance"] = f"""
    WITH w AS (
        SELECT doc_id, lang,
               {sql_h60("t")} % {DSIR_BUCKETS} AS bucket
        FROM (SELECT doc_id, lang,
                     unnest({SQL_WORDS}) AS t
              FROM documents)),
    counts AS (SELECT bucket, count(*) AS c_raw,
                      count(*) FILTER (lang = '{DSIR_TARGET_LANG}')
                          AS c_tgt
               FROM w GROUP BY bucket),
    tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
                   CAST(sum(c_tgt) AS BIGINT) AS n_tgt
            FROM counts),
    r AS (SELECT bucket,
                 {sql_to_units(
                     f"ln((c_tgt + 1.0) / (n_tgt + {DSIR_BUCKETS}))"
                     f" - ln((c_raw + 1.0) / (n_raw + {DSIR_BUCKETS}))", 6
                 )} AS lr_micro
          FROM counts CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(lr_micro) AS BIGINT) AS weight_micro
    FROM w JOIN r USING (bucket)
    GROUP BY doc_id
    ORDER BY weight_micro DESC, doc_id LIMIT {DSIR_TOP}
"""
QUERIES["dsir_importance"] = dsir_importance_q
