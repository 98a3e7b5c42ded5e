"""Distributed sketch operators: HyperLogLog distinct counting, Bloom
membership pre-filtering, and weighted priority sampling.

These are the sketch/sampling primitives a 100 TB training-data
pipeline leans on when exact global state is too big to shuffle:

- HLL turns COUNT(DISTINCT) into a scan + a 256-group aggregate (the
  register table), so cardinality over 100 TB is one map-side-combined
  pass with a few KB of shuffle traffic.
- A Bloom filter over a contamination set is built once (bounded) and
  broadcast, so decontaminating the full corpus is a broadcast join —
  no shuffle of the 100 TB side, no O(corpus × benchmark) pairing.
- Exponential-clock sampling (Efraimidis–Spirakis A-ES) picks a
  weighted sample with a single TakeOrderedAndProject — no global
  sort materialization, no driver-side collect.

Everything is deterministic and oracle-verified: hashes are the
repo-standard portable 60-bit md5 prefix (`tokens.h60` in Spark, its
twin `tokens.sql_h60` in the oracles), and the HLL register
math is kept in INTEGER space (Σ 2^(53-ρ) as a BIGINT) so the sketch
state matches the oracle bit-for-bit; floats appear only in the final
scalar estimate, computed by the identical literal formula in both
engines.

Reference semantics: Debezium itself has no sketches; these implement
the published HLL (Flajolet et al. 2007) and A-ES (Efraimidis &
Spirakis 2006) algorithms as first-class pipeline operators per the
builder brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debezium_spark.functions.rounding import round_half_up, sql_round_half_up
from debezium_spark.functions.tokens import h60, sql_h60, word_ngrams
from debezium_spark.functions.tokens import sql_word_ngrams
from debezium_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# HyperLogLog distinct count (p=8, m=256 registers)
# --------------------------------------------------------------------------

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
# alpha_m * m^2 * 2^53 assembled from the same literals in both
# engines (see ORACLES) so the double arithmetic is bit-identical.

def hll_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality of events.user_id with integer-exact
    register state.

    Plan shape (the 100 TB story): one scan of events, a partial-agg
    groupBy over 256 register buckets (map-side combine reduces each
    task's output to ≤256 rows), then a single-row final fold. The
    exact count(DISTINCT) alongside is only the verification column.

    Register math stays integral: h is a 60-bit md5 hash; bucket =
    h mod 256; the remaining 52-bit quotient q gives the rank
    ρ = 53 - bitlength(q) (ρ = 53 when q = 0), and the harmonic
    denominator Σ 2^-ρ is carried as S = Σ 2^(53-ρ), a BIGINT
    (≤ 256·2^53 < 2^63), so sketch state has no float drift. The
    standard small-range linear-counting correction applies when the
    raw estimate ≤ 2.5m and empty registers exist.
    """
    e = load_table(spark, sf_dir, "events").select("user_id")
    h = h60(F.concat(F.lit("u"), F.col("user_id").cast("string")))
    hashed = e.select(
        F.pmod(h, F.lit(_HLL_M)).alias("bucket"),
        F.shiftright(h, _HLL_P).alias("q"),  # h div m: h is non-negative
    )
    rho = F.when(F.col("q") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(F.col("q")))
    )
    regs_present = hashed.select("bucket", rho.alias("rho")).groupBy(
        "bucket"
    ).agg(F.max("rho").alias("r"))
    all_buckets = spark.range(_HLL_M).select(
        F.col("id").cast("long").alias("bucket")
    )
    regs = all_buckets.join(regs_present, "bucket", "left").select(
        "bucket", F.coalesce(F.col("r"), F.lit(0)).cast("long").alias("r")
    )
    folded = regs.agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
        ).alias("s_int"),
        F.sum((F.col("r") == 0).cast("long")).alias("v_zero"),
        F.sum(F.col("bucket") * F.col("r")).alias("reg_checksum"),
    )
    exact = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est_raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        * F.lit(9007199254740992.0)
        / F.col("s_int").cast("double")
    )
    est = F.when(
        (est_raw <= F.lit(640.0)) & (F.col("v_zero") > 0),
        F.lit(256.0) * F.log(F.lit(256.0) / F.col("v_zero").cast("double")),
    ).otherwise(est_raw)
    return folded.crossJoin(exact).select(
        F.lit(_HLL_M).cast("int").alias("m"),
        F.col("v_zero").cast("long").alias("v_zero"),
        F.col("s_int").cast("long").alias("s_int"),
        F.col("reg_checksum").cast("long").alias("reg_checksum"),
        round_half_up(est, 2).alias("est"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination pre-filter
# --------------------------------------------------------------------------

_BLOOM_BITS = 16384  # m: bit-array size
_BLOOM_K = 3  # hash functions
_BLOOM_NGRAM = 6  # word n-gram size
_BENCH_MOD = 23  # doc_id % 23 == 0 → benchmark (contamination) set


def bloom_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pre-filter: build a Bloom filter over the
    benchmark set's word 6-grams, probe every corpus gram, and report
    per-source hit/false-positive counts against exact membership.

    Scale design: the benchmark (contamination) side is bounded by
    construction — its k·|grams| set bit positions are the ONLY state
    that crosses the cluster, broadcast to every executor; the 100 TB
    corpus side is a single scan + broadcast hash join (no shuffle of
    the big side, which a direct gram-level equi-join would need).
    The exact-membership join here exists to measure the sketch's
    false-positive rate in the same pass; a production run drops it
    and rechecks only the flagged docs.

    Bits are k=3 salted 60-bit md5 hashes mod 16384; a gram "hits"
    when all 3 positions are set. Every output column is a BIGINT
    count, so the gate is exact.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # Distinct per doc: a gram repeated inside one document is one
    # membership question, and dedup keeps the count==k bloom test
    # well-defined after the position explode.
    grams = word_ngrams(docs, _BLOOM_NGRAM).drop("pos").distinct()
    bench = grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
    corpus = grams.filter(F.col("doc_id") % _BENCH_MOD != 0)

    def positions(g: DataFrame) -> DataFrame:
        pos_cols = [
            F.pmod(
                h60(F.concat_ws(",", F.lit(f"b{i}"), F.col("gram"))),
                F.lit(_BLOOM_BITS),
            )
            for i in range(1, _BLOOM_K + 1)
        ]
        return g.select(
            "doc_id", "source", "gram", F.explode(F.array(*pos_cols)).alias("p")
        )

    bloom_bits = positions(bench).select("p").distinct()
    bench_gram_set = bench.select(
        h60(F.col("gram")).alias("gh")
    ).distinct()

    probe = positions(corpus).join(
        F.broadcast(bloom_bits).withColumn("hit", F.lit(1)), "p", "left"
    )
    per_gram = probe.groupBy("doc_id", "source", "gram").agg(
        (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == _BLOOM_K)
        .cast("long")
        .alias("bloom_hit")
    )
    with_truth = per_gram.join(
        F.broadcast(bench_gram_set).withColumn("true_hit", F.lit(1)),
        h60(F.col("gram")) == F.col("gh"),
        "left",
    ).select(
        "doc_id",
        "source",
        "bloom_hit",
        F.coalesce(F.col("true_hit"), F.lit(0)).cast("long").alias("true_hit"),
    )
    per_doc = with_truth.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum("bloom_hit").alias("n_bloom"),
        F.sum("true_hit").alias("n_true"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_bloom").cast("long").alias("n_bloom_hits"),
            F.sum("n_true").cast("long").alias("n_true_hits"),
            (F.sum("n_bloom") - F.sum("n_true"))
            .cast("long")
            .alias("n_false_pos"),
            F.sum((F.col("n_bloom") > 0).cast("long"))
            .cast("long")
            .alias("n_flagged_docs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Weighted priority sampling (Efraimidis–Spirakis exponential clocks)
# --------------------------------------------------------------------------

_WS_K = 100
_TWO60 = float(2 ** 60)


def weighted_priority_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of documents, weight = n_chars:
    each doc draws u ∈ (0,1] from its own md5 hash and gets an
    exponential clock key = -ln(u)/w; the k smallest keys are the
    sample (A-ES). Selection probability is proportional to weight
    without materializing or shuffling the corpus: the plan is a scan
    + TakeOrderedAndProject(k) — each task keeps its local top-k and
    the driver merges k·tasks rows, so the operator is a single pass
    at any scale.

    The hash→uniform map is the portable 60-bit md5 prefix (+1 so
    u > 0), identical in the DuckDB oracle; key ordering is computed
    at full double precision and only the reported key is rounded.

    Ranks over the k=100 rows ALREADY selected by
    TakeOrderedAndProject come from sort_array(collect_list(struct))
    + posexplode (position = rank) — no WindowExec in the plan, so
    the bench log stays free of single-partition window warnings.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        h60(F.concat(F.lit("ws"), F.col("doc_id").cast("string")))
        + F.lit(1)
    ).cast("double") / F.lit(_TWO60)
    key = -F.log(u) / F.col("n_chars").cast("double")
    ranked = (
        d.select("doc_id", F.col("n_chars").cast("long").alias("weight"),
                 key.alias("k_full"))
        .orderBy("k_full", "doc_id")
        .limit(_WS_K)
    )
    packed = ranked.agg(
        F.sort_array(
            F.collect_list(F.struct("k_full", "doc_id", "weight"))
        ).alias("rows")
    )
    return (
        packed.select(F.posexplode("rows").alias("pos", "r"))
        .select(
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("r.doc_id").alias("doc_id"),
            F.col("r.weight").alias("weight"),
            F.round(F.col("r.k_full") + F.lit(1e-12), 6).alias("clock_key"),
        )
        .orderBy("rank")
    )


QUERIES = {
    "hll_distinct_users": hll_distinct_users_q,
    "bloom_decontaminate": bloom_decontaminate_q,
    "weighted_priority_sample": weighted_priority_sample_q,
}

# the _BLOOM_K salted positions of `gram`, as `positions` computes them
_SQL_BLOOM_POS = ", ".join(
    sql_h60(f"'b{i},' || gram") + f" % {_BLOOM_BITS}"
    for i in range(1, _BLOOM_K + 1)
)

ORACLES: dict[str, str] = {
    "hll_distinct_users": f"""
        WITH hashed AS (
            SELECT {sql_h60("'u' || CAST(user_id AS VARCHAR)")} AS h
            FROM events
        ),
        ranks AS (
            SELECT h % {_HLL_M} AS bucket,
                   CASE WHEN h // {_HLL_M} = 0 THEN 53
                        ELSE 53 - length(bin(h // {_HLL_M})) END AS rho
            FROM hashed
        ),
        regs AS (
            SELECT b.bucket, CAST(coalesce(max(ranks.rho), 0) AS BIGINT) AS r
            FROM (SELECT range AS bucket FROM range({_HLL_M})) b
            LEFT JOIN ranks ON ranks.bucket = b.bucket
            GROUP BY b.bucket
        ),
        folded AS (
            SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(53 - r AS INTEGER)) AS BIGINT) AS s_int,
                   CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
                   CAST(sum(bucket * r) AS BIGINT) AS reg_checksum
            FROM regs
        ),
        exact AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events
        )
        SELECT CAST({_HLL_M} AS INT) AS m, v_zero, s_int, reg_checksum,
               {sql_round_half_up(
                   "CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0"
                   " * 9007199254740992.0 / CAST(s_int AS DOUBLE)) <= 640.0"
                   " AND v_zero > 0"
                   " THEN 256.0 * ln(256.0 / CAST(v_zero AS DOUBLE))"
                   " ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0"
                   " * 9007199254740992.0 / CAST(s_int AS DOUBLE) END", 2
               )} AS est,
               exact_distinct
        FROM folded, exact
    """,
    "bloom_decontaminate": f"""
        WITH grams AS (
            SELECT doc_id, source, gram
            FROM ({sql_word_ngrams(_BLOOM_NGRAM, keep="doc_id, source")})
        ),
        bench AS (SELECT DISTINCT * FROM grams WHERE doc_id % {_BENCH_MOD} = 0),
        corpus AS (SELECT DISTINCT * FROM grams WHERE doc_id % {_BENCH_MOD} != 0),
        bloom_bits AS (
            SELECT DISTINCT unnest([{_SQL_BLOOM_POS}]) AS p
            FROM bench
        ),
        bench_gram_set AS (
            SELECT DISTINCT {sql_h60("gram")} AS gh
            FROM bench
        ),
        corpus_pos AS (
            SELECT doc_id, source, gram, unnest([{_SQL_BLOOM_POS}]) AS p
            FROM corpus
        ),
        per_gram AS (
            SELECT c.doc_id, c.source, c.gram,
                   CASE WHEN count(bb.p) = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit
            FROM corpus_pos c
            LEFT JOIN bloom_bits bb ON bb.p = c.p
            GROUP BY c.doc_id, c.source, c.gram
        ),
        with_truth AS (
            SELECT g.doc_id, g.source, g.bloom_hit,
                   CASE WHEN s.gh IS NULL THEN 0 ELSE 1 END AS true_hit
            FROM per_gram g
            LEFT JOIN bench_gram_set s
              ON s.gh = {sql_h60("g.gram")}
        ),
        per_doc AS (
            SELECT doc_id, source, count(*) AS n_grams,
                   sum(bloom_hit) AS n_bloom, sum(true_hit) AS n_true
            FROM with_truth GROUP BY doc_id, source
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_grams) AS BIGINT) AS n_grams,
               CAST(sum(n_bloom) AS BIGINT) AS n_bloom_hits,
               CAST(sum(n_true) AS BIGINT) AS n_true_hits,
               CAST(sum(n_bloom) - sum(n_true) AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN n_bloom > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_docs
        FROM per_doc
        GROUP BY source ORDER BY source
    """,
    "weighted_priority_sample": f"""
        WITH keyed AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
                   -ln(({sql_h60("'ws' || CAST(doc_id AS VARCHAR)")} + 1)
                       / {_TWO60!r}) / CAST(n_chars AS DOUBLE) AS k_full
            FROM documents
        ),
        top AS (
            SELECT * FROM keyed ORDER BY k_full, doc_id LIMIT {_WS_K}
        )
        SELECT CAST(row_number() OVER (ORDER BY k_full, doc_id) AS INT) AS rank,
               doc_id, weight,
               round(k_full + 1e-12, 6) AS clock_key
        FROM top ORDER BY rank
    """,
}


# --------------------------------------------------------------------------
# Z-order (Morton) clustering — the lakehouse data-layout primitive
# (Delta/Iceberg OPTIMIZE ZORDER BY): interleaving the bits of two
# sort dimensions gives a 1-D key whose contiguous blocks are tight
# 2-D rectangles, so files written in z order carry narrow min/max
# stats on BOTH columns and scans prune on either predicate.
# --------------------------------------------------------------------------


def zorder_cluster_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-interleave (user_id, value-decile bucket) into a 32-bit
    z key, group events into z-prefix blocks (z >> 16 — each block is
    by construction a ≤256x256 rectangle in key space), and report
    per-block row counts and per-dimension min/max: the exact stats a
    z-ordered file layout exposes for data skipping. Pure integer bit
    arithmetic — one narrow projection plus one bounded groupBy; no
    global sort is needed because the block id is a prefix of z, not
    a row_number. At 100 TB this is the repartitionByRange key for
    the writer; here the block table itself is the verifiable output.
    """
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.pmod(F.col("user_id"), F.lit(65536)).cast("long").alias("k1"),
        F.least(
            F.floor(F.col("value") * 10).cast("long"), F.lit(65535).cast("long")
        ).alias("k2"),
    )
    z = (F.shiftright(F.col("k1"), 0).bitwiseAND(F.lit(1))) * F.lit(2) + (F.shiftright(F.col("k2"), 0).bitwiseAND(F.lit(1))) * F.lit(1) + (F.shiftright(F.col("k1"), 1).bitwiseAND(F.lit(1))) * F.lit(8) + (F.shiftright(F.col("k2"), 1).bitwiseAND(F.lit(1))) * F.lit(4) + (F.shiftright(F.col("k1"), 2).bitwiseAND(F.lit(1))) * F.lit(32) + (F.shiftright(F.col("k2"), 2).bitwiseAND(F.lit(1))) * F.lit(16) + (F.shiftright(F.col("k1"), 3).bitwiseAND(F.lit(1))) * F.lit(128) + (F.shiftright(F.col("k2"), 3).bitwiseAND(F.lit(1))) * F.lit(64) + (F.shiftright(F.col("k1"), 4).bitwiseAND(F.lit(1))) * F.lit(512) + (F.shiftright(F.col("k2"), 4).bitwiseAND(F.lit(1))) * F.lit(256) + (F.shiftright(F.col("k1"), 5).bitwiseAND(F.lit(1))) * F.lit(2048) + (F.shiftright(F.col("k2"), 5).bitwiseAND(F.lit(1))) * F.lit(1024) + (F.shiftright(F.col("k1"), 6).bitwiseAND(F.lit(1))) * F.lit(8192) + (F.shiftright(F.col("k2"), 6).bitwiseAND(F.lit(1))) * F.lit(4096) + (F.shiftright(F.col("k1"), 7).bitwiseAND(F.lit(1))) * F.lit(32768) + (F.shiftright(F.col("k2"), 7).bitwiseAND(F.lit(1))) * F.lit(16384) + (F.shiftright(F.col("k1"), 8).bitwiseAND(F.lit(1))) * F.lit(131072) + (F.shiftright(F.col("k2"), 8).bitwiseAND(F.lit(1))) * F.lit(65536) + (F.shiftright(F.col("k1"), 9).bitwiseAND(F.lit(1))) * F.lit(524288) + (F.shiftright(F.col("k2"), 9).bitwiseAND(F.lit(1))) * F.lit(262144) + (F.shiftright(F.col("k1"), 10).bitwiseAND(F.lit(1))) * F.lit(2097152) + (F.shiftright(F.col("k2"), 10).bitwiseAND(F.lit(1))) * F.lit(1048576) + (F.shiftright(F.col("k1"), 11).bitwiseAND(F.lit(1))) * F.lit(8388608) + (F.shiftright(F.col("k2"), 11).bitwiseAND(F.lit(1))) * F.lit(4194304) + (F.shiftright(F.col("k1"), 12).bitwiseAND(F.lit(1))) * F.lit(33554432) + (F.shiftright(F.col("k2"), 12).bitwiseAND(F.lit(1))) * F.lit(16777216) + (F.shiftright(F.col("k1"), 13).bitwiseAND(F.lit(1))) * F.lit(134217728) + (F.shiftright(F.col("k2"), 13).bitwiseAND(F.lit(1))) * F.lit(67108864) + (F.shiftright(F.col("k1"), 14).bitwiseAND(F.lit(1))) * F.lit(536870912) + (F.shiftright(F.col("k2"), 14).bitwiseAND(F.lit(1))) * F.lit(268435456) + (F.shiftright(F.col("k1"), 15).bitwiseAND(F.lit(1))) * F.lit(2147483648) + (F.shiftright(F.col("k2"), 15).bitwiseAND(F.lit(1))) * F.lit(1073741824)
    return (
        keyed.withColumn("z", z)
        .groupBy(F.shiftright(F.col("z"), 16).alias("z_block"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("k1").cast("long").alias("k1_min"),
            F.max("k1").cast("long").alias("k1_max"),
            F.min("k2").cast("long").alias("k2_min"),
            F.max("k2").cast("long").alias("k2_max"),
        )
        .orderBy("z_block")
    )


ORACLES["zorder_cluster_events"] = """
    WITH keyed AS (
        SELECT user_id % 65536 AS k1,
               least(CAST(floor(value * 10) AS BIGINT), 65535) AS k2
        FROM events
    ),
    zed AS (
        SELECT k1, k2,
               ((k1 >> 0) & 1) * 2 + ((k2 >> 0) & 1) * 1 + ((k1 >> 1) & 1) * 8 + ((k2 >> 1) & 1) * 4 + ((k1 >> 2) & 1) * 32 + ((k2 >> 2) & 1) * 16 + ((k1 >> 3) & 1) * 128 + ((k2 >> 3) & 1) * 64 + ((k1 >> 4) & 1) * 512 + ((k2 >> 4) & 1) * 256 + ((k1 >> 5) & 1) * 2048 + ((k2 >> 5) & 1) * 1024 + ((k1 >> 6) & 1) * 8192 + ((k2 >> 6) & 1) * 4096 + ((k1 >> 7) & 1) * 32768 + ((k2 >> 7) & 1) * 16384 + ((k1 >> 8) & 1) * 131072 + ((k2 >> 8) & 1) * 65536 + ((k1 >> 9) & 1) * 524288 + ((k2 >> 9) & 1) * 262144 + ((k1 >> 10) & 1) * 2097152 + ((k2 >> 10) & 1) * 1048576 + ((k1 >> 11) & 1) * 8388608 + ((k2 >> 11) & 1) * 4194304 + ((k1 >> 12) & 1) * 33554432 + ((k2 >> 12) & 1) * 16777216 + ((k1 >> 13) & 1) * 134217728 + ((k2 >> 13) & 1) * 67108864 + ((k1 >> 14) & 1) * 536870912 + ((k2 >> 14) & 1) * 268435456 + ((k1 >> 15) & 1) * 2147483648 + ((k2 >> 15) & 1) * 1073741824 AS z
        FROM keyed
    )
    SELECT z >> 16 AS z_block,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(k1) AS BIGINT) AS k1_min,
           CAST(max(k1) AS BIGINT) AS k1_max,
           CAST(min(k2) AS BIGINT) AS k2_min,
           CAST(max(k2) AS BIGINT) AS k2_max
    FROM zed
    GROUP BY z_block ORDER BY z_block
"""
QUERIES["zorder_cluster_events"] = zorder_cluster_events_q


# --------------------------------------------------------------------------
# Count-Min sketch heavy hitters — the hot-key detector.
#
# At 100 TB the question "which keys are hot enough to need salting /
# AQE skew handling?" cannot be answered with an exact per-key count
# table (that IS the skewed shuffle you're trying to avoid). A CMS is
# d×w integers: each task folds its partition into ≤ d·w cells
# (map-side combine), the merged sketch is a few KB, and every key's
# frequency is over-estimated by at most εN with probability 1-δ
# (Cormode & Muthukrishnan 2005). The heavy-hitter report below feeds
# the same salting decision functions/skew.py implements.
# --------------------------------------------------------------------------

_CMS_D = 4     # hash rows
_CMS_W = 512   # counters per row
_CMS_TOP = 15  # report the top-K keys by estimate


def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over events.user_id.

    Plan: one scan → explode each event into its d (row, cell) hits →
    groupBy((row, cell)) count = the sketch (≤ d·w rows cross the
    wire per task). The candidate keys then probe the sketch with a
    broadcast join and take min over rows = the CMS estimate. The
    exact count per key is computed alongside ONLY as the
    verification column (the oracle proves est ≥ exact and est =
    exact where no cell collision occurred — CMS never
    underestimates). Output is the top-K keys by (estimate, key).
    """
    e = load_table(spark, sf_dir, "events").select("user_id")
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                F.pmod(
                    h60(
                        F.concat(
                            F.lit(f"cms{r}:"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    F.lit(_CMS_W),
                ).alias("c"),
            )
            for r in range(_CMS_D)
        ]
    )
    hits = e.select(F.explode(rows).alias("h")).select("h.r", "h.c")
    sketch = hits.groupBy("r", "c").agg(F.count(F.lit(1)).alias("cnt"))

    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(rows).alias("h"),
    ).select("user_id", "exact_n", "h.r", "h.c")
    est = (
        probes.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    # Top-K selection is orderBy().limit() — TakeOrderedAndProject,
    # per-task top-k merged on the driver — NOT a global row_number
    # window over every distinct user (which would move the whole
    # estimate table to one partition). Ranks over the bounded K rows
    # come from sort_array(collect_list(struct)) + posexplode: the
    # struct's leading fields are the sort key (-est_n, user_id), the
    # explode position IS the rank, and the plan contains no
    # WindowExec at any scale.
    top = est.orderBy(F.desc("est_n"), F.asc("user_id")).limit(_CMS_TOP)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("est_n")).alias("neg_est"),
                    F.col("user_id").alias("user_id"),
                    F.col("est_n").alias("est_n"),
                    F.col("exact_n").alias("exact_n"),
                )
            )
        ).alias("rows")
    )
    return (
        packed.select(F.posexplode("rows").alias("pos", "r"))
        .select(
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("r.user_id").alias("user_id"),
            F.col("r.est_n").cast("long").alias("est_n"),
            F.col("r.exact_n").cast("long").alias("exact_n"),
            (F.col("r.est_n") - F.col("r.exact_n")).cast("long").alias("overcount"),
        )
        .orderBy("rank")
    )


_CMS_CELL_SQL = (
    sql_h60("'cms' || CAST({r} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
    + " % {w}"
)

ORACLES["cms_heavy_hitters"] = f"""
    WITH hits AS (
        SELECT r, {_CMS_CELL_SQL.format(r='r', w=_CMS_W)} AS c
        FROM events CROSS JOIN (SELECT unnest(range({_CMS_D})) AS r)
    ),
    sketch AS (SELECT r, c, count(*) AS cnt FROM hits GROUP BY r, c),
    exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id),
    probes AS (
        SELECT e.user_id, e.exact_n, q.r,
               {_CMS_CELL_SQL.format(r='q.r', w=_CMS_W)} AS c
        FROM exact e CROSS JOIN (SELECT unnest(range({_CMS_D})) AS r) q
    ),
    est AS (
        SELECT p.user_id, p.exact_n, min(s.cnt) AS est_n
        FROM probes p JOIN sketch s ON s.r = p.r AND s.c = p.c
        GROUP BY p.user_id, p.exact_n
    )
    SELECT CAST(rank AS INT) AS rank, user_id,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(exact_n AS BIGINT) AS exact_n,
           CAST(est_n - exact_n AS BIGINT) AS overcount
    FROM (SELECT *, row_number() OVER (ORDER BY est_n DESC, user_id) AS rank
          FROM est)
    WHERE rank <= {_CMS_TOP}
    ORDER BY rank
"""
QUERIES["cms_heavy_hitters"] = cms_heavy_hitters_q


# --------------------------------------------------------------------------
# Single-pass histogram quantiles — percentiles at 100 TB.
#
# Exact percentiles need a global sort (events_value_percentiles is
# the small-scale oracle for that). The scale estimator is a
# fixed-bin histogram: one scan folds each partition into ≤ B bin
# counts (map-side combine), and any quantile is answered from the
# B-row cumulative table with linear interpolation inside the
# crossing bin — the same structure t-digest/GK sketches refine, in
# the deterministic fixed-bin form that is portable to the oracle.
# --------------------------------------------------------------------------

_HIST_BINS = 128
_HIST_QS = [("p50", 0.50), ("p90", 0.90), ("p99", 0.99)]


def histogram_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-estimated p50/p90/p99 of events.value per event_type.

    Bin edges come from the GLOBAL min/max (one column-pruned
    aggregate, broadcast one-row frame — min/max of doubles are exact
    so both engines bin identically). Per (type, bin) counts are one
    groupBy; the quantile scan runs on the ≤ types×B cumulative
    table. target_rank = ceil(q·n) (identical double product in both
    engines); the estimate interpolates (bin + reached_fraction) of
    the bin width above the global minimum, left-associated to match
    the oracle bit-for-bit.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    stats = e.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = e.crossJoin(F.broadcast(stats)).select(
        "event_type",
        "mn",
        "mx",
        # Degenerate constant column (mx == mn) pins every value to
        # bin 0 explicitly — double x/0 would yield NULL/inf bins
        # that diverge between engines instead of failing loudly.
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(float(_HIST_BINS))
                ).cast("long"),
                F.lit(_HIST_BINS - 1).cast("long"),
            )
        )
        .alias("bin"),
    )
    counts = binned.groupBy("event_type", "mn", "mx", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    cum = counts.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    qs = F.array(
        *[
            F.struct(F.lit(lbl).alias("q_label"), F.lit(q).alias("q"))
            for lbl, q in _HIST_QS
        ]
    )
    probed = cum.select(
        "*", F.explode(qs).alias("qq")
    ).select(
        "event_type", "mn", "mx", "bin", "cnt", "cum", "n",
        "qq.q_label", "qq.q",
    ).withColumn(
        "target", F.ceil(F.col("q") * F.col("n").cast("double")).cast("long")
    ).filter(F.col("cum") >= F.col("target"))
    first_bin = Window.partitionBy("event_type", "q_label").orderBy("bin")
    hit = probed.withColumn("rn", F.row_number().over(first_bin)).filter(
        F.col("rn") == 1
    )
    frac = (
        F.col("target").cast("double")
        - (F.col("cum") - F.col("cnt")).cast("double")
    ) / F.col("cnt").cast("double")
    est = F.col("mn") + (
        (F.col("bin").cast("double") + frac)
        * ((F.col("mx") - F.col("mn")) / F.lit(float(_HIST_BINS)))
    )
    return hit.select(
        "event_type",
        "q_label",
        F.col("target").cast("long").alias("target_rank"),
        F.col("bin").cast("int").alias("bin"),
        round_half_up(est, 6).alias("est_value"),
    ).orderBy("event_type", "q_label")


ORACLES["histogram_quantiles"] = f"""
    WITH stats AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    binned AS (
        SELECT event_type, mn, mx,
               CASE WHEN mx = mn THEN 0
                    ELSE least(CAST(floor((value - mn) / (mx - mn)
                                     * {float(_HIST_BINS)!r}) AS BIGINT),
                               {_HIST_BINS - 1}) END AS bin
        FROM events CROSS JOIN stats
    ),
    counts AS (
        SELECT event_type, mn, mx, bin, count(*) AS cnt
        FROM binned GROUP BY event_type, mn, mx, bin
    ),
    cum AS (
        SELECT *,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS n
        FROM counts
    ),
    probed AS (
        SELECT c.*, q.q_label, q.q,
               CAST(ceil(q.q * CAST(c.n AS DOUBLE)) AS BIGINT) AS target
        FROM cum c CROSS JOIN (VALUES {", ".join(f"('{lbl}', {q!r})" for lbl, q in _HIST_QS)}) q(q_label, q)
    ),
    hit AS (
        SELECT *, row_number() OVER (PARTITION BY event_type, q_label
                                     ORDER BY bin) AS rn
        FROM probed WHERE cum >= target
    )
    SELECT event_type, q_label,
           CAST(target AS BIGINT) AS target_rank,
           CAST(bin AS INT) AS bin,
           {sql_round_half_up(
               "mn + ((CAST(bin AS DOUBLE)"
               " + (CAST(target AS DOUBLE) - CAST(cum - cnt AS DOUBLE))"
               " / CAST(cnt AS DOUBLE))"
               f" * ((mx - mn) / {float(_HIST_BINS)!r}))", 6
           )} AS est_value
    FROM hit WHERE rn = 1
    ORDER BY event_type, q_label
"""
QUERIES["histogram_quantiles"] = histogram_quantiles_q
