"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (the whole point of LSH here): exact all-pairs Jaccard is
O(n²) and only exists as the small-slice correctness oracle; the scale
path is MinHash → banded LSH → candidate pairs → verify, where pair
generation is bounded by band-bucket membership (one groupBy-join on
band hash, no cross join). Everything is codegen'd column expressions
over word shingles and their md5-60 hashes (functions/tokens.py) —
JVM-side, no lambdas, no Python UDFs.

MinHash signatures use the affine family (a*h+b) mod p over a 32-bit
fold of each shingle's md5-60 hash: one string hash per shingle, and
constants small enough that no product overflows int64 under ANSI
mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.functions import vectors
from debezium_spark.functions.tokens import SQL_WORDS, h60, sql_h60, word_ngrams, words
from debezium_spark.functions.tokens import sql_word_ngrams
from debezium_spark.functions.tokens import content_md5, sql_content_md5
from debezium_spark.operators import similarity as sim
from debezium_spark.sources.tables import load_table

NUM_HASHES = 64
NUM_BANDS = 16
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
JACCARD_THRESHOLD = 0.5
PAIR_SLICE = 300  # doc_id bound for the O(n²) exact-pair oracles
SHINGLE_WORDS = 3  # words per shingle
CC_MAX_ITERS = 20  # safety rail on connected-components rounds


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct word n-gram shingles per doc (identical construction
    in the DuckDB oracles)."""
    return (
        word_ngrams(df, SHINGLE_WORDS)
        .select("doc_id", F.col("gram").alias("shingle"))
        .distinct()
    )


# --------------------------------------------------------------------------
# Exact dedup: normalized-content hash groups
# --------------------------------------------------------------------------
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", content_md5(F.col("text")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (correctness oracle for LSH;
# restricted slice — the scale path is minhash_lsh below)
# --------------------------------------------------------------------------
def _exact_jaccard_pairs(docs: DataFrame) -> DataFrame:
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
    )


def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PAIR_SLICE
    )
    return (
        _exact_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# MinHash + banded LSH (the scale path). Candidate pairs come only
# from shared band buckets; each candidate is then verified with exact
# Jaccard — at 100 TB this is the only near-dup plan that avoids O(n²).
# --------------------------------------------------------------------------
# Affine minhash family g_i(h) = (a_i*h32 + b_i) mod P over the 32-bit
# fold of one md5-60 hash per shingle: one string hash + 64 integer ops
# per shingle instead of 64 string hashes. Constants derived from a
# fixed LCG so signatures are deterministic across sessions; a_i < 2^29
# keeps a_i*h32 < 2^61 — no int64 overflow under ANSI mode.
_MINHASH_P = 2305843009213693951  # 2^61 - 1


def _affine_constants() -> tuple[list[int], list[int]]:
    a, b, x = [], [], 88172645463325252
    for _ in range(NUM_HASHES):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2 ** 63)
        a.append(x % (2 ** 29 - 1) + 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (2 ** 63)
        b.append(x % _MINHASH_P)
    return a, b


def _hashed_shingle_rows(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Hashed shingles as ROWS (doc_id, h, h32): the md5-60 hash of
    each word_ngrams shingle. No shuffle of its own, so a doc_id
    partitioning of `docs` carries through to the downstream
    signature groupBy.

    `distinct=False` skips the per-(doc_id, h) dedup shuffle for
    consumers whose aggregates are duplicate-insensitive anyway
    (min-of-hash signatures, collect_set) — the MinHash path. SimHash
    bit sums ARE duplicate-sensitive, so that path keeps the default.

    h60 exists identically in DuckDB, which is what lets the entire
    MinHash/LSH/SimHash pipeline be oracle-verified."""
    out = word_ngrams(docs, SHINGLE_WORDS).select(
        "doc_id", h60(F.col("gram")).alias("h")
    )
    if distinct:
        out = out.distinct()
    return out.withColumn("h32", F.pmod(F.col("h"), F.lit(2 ** 32)))


def _minhash_agg_exprs() -> list:
    consts_a, consts_b = _affine_constants()
    return [
        F.min(
            F.pmod(
                F.col("h32") * F.lit(consts_a[i]) + F.lit(consts_b[i] % (2 ** 31)),
                F.lit(_MINHASH_P),
            )
        ).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    bands = []
    for b in range(NUM_BANDS):
        cols = [
            F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)
        ]
        # md5 over the joined signature row — portable to the oracle
        bands.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws(",", *cols)).alias("band_hash"),
            )
        )
    exploded = sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def verify_candidates(sets: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs ONLY — join each
    pair to the two docs' (hashed) shingle sets and intersect
    JVM-side. Cost is O(|candidates|), never O(n²): this is what lets
    the pipeline scale where the all-pairs oracle cannot."""
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "jaccard",
            inter / (F.size("sh_a") + F.size("sh_b") - inter),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LSH pipeline with exact-Jaccard verification of the
    candidates. The plan is ONE wide aggregation: shuffle the docs by
    doc_id once (the signature groupBy and the shingle-set collect
    both reuse that partitioning), compute the 64 min-hashes AND
    the collect_set shingle set in the same groupBy, then band self-join
    and verify against that per-doc frame (n_docs rows, ~0.5 KB + set).
    Nothing is cached: every downstream scan of the per-doc frame reads
    the one aggregation exchange (a ReusedExchange in the plan). No
    per-shingle distinct (min/collect_set are duplicate-insensitive)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # the test tables are single parquet files (one scan task) — fan
    # the docs out across cores by doc_id so the shingle rows and the
    # signature groupBy reuse one exchange; on a multi-file 100 TB
    # table the scan is already parallel and this stays a single
    # hash-partition pass.
    docs = load_table(spark, sf_dir, "documents").repartition(
        n_part, "doc_id"
    )
    rows = _hashed_shingle_rows(docs, distinct=False)
    per_doc = rows.groupBy("doc_id").agg(
        F.collect_set("h").alias("sh_set"), *_minhash_agg_exprs()
    )
    cand = lsh_candidate_pairs(per_doc)
    sets = per_doc.select("doc_id", "sh_set")
    return (
        verify_candidates(sets, cand)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# SimHash: 64-bit signature; near-dups = low Hamming distance.
# --------------------------------------------------------------------------
SIMHASH_BITS = 60  # h is a 60-bit md5-derived hash (oracle-portable)


def _simhash_bit_sums(docs: DataFrame) -> DataFrame:
    sh = _hashed_shingle_rows(docs)  # bit sums ARE duplicate-sensitive
    h = F.col("h")
    bit_sums = [
        F.sum(
            (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    return sh.groupBy("doc_id").agg(*bit_sums)


def simhash_packed(docs: DataFrame) -> DataFrame:
    """Signature packed into one BIGINT (bit i set ⟺ bit-sum i > 0) so
    Hamming distance is a single codegen'd bit_count(a XOR b) instead
    of a 60-element interpreted zip_with lambda."""
    packed = sum(
        (F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        for i in range(SIMHASH_BITS)
    )
    return _simhash_bit_sums(docs).select(
        "doc_id", packed.cast("long").alias("sig")
    )


def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with Hamming distance ≤ 8 over a bounded slice; hamming =
    bit_count(sig_a XOR sig_b) on the packed signatures."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PAIR_SLICE
    )
    sigs = simhash_packed(docs)
    a = sigs.alias("a")
    b = sigs.alias("b")
    hamming = F.bit_count(
        F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    ).cast("int")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 8)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (exact small-slice oracle; the ANN module
# carries the bucketed scale path)
# --------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.42


def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise-cosine near-dup over a bounded vec_id slice —
    like its ngram/simhash siblings this is the small-slice
    correctness oracle; the SCALE path for embedding near-dup is the
    ANN module (hyperplane-LSH bucketing / IVF cells), which bounds
    candidate pairs by bucket instead of slicing."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PAIR_SLICE
    )
    dim = vectors.infer_dim(e)
    norms = e.select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("embedding")
    ).select(
        "vec_id",
        "embedding",
        vectors.norm(F.col("embedding"), dim).alias("nrm"),
    )
    a = norms.alias("a")
    b = norms.alias("b")
    cos = vectors.dot(F.col("a.embedding"), F.col("b.embedding"), dim) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos", 4).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Generated oracle SQL for the hash pipelines. The shingle hash, the
# affine MinHash family, the band hashes and the SimHash bits are all
# md5/integer arithmetic present in both engines, so even the LSH
# pipelines are fully oracle-verified (not rows-only).
# ---------------------------------------------------------------------------
def _sql_h60_shingles(source: str = "documents") -> str:
    return f"""
        sh AS (
            SELECT DISTINCT doc_id, {sql_h60("gram")} AS h
            FROM ({sql_word_ngrams(SHINGLE_WORDS, source=source)})
        ), shh AS (SELECT doc_id, h, h % 4294967296 AS h32 FROM sh)
    """


def _sql_minhash_lsh() -> str:
    a, b = _affine_constants()
    sig_exprs = ",\n               ".join(
        f"min((h32 * {a[i]} + {b[i] % (2 ** 31)}) % {_MINHASH_P}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = "\n            UNION ALL\n            ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS band_hash FROM sigs".format(
            b=bi,
            concat=" || ',' || ".join(
                f"h{bi * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for bi in range(NUM_BANDS)
    )
    return f"""
        WITH {_sql_h60_shingles()},
        sigs AS (
            SELECT doc_id,
               {sig_exprs}
            FROM shh GROUP BY doc_id
        ), bands AS (
            {band_selects}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id
        ), inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS ni
            FROM cand c
            JOIN shh x ON x.doc_id = c.doc_a
            JOIN shh y ON y.doc_id = c.doc_b AND x.h = y.h
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b,
               round(ni * 1.0 / (sa.n + sb.n - ni), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """


def _sql_simhash() -> str:
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH {_sql_h60_shingles(f"documents WHERE doc_id < {PAIR_SLICE}")},
        sums AS (
            SELECT doc_id,
               {bit_sums}
            FROM shh GROUP BY doc_id
        ), bits AS (
            SELECT doc_id, ({packed}) AS sig
            FROM sums
        )
        SELECT doc_a, doc_b, hamming FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
            FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        )
        WHERE hamming <= 8
        ORDER BY doc_a, doc_b
    """


_SHINGLE_SQL = f"""
        SELECT DISTINCT doc_id, gram AS shingle
        FROM ({sql_word_ngrams(
            SHINGLE_WORDS, source=f"documents WHERE doc_id < {PAIR_SLICE}"
        )})
"""

ORACLES: dict[str, str] = {
    "dedup_exact": f"""
        SELECT {sql_content_md5("text")} AS content_md5,
               count(*) AS n_docs, min(doc_id) AS canonical_doc_id
        FROM documents
        GROUP BY content_md5
        ORDER BY canonical_doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({_SHINGLE_SQL}),
        sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b)
        SELECT doc_a, doc_b,
               round(n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter), 4) AS jaccard
        FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    "dedup_embedding_cosine": f"""
        WITH n AS (
            SELECT vec_id, embedding,
                   sqrt({sim._DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
            FROM embeddings WHERE vec_id < {PAIR_SLICE})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({sim._DOT_SQL.format(a='a.embedding', b='b.embedding')}
                     / (a.nrm * b.nrm), 4) AS cosine
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE {sim._DOT_SQL.format(a='a.embedding', b='b.embedding')}
              / (a.nrm * b.nrm) >= {COSINE_DUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}

ORACLES["dedup_minhash_lsh"] = _sql_minhash_lsh()
ORACLES["dedup_simhash"] = _sql_simhash()

QUERIES = {
    "dedup_exact": dedup_exact_q,
    "dedup_ngram_jaccard": dedup_ngram_jaccard_q,
    "dedup_minhash_lsh": dedup_minhash_lsh_q,
    "dedup_simhash": dedup_simhash_q,
    "dedup_embedding_cosine": dedup_embedding_cosine_q,
}


# --------------------------------------------------------------------------
# Near-dup clustering: pairwise LSH output → connected components →
# one canonical representative per cluster. Production dedup needs
# this step — pairs alone over-drop (dropping the b of every (a,b)
# removes both ends of a chain a-b, b-c) and under-drop transitively.
# --------------------------------------------------------------------------
def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected edge list
    (`doc_a`, `doc_b`): every node's component id converges to the
    minimum doc_id reachable from it. Each round is one join + one
    min-groupBy over the DUP GRAPH only — near-dup docs, a small
    fraction of the corpus — never over the corpus itself, and rounds
    needed = graph diameter (near-dup clusters are shallow;
    CC_MAX_ITERS is a safety rail). Convergence is detected by the
    strictly-decreasing sum of labels, a one-scalar action per round.
    At adversarial diameters switch to large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce"), which squares down
    the rounds; the per-round plan shape is identical.
    """
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    sym = sym.cache()
    comp = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .cache()
    )
    prev_sum = None  # one convergence action per round, none up front
    for _ in range(CC_MAX_ITERS):
        msgs = sym.join(
            comp, sym["src"] == comp["node"]
        ).select(F.col("dst").alias("node"), "comp")
        new_comp = (
            comp.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .cache()
        )
        new_sum = new_comp.agg(F.sum("comp")).first()[0]
        comp.unpersist()
        comp = new_comp
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return comp


def dedup_cluster_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup clustering: the verified LSH pairs (the scale
    path's output) fed through connected components, reported as one
    row per multi-doc cluster — canonical id (min doc_id), member
    count, the sorted member list, and how many docs dedup drops."""
    pairs = dedup_minhash_lsh_q(spark, sf_dir).select("doc_a", "doc_b")
    pairs = pairs.cache()
    pairs.count()  # materialize: the iteration loop re-scans it
    comp = connected_components(pairs)
    return (
        comp.groupBy("comp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.array_sort(F.collect_list("node")).cast("array<string>"),
                ",",
            ).alias("members"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("comp").alias("cluster_id"),
            "n_docs",
            "members",
            (F.col("n_docs") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


# connected_components' CC_MAX_ITERS rounds unrolled (a round past
# convergence changes nothing); without MATERIALIZED pairs DuckDB
# re-runs the LSH pipeline in every round.
_CC_ROUNDS = ",".join(f"""
    l{i} AS MATERIALIZED (SELECT node, min(comp) AS comp FROM (
        SELECT node, comp FROM l{i - 1} UNION ALL
        SELECT e.dst, l.comp FROM l{i - 1} l JOIN edges e ON e.src = l.node)
        GROUP BY node)""" for i in range(1, CC_MAX_ITERS + 1))
ORACLES["dedup_cluster_components"] = f"""
    WITH pairs AS MATERIALIZED ({_sql_minhash_lsh()}),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS comp FROM edges),{_CC_ROUNDS}
    SELECT comp AS cluster_id, count(*) AS n_docs,
           string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members,
           count(*) - 1 AS n_dropped
    FROM l{CC_MAX_ITERS} GROUP BY comp HAVING count(*) >= 2 ORDER BY cluster_id
"""
QUERIES["dedup_cluster_components"] = dedup_cluster_components_q


# --------------------------------------------------------------------------
# Segment-level exact dedup (CCNet-style paragraph dedup: Wenzek et
# al. 2020 dedup hashed paragraphs across the corpus, keep-first).
# The synthetic corpus has no newline structure, so the "paragraph"
# unit is a fixed window of SEG_W words — the machinery (segment ->
# hash -> global keep-first -> per-doc report) is the real pipeline.
# Scale: one shuffle on (doc_id, seg_id), one on segment hash, one on
# doc_id — all key-bounded, no O(n²), no HOF lambdas (the per-segment
# ordered concat uses a fixed-width max(when(pos%W=r)) pivot, fully
# codegen'd).
# --------------------------------------------------------------------------
SEG_W = 10
_SEG_MOD = 1000000007  # keeps sum-of-hashes far from int64 overflow


def segment_dedup(docs: DataFrame, width: int = SEG_W) -> DataFrame:
    """Per-doc keep/drop report after corpus-wide segment dedup."""
    w = docs.select("doc_id", F.posexplode(words()).alias("pos", "word"))
    seg_id = F.floor(F.col("pos") / F.lit(width)).cast("long")
    parts = [
        F.max(F.when(F.col("pos") % width == r, F.col("word"))).alias(
            f"_w{r}"
        )
        for r in range(width)
    ]
    segs = (
        w.groupBy("doc_id", seg_id.alias("seg_id"))
        .agg(*parts)
        .select(
            "doc_id",
            "seg_id",
            F.concat_ws(" ", *[f"_w{r}" for r in range(width)]).alias(
                "segment"
            ),
        )
    )
    keep_rank = F.row_number().over(
        Window.partitionBy(F.md5("segment")).orderBy("doc_id", "seg_id")
    )
    ranked = segs.withColumn("keep", keep_rank == 1)
    h60m = h60(F.col("segment")) % _SEG_MOD
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.length("segment")).otherwise(0)
            ).alias("kept_chars"),
            F.sum(F.when(F.col("keep"), h60m).otherwise(0)).alias(
                "kept_hash_sum"
            ),
        )
        .orderBy("doc_id")
    )


def dedup_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup(load_table(spark, sf_dir, "documents"))


ORACLES["dedup_segments"] = f"""
    WITH words AS (
        SELECT doc_id,
               unnest(range(len(arr))) AS pos,
               unnest(arr) AS word
        FROM (SELECT doc_id, {SQL_WORDS} AS arr
              FROM documents) t
    ), segs AS (
        SELECT doc_id, pos // {SEG_W} AS seg_id,
               string_agg(word, ' ' ORDER BY pos) AS segment
        FROM words GROUP BY doc_id, pos // {SEG_W}
    ), ranked AS (
        SELECT doc_id, seg_id, segment,
               row_number() OVER (PARTITION BY md5(segment)
                                  ORDER BY doc_id, seg_id) = 1 AS keep
        FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN length(segment) ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(sum(CASE WHEN keep THEN {sql_h60("segment")} % {_SEG_MOD}
                    ELSE 0 END) AS BIGINT) AS kept_hash_sum
    FROM ranked GROUP BY doc_id ORDER BY doc_id
"""
QUERIES["dedup_segments"] = dedup_segments_q


# --------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better": repeated ≥L-token spans are the
# memorization hazard). Every L-token sliding window (stride 1) is
# hashed; a window whose hash was already seen earlier in corpus order
# is a duplicated span position. Per doc we report the duplicated-
# window count and the longest duplicated span (consecutive dup
# windows merge: run of r windows = span of r+L-1 tokens).
# Scale: windows are word_ngrams rows (no shuffle); dup detection is
# one shuffle on the window hash; run-length is a per-doc window — no
# O(n²) anywhere.
# --------------------------------------------------------------------------
SPAN_L = 20


def substring_span_report(docs: DataFrame, length: int = SPAN_L) -> DataFrame:
    per_doc = docs.select(
        "doc_id",
        F.greatest(F.size(words()) - (length - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    wins = word_ngrams(docs, length).select(
        "doc_id", "pos", F.col("gram").alias("wt")
    )
    dw = Window.partitionBy("doc_id").orderBy("pos")
    rn = F.row_number().over(
        Window.partitionBy(F.md5("wt")).orderBy("doc_id", "pos")
    )
    dups = wins.withColumn("rn", rn).filter(F.col("rn") > 1)
    grp = F.col("pos") - F.row_number().over(dw)
    runs = (
        dups.select("doc_id", "pos")
        .withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    per_doc_dups = runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup_windows"),
        (F.max("run") + (length - 1)).alias("longest_dup_span"),
    )
    return (
        per_doc.join(per_doc_dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("long")
            .alias("n_dup_windows"),
            F.coalesce("longest_dup_span", F.lit(0))
            .cast("long")
            .alias("longest_dup_span"),
        )
        .orderBy("doc_id")
    )


def dedup_substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_span_report(load_table(spark, sf_dir, "documents"))


ORACLES["dedup_substring_spans"] = f"""
    WITH toks AS (
        SELECT doc_id, {SQL_WORDS} AS w
        FROM documents),
    wins AS (
        SELECT doc_id, pos, gram AS wt
        FROM ({sql_word_ngrams(SPAN_L)})),
    ranked AS (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY md5(wt)
                                  ORDER BY doc_id, pos) AS rn
        FROM wins),
    dups AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS grp
        FROM ranked WHERE rn > 1),
    runs AS (
        SELECT doc_id, grp, count(*) AS run
        FROM dups GROUP BY doc_id, grp),
    per_doc_dups AS (
        SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup_windows,
               CAST(max(run) + {SPAN_L - 1} AS BIGINT) AS longest_dup_span
        FROM runs GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(greatest(len(t.w) - {SPAN_L - 1}, 0) AS BIGINT) AS n_windows,
           COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(d.longest_dup_span, 0) AS longest_dup_span
    FROM toks t LEFT JOIN per_doc_dups d USING (doc_id)
    ORDER BY t.doc_id
"""
QUERIES["dedup_substring_spans"] = dedup_substring_spans_q


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space, then deduplicate ONLY within clusters —
# pairwise cosine is confined to cluster-mates, so the global O(n²)
# pair space collapses to O(Σ|cell|²). Clustering reuses the ANN
# module's self-contained IVF quantizer (hash-seeded deterministic
# centroids, max-cosine assignment), so the whole pipeline is
# value-verifiable: cell assignment and every within-cell cosine are
# bit-identical in Spark and the DuckDB oracle (same left-fold dot).
# At 100 TB the cell count scales with the corpus (the paper runs
# ~110k clusters on LAION) keeping |cell| bounded, and the within-cell
# join is a plain shuffle-on-cell equi-join — no cartesian anywhere.
# Keep rule: a vector is dropped iff some SMALLER vec_id in the same
# cell has cosine ≥ threshold (keep-first; mirrors the paper's
# keep-one-per-dup-group with a deterministic representative).
# --------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.42


def dedup_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup report: cluster size, semantic dups dropped,
    survivors. The within-cell pair join shuffles both sides on the
    cell id once; dropped ids are DISTINCT'd before counting so a
    vector duplicating several cluster-mates is removed once."""
    raw = load_table(spark, sf_dir, "embeddings")
    dim = vectors.infer_dim(raw)
    # materialize the cell assignment once: it feeds BOTH sides of
    # the pair join plus the cluster-size count — without the cache
    # the (broadcast-seeds × argmax) assignment stage executes three
    # times (measured 3× the whole query's cost at sf0.1)
    cells = sim.ivf_cells(sim._with_norm(raw, dim), dim).cache()
    a, b = cells.alias("a"), cells.alias("b")
    cos = vectors.dot(F.col("a.embedding"), F.col("b.embedding"), dim) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos", cos)
        .filter(F.col("cos") >= SEMDEDUP_THRESHOLD)
        .select(F.col("b.cell").alias("cell"), F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_dropped"))
    )
    return (
        cells.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .join(dropped, "cell", "left")
        .select(
            "cell",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


def _sql_semdedup() -> str:
    dot_ab = sim._DOT_SQL.format(a="a.embedding", b="b.embedding")
    return f"""
        WITH {sim._NORMS_SQL},
        {sim._sql_ivf_cells()},
        pairs AS (
            SELECT b.cell, b.vec_id
            FROM c a JOIN c b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {dot_ab} / (a.nrm * b.nrm) >= {SEMDEDUP_THRESHOLD}),
        drops AS (SELECT cell, count(DISTINCT vec_id) AS n_dropped
                  FROM pairs GROUP BY cell),
        tot AS (SELECT cell, count(*) AS n_vectors FROM c GROUP BY cell)
        SELECT t.cell, t.n_vectors,
               COALESCE(d.n_dropped, 0) AS n_dropped,
               t.n_vectors - COALESCE(d.n_dropped, 0) AS n_kept
        FROM tot t LEFT JOIN drops d USING (cell)
        ORDER BY t.cell
    """


ORACLES["dedup_semantic"] = _sql_semdedup()
QUERIES["dedup_semantic"] = dedup_semantic_q
