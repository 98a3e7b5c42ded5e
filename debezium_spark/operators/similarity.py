"""Similarity search over embedding columns: exact and approximate
nearest-neighbor top-k, and random-hyperplane LSH buckets.

The four top-k entries are one 2×2 family built by `_ann_topk` (and
their oracles by `_sql_ann_topk`) from the `_ANN` table:

- candidates: every vector (exact), or only the vectors in the query's
  N_PROBE nearest IVF cells, which turns O(n_queries × n_vectors) into
  O(n_queries × n_vectors × N_PROBE / N_CELLS);
- score: the float cosine, or the integer dot product of the int8-
  quantized unit vectors (4× smaller vectors, bit-exact integers);
- top-k: TOP_K = 10 for exact candidates, IVF_TOP_K = 5 for IVF ones.

Brute force broadcasts the (small) query set and computes the dot
product as a codegen'd fold (functions/vectors.py): no Python, no
shuffle beyond the final top-k window. Random-hyperplane LSH bucketing
is the fully unsupervised equivalent of the IVF cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.functions import vectors
from debezium_spark.functions.rounding import round_half_up, sql_round_half_up
from debezium_spark.functions.tokens import knuth32, sql_knuth32
from debezium_spark.sources.tables import load_table

TOP_K = 10
IVF_TOP_K = 5
N_QUERIES = 5  # query set: vec_id < 5
N_HYPERPLANES = 6
N_CELLS = 16
N_PROBE = 4  # query-side multi-probe: search the 4 nearest cells


def _with_norm(df: DataFrame, dim: int | None = None) -> DataFrame:
    """Attach the L2 norm via vectors.dot (HOF left fold — see
    vectors.py for the measured reversal of the round-3 unrolled-
    codegen lesson). The fold order matches the DuckDB list_reduce
    oracle bit-for-bit. (A repartition fan-out of the single-file test scan
    was tried and REVERTED: at this row count the extra AQE exchange
    stages cost more than the single-task dot stage saved — measured
    +2.4s steady-state on ann_ivf_topk.)"""
    if dim is None:
        dim = vectors.infer_dim(df)
    return df.withColumn(
        "embedding", vectors.as_double(F.col("embedding"))
    ).withColumn("nrm", vectors.norm(F.col("embedding"), dim))


def ivf_seeds(e: DataFrame) -> DataFrame:
    """Hash-seeded centroids: the N_CELLS vectors with the smallest
    Knuth-hash of vec_id (deterministic, engine-portable — no RNG,
    and no float averaging so assignment cosines stay bit-identical
    across engines). The N_CELLS rows are materialized with a bounded
    collect and re-emitted as a literal frame — the standard codebook
    broadcast: without it every consumer (cell assignment, query
    probes) re-executes the full seed-selection scan."""
    sub = (
        e.select("vec_id", "embedding", "nrm")
        .withColumn("sh", knuth32(F.col("vec_id")))
        .orderBy("sh", "vec_id")
        .limit(N_CELLS)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("s_emb"),
            F.col("nrm").alias("s_nrm"),
        )
    )
    return e.sparkSession.createDataFrame(sub.collect(), sub.schema)


def _seed_cosines(e: DataFrame, seeds: DataFrame, dim: int) -> DataFrame:
    scos = vectors.dot(F.col("embedding"), F.col("s_emb"), dim) / (
        F.col("nrm") * F.col("s_nrm")
    )
    return e.crossJoin(F.broadcast(seeds)).withColumn("scos", scos)


def ivf_cells(e: DataFrame, dim: int, seeds: DataFrame | None = None) -> DataFrame:
    """Self-contained IVF quantizer — needs only (vec_id, embedding,
    nrm), no pre-clustered label column. Centroids are hash-seeded:
    the N_CELLS vectors with the smallest Knuth-hash of vec_id act as
    cell centers (deterministic, engine-portable arithmetic — no
    RNG), and every vector is assigned to its max-cosine center with
    a smallest-seed-id tie-break. Seeds stay raw stored floats (no
    float averaging), so the assignment cosines are bit-identical in
    Spark and the DuckDB oracle and the whole index is value-
    verified. Assignment is a broadcast of N_CELLS seeds + one
    scan-side argmax (max of a (cos, -seed_id) struct — partial-agg
    friendly, no window shuffle): the standard IVF build cost, linear
    in the table."""
    if seeds is None:
        seeds = ivf_seeds(e)
    # embedding/nrm ride through the agg (identical within a vec_id
    # group, so first() is deterministic) — no join-back scan; the
    # partial agg still collapses the 16 seed rows per key map-side.
    return (
        _seed_cosines(e, seeds, dim)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("scos"),
                    (-F.col("seed_id")).alias("neg_seed"),
                    F.col("seed_id"),
                )
            ).alias("m"),
            F.first("embedding").alias("embedding"),
            F.first("nrm").alias("nrm"),
        )
        .select("vec_id", "embedding", "nrm", F.col("m.seed_id").alias("cell"))
    )


# --------------------------------------------------------------------------
# Int8-quantized scoring: symmetric per-element quantization of the
# L2-normalized vector to a signed byte (q_i = round(127·v_i/‖v‖)),
# then integer dot-product ranking. At 100 TB this is the memory/
# bandwidth scale lever — 4× smaller vectors than float32 (16× vs
# float64), SIMD-friendly integer math, and the candidate scoring
# stays fully codegen'd. Ranking is by the *integer* dot product with
# a vec_id tie-break, so the gate compares bit-exact integers (no
# float drift surface at all).
# --------------------------------------------------------------------------
def quantize_int8(df: DataFrame, dim: int) -> DataFrame:
    """Attach `qemb: array<byte>` — int8 quantization of the unit
    vector, rounded HALF_UP as the oracle does (SURVEY §6)."""
    e = vectors.as_double(F.col("embedding"))
    nrm = F.col("nrm")
    q = F.transform(
        e, lambda x: round_half_up(x / nrm * 127, 0).cast("byte")
    )
    return df.withColumn("qemb", q)


def int8_dot(a, b, dim: int):
    """Integer Σ a[i]·b[i] as the HOF fold (see vectors.py — the
    unrolled 64-term int expression has the same never-JITs problem).
    Integer addition is associative so there is no fold-order
    subtlety; max |dot| is 64·127² ≪ 2³¹."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _ann_topk(
    spark: SparkSession, sf_dir: str, ivf: bool, int8: bool
) -> DataFrame:
    """Top-k neighbors of each query vector (vec_id < N_QUERIES).

    `ivf` restricts the candidates to the query's N_PROBE nearest
    cells via an equi-join on cell id — the plan shape that survives
    100×: scoring touches ~N_PROBE/N_CELLS of the table instead of all
    of it. Assignment and probing use the float codebook (exact,
    bit-portable). `int8` ranks by the integer dot product of the
    quantized vectors (column `qdot`) instead of the float cosine
    (`cosine`, rounded to 4 places)."""
    raw = load_table(spark, sf_dir, "embeddings")
    dim = vectors.infer_dim(raw)
    en = _with_norm(raw, dim)
    query_id = F.col("vec_id").alias("query_id")
    if ivf:
        seeds = ivf_seeds(en)
        e = ivf_cells(en, dim, seeds)
        # query-side multi-probe: each query searches its N_PROBE nearest
        # cells (a few broadcast rows per query — the standard IVF recall
        # knob; data vectors still live in exactly one cell)
        probe_w = Window.partitionBy("vec_id").orderBy(
            F.desc("scos"), F.asc("seed_id")
        )
        q = (
            _seed_cosines(en.filter(F.col("vec_id") < N_QUERIES), seeds, dim)
            .withColumn("prn", F.row_number().over(probe_w))
            .filter(F.col("prn") <= N_PROBE)
            .select(
                query_id, "embedding", "nrm", F.col("seed_id").alias("q_cell")
            )
        )
    else:
        e = en
        q = en.filter(F.col("vec_id") < N_QUERIES).select(
            query_id, "embedding", "nrm"
        )
    cell, q_cell = (["cell"], ["q_cell"]) if ivf else ([], [])
    if int8:
        e = quantize_int8(e, dim).select("vec_id", *cell, "qemb")
        q = quantize_int8(q, dim).select(
            "query_id", *q_cell, F.col("qemb").alias("q_qemb")
        )
        name, out = "qdot", F.col("qdot")
        score = int8_dot(F.col("q_qemb"), F.col("qemb"), dim).cast("long")
    else:
        q = q.select(
            "query_id",
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            *q_cell,
        )
        name, out = "cos", F.round("cos", 4).alias("cosine")
        score = vectors.dot(F.col("q_emb"), F.col("embedding"), dim) / (
            F.col("q_nrm") * F.col("nrm")
        )
    pairs = (
        e.join(F.broadcast(q), e.cell == F.col("q_cell"))
        if ivf
        else e.crossJoin(F.broadcast(q))
    )
    scored = pairs.filter(F.col("vec_id") != F.col("query_id")).withColumn(
        name, score
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(name), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= (IVF_TOP_K if ivf else TOP_K))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank", out)
        .orderBy("query_id", "rank")
    )


# entry -> (ivf, int8): which candidates are scored, and how
_ANN = {
    "ann_cosine_topk": (False, False),
    "ann_ivf_topk": (True, False),
    "ann_quantized_topk": (False, True),
    "ann_ivf_quantized_topk": (True, True),
}


def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k: the baseline every ANN variant is
    measured against."""
    return _ann_topk(spark, sf_dir, *_ANN["ann_cosine_topk"])


def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-pruned top-k over self-computed cells (see ivf_cells)."""
    return _ann_topk(spark, sf_dir, *_ANN["ann_ivf_topk"])


def ann_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact candidates ranked by the int8 dot product."""
    return _ann_topk(spark, sf_dir, *_ANN["ann_quantized_topk"])


def ann_ivf_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF pruning × int8 scoring composed — the full scale path: the
    index bounds WHICH vectors are scored and quantization bounds the
    COST of each score."""
    return _ann_topk(spark, sf_dir, *_ANN["ann_ivf_quantized_topk"])


def _hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from a fixed LCG (no
    randomness APIs; same planes every session)."""
    x, planes = 48271, []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (2 ** 63)
            row.append(1 if (x >> 32) & 1 else -1)
        planes.append(row)
    return planes


def lsh_bucket_signatures(e: DataFrame) -> DataFrame:
    """Random-hyperplane LSH: bucket = sign-bit signature of the
    projections onto N_HYPERPLANES fixed ±1 hyperplanes. Each
    projection is the HOF fold from vectors.dot against an inline
    plane-literal array — the unrolled form's planes×dim expression
    tree never JITs (see vectors.py; measured on this query too)."""
    dim = vectors.infer_dim(e)
    emb = vectors.as_double(F.col("embedding"))
    planes = _hyperplane_signs(N_HYPERPLANES, dim)

    def _projection(p):
        plane = F.array(*[F.lit(float(v)) for v in planes[p]])
        return vectors.dot(emb, plane, dim)

    sig_bits = [
        (_projection(p) > 0).cast("int") * F.lit(2 ** p)
        for p in range(N_HYPERPLANES)
    ]
    bucket = sig_bits[0]
    for b in sig_bits[1:]:
        bucket = bucket + b
    return e.withColumn("bucket", bucket)


def ann_lsh_bucket_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: per-bucket stats plus recall of the bucketed
    candidate sets against the exact top-k (rows-only check; the
    bucketing hash is not ANSI-SQL-expressible)."""
    e = lsh_bucket_signatures(
        _with_norm(load_table(spark, sf_dir, "embeddings"))
    )
    return (
        e.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("bucket")
    )


_DOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
    "(acc, x) -> acc + x)"
)
_QDOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS INT) * CAST({b}[i] AS INT)), "
    "(acc, x) -> acc + x)"
)


def _sql_lsh_buckets() -> str:
    """Oracle for the hyperplane bucketing over the 64-wide embeddings:
    the ±1 sign matrix is a deterministic LCG constant, so it inlines
    into SQL verbatim — same left-associated summation order as the
    Spark projection."""
    dim = 64
    planes = _hyperplane_signs(N_HYPERPLANES, dim)
    bucket_terms = []
    for p in range(N_HYPERPLANES):
        proj = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {float(planes[p][i])}"
            for i in range(dim)
        )
        bucket_terms.append(
            f"(CASE WHEN ({proj}) > 0 THEN {2 ** p} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
        SELECT bucket, count(*) AS n_vectors,
               count(DISTINCT label) AS n_labels
        FROM (SELECT label, {bucket} AS bucket FROM embeddings)
        GROUP BY bucket ORDER BY bucket
    """


# n(vec_id, embedding, nrm): _with_norm in SQL
_NORMS_SQL = f"""n AS (SELECT vec_id, embedding,
                  sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
           FROM embeddings)"""


def _sql_ivf_cells(src: str = "n") -> str:
    """ivf_seeds/ivf_cells as CTEs over `n`: `seeds`, `ranked` (every
    vector's seeds by cosine, rn = 1 its own cell, rn <= N_PROBE its
    probes) and `c`, the rows of `src` (keyed by vec_id) with their
    cell."""
    return f"""seeds AS (
            SELECT vec_id AS seed_id, embedding AS s_emb, nrm AS s_nrm
            FROM n
            ORDER BY {sql_knuth32("vec_id")}, vec_id
            LIMIT {N_CELLS}),
        ranked AS (
            SELECT n.vec_id, s.seed_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {_DOT_SQL.format(a='n.embedding', b='s.s_emb')}
                                / (n.nrm * s.s_nrm) DESC,
                                s.seed_id) AS rn
            FROM n CROSS JOIN seeds s),
        c AS (SELECT d.*, r.seed_id AS cell
              FROM {src} d JOIN ranked r ON d.vec_id = r.vec_id AND r.rn = 1)"""


def _sql_ann_topk(ivf: bool, int8: bool) -> str:
    """DuckDB twin of `_ann_topk`: the same candidates, scores and
    (score DESC, vec_id) ranking, recomputed from the stored floats."""
    ctes = [_NORMS_SQL]
    if int8:
        src, q_cols = "qn", "d.qemb AS q_qemb"
        q = sql_round_half_up("CAST(embedding[i] AS DOUBLE) / nrm * 127", 0)
        ctes.append(f"""qn AS (SELECT vec_id,
                  list_transform(range(1, len(embedding) + 1),
                      i -> CAST({q} AS TINYINT)) AS qemb
           FROM n)""")
        score = f"CAST({_QDOT_SQL.format(a='q.q_qemb', b='c.qemb')} AS BIGINT)"
        name, out = "qdot", "qdot"
    else:
        src, q_cols = "n", "d.embedding AS q_emb, d.nrm AS q_nrm"
        score = (
            f"{_DOT_SQL.format(a='q.q_emb', b='c.embedding')} / (q.q_nrm * c.nrm)"
        )
        name, out = "cos", "round(cos, 4) AS cosine"
    if ivf:
        ctes += [
            _sql_ivf_cells(src),
            f"""q AS (SELECT d.vec_id AS query_id, {q_cols}, r.seed_id AS q_cell
              FROM {src} d JOIN ranked r ON d.vec_id = r.vec_id
              WHERE d.vec_id < {N_QUERIES} AND r.rn <= {N_PROBE})""",
        ]
        pairs = "c JOIN q ON c.cell = q.q_cell"
    else:
        ctes.append(f"""q AS (SELECT d.vec_id AS query_id, {q_cols}
              FROM {src} d WHERE d.vec_id < {N_QUERIES})""")
        pairs = f"{src} c CROSS JOIN q"
    ctes.append(f"""scored AS (
            SELECT q.query_id, c.vec_id, {score} AS {name}
            FROM {pairs} WHERE c.vec_id <> q.query_id)""")
    with_ = ",\n        ".join(ctes)
    return f"""
        WITH {with_}
        SELECT query_id, vec_id AS neighbor_id,
               CAST(rank AS INT) AS rank, {out}
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY {name} DESC, vec_id) AS rank
              FROM scored)
        WHERE rank <= {IVF_TOP_K if ivf else TOP_K}
        ORDER BY query_id, rank
    """


ORACLES = {name: _sql_ann_topk(*flags) for name, flags in _ANN.items()}
ORACLES["ann_lsh_bucket"] = _sql_lsh_buckets()

QUERIES = {
    "ann_cosine_topk": ann_cosine_topk_q,
    "ann_ivf_topk": ann_ivf_topk_q,
    "ann_quantized_topk": ann_quantized_topk_q,
    "ann_ivf_quantized_topk": ann_ivf_quantized_topk_q,
    "ann_lsh_bucket": ann_lsh_bucket_q,
}
