"""Text analysis for training-data pipelines: token counting, quality
scoring, language identification, and document fingerprinting.

All four operators are pure column expressions (split / higher-order
array functions / regex / md5) — JVM-side, whole-stage-codegen'd, no
Python UDFs — so at 100 TB they run at scan speed with zero shuffles.
Each has an exact DuckDB oracle (same tokenization regex, same
arithmetic, same rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from debezium_spark.functions.rounding import round_half_up, to_units
from debezium_spark.functions.rounding import sql_round_half_up, sql_to_units
from debezium_spark.functions.tokens import SQL_WORDS, h60, sql_h60, word_ngrams, words
from debezium_spark.functions.tokens import sql_word_ngrams
from debezium_spark.functions.tokens import content_md5, sql_content_md5
from debezium_spark.sources.tables import load_table

# Stopword lists for the n-gram/stopword language-ID heuristic. The
# synthetic corpus is English-ish; the machinery is what matters —
# per-language hit counts -> argmax with deterministic tie-break.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}

def stopword_hit_count(words, stopwords):
    """Duplicate-preserving count of stopword occurrences in a words
    array with NO higher-order-function lambda (HOFs are
    CodegenFallback → interpreted, 10-30× slower on this workload):
    count of w in arr == size(arr) - size(array_remove(arr, w)), and
    array_remove is an ordinary codegen'd expression."""
    n = F.size(words)
    return sum((n - F.size(F.array_remove(words, w))) for w in stopwords)


def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword estimate (ceil of
    chars/4 — the common 'one token ≈ 4 chars' heuristic)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words()).alias("n_words"),
        F.ceil(F.length("text") / 4).cast("long").alias("n_subword_est"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio / mean-word-length quality signals and
    a composite score in [0,1]."""
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    n_words = F.size(ws)
    stop_hits = stopword_hit_count(ws, STOPWORDS["en"])
    stop_ratio = stop_hits / n_words
    mean_word_len = (F.length("text") - (n_words - 1)) / n_words
    length_signal = F.least(n_words / F.lit(200.0), F.lit(1.0))
    score = round_half_up(
        0.5 * length_signal + 0.3 * (1.0 - stop_ratio) + 0.2
        * F.least(mean_word_len / F.lit(8.0), F.lit(1.0)),
        4,
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID: count per-language stopword hits,
    argmax with 'unk' when nothing hits; compare against the labeled
    lang column (accuracy by label)."""
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    hits = {
        lang: stopword_hit_count(ws, sw) for lang, sw in STOPWORDS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, "unk")
    for lang in sorted(STOPWORDS):  # deterministic tie-break: alpha order
        pred = pred.when(hits[lang] == best, lang)
    d2 = d.select("doc_id", "lang", pred.alias("pred_lang"))
    return (
        d2.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("pred_lang") == F.col("lang")).cast("long")).alias(
                "n_correct"
            ),
            F.sum((F.col("pred_lang") == "en").cast("long")).alias("n_pred_en"),
        )
        .orderBy("lang")
    )


_FP_MOD = 9007199254740881  # prime < 2^53
_FP_TERM_BITS = 45  # per-term range 2^45: sums stay far inside int64


def fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 content fingerprint + a 53-bit position-keyed
    polynomial word fingerprint: term_i = md5_60(word_i || '#' || i)
    mod 2^45, fingerprint = Σ term_i mod (2^53 prime). Position baked
    into each term's hash input keeps it order-sensitive (like a
    rolling hash) while the combine is a plain SUM — so the whole
    thing is posexplode + codegen'd expressions + one partial-agg
    groupBy, instead of the interpreted F.aggregate lambda fold an
    earlier version used (HOFs are CodegenFallback). Per-term 2^45
    bound ⇒ overflow-free for docs up to 2^18 words under ANSI mode."""
    d = load_table(spark, sf_dir, "documents")
    # content_md5 deliberately stays OUT of the exploded branch:
    # Catalyst collapses projections above Generate, so a per-doc
    # md5 carried through posexplode is re-evaluated once per WORD
    # row (measured 10× the whole operator's cost). Aggregate the
    # rolling hash on doc_id alone, then join the per-doc md5 back —
    # same shape as the DuckDB oracle.
    ws = d.select("doc_id", F.posexplode(words()).alias("pos", "w"))
    keyed = F.concat_ws("#", F.col("w"), F.col("pos").cast("string"))
    term = F.pmod(h60(keyed), F.lit(1 << _FP_TERM_BITS))
    fp = ws.groupBy("doc_id").agg(
        F.pmod(F.sum(term), F.lit(_FP_MOD)).alias("rolling_hash")
    )
    return (
        d.select("doc_id", content_md5(F.col("text")).alias("content_md5"))
        .join(fp, "doc_id")
        .select("doc_id", "content_md5", "rolling_hash")
        .orderBy("doc_id")
    )


VOCAB_TOP = 100


def vocab_doc_freq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction over the corpus: per term, collection
    term frequency and document frequency, top-VOCAB_TOP by term
    frequency. The word-count shape Spark is built for — one explode,
    one groupBy with map-side partial aggregation, then a bounded
    TakeOrdered (orderBy+limit — no global window), so at 100 TB it
    runs at scan speed with a single shuffle on the term key."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words()).alias("t0")).select(
        "doc_id", F.lower("t0").alias("term")
    )
    return (
        w.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("term_freq"), F.asc("term"))
        .limit(VOCAB_TOP)
    )


def bigram_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair statistics (the merge-candidate counts a
    BPE-style tokenizer trains on): word bigram rows — the same
    shuffle-free shingle shape as dedup — then one pair-key groupBy
    and a bounded TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    pairs = word_ngrams(d, 2).select(
        "doc_id", F.lower("gram").alias("bigram")
    )
    return (
        pairs.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("pair_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("pair_freq"), F.asc("bigram"))
        .limit(VOCAB_TOP)
    )


# Gopher-style repetition thresholds (Rae et al. 2021 use character
# fractions over duplicated n-grams; word-level analogs here).
REP_TOP_UNIGRAM_MAX = 0.125
REP_DUP_BIGRAM_MAX = 0.6

EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
PHONE_RE = r"\+1-555-[0-9]{4}"


def repetition_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per document, the fraction of
    words taken by the most frequent unigram, the fraction of word
    bigrams that are repeats, and the type/token ratio — plus the
    keep/drop decision. Two explode→groupBy aggregations (map-side
    partial agg, shuffle bounded by doc_id·term keys) and one join on
    doc_id; no window over the corpus, so at 100 TB it scales with
    the shuffle like any word count."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words()).alias("w1"))
    uni = w.groupBy("doc_id", F.lower("w1").alias("term")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_uni = uni.groupBy("doc_id").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique"),
    )
    pairs = word_ngrams(d, 2).select(
        "doc_id", F.lower("gram").alias("bigram")
    )
    bi = pairs.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    per_bi = bi.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_unique_bigrams"),
    )
    j = per_uni.join(per_bi, "doc_id", "left")
    top_frac = round_half_up(F.col("max_c") / F.col("n_words"), 4)
    dup_frac = F.when(
        F.col("n_bigrams") > 0,
        round_half_up(1.0 - F.col("n_unique_bigrams") / F.col("n_bigrams"), 4),
    )
    ttr = round_half_up(F.col("n_unique") / F.col("n_words"), 4)
    return j.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        top_frac.alias("top_unigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ttr.alias("type_token_ratio"),
        (
            (top_frac <= REP_TOP_UNIGRAM_MAX) & (dup_frac <= REP_DUP_BIGRAM_MAX)
        ).alias("keep"),
    ).orderBy("doc_id")


def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction for training data: the corpus is augmented
    with a deterministic contact suffix (the synthetic docs carry no
    PII), then emails/phones are counted and redacted with the same
    RE in both engines. Pure regexp expressions — codegen'd,
    scan-speed, zero shuffle; the redacted text is verified by md5 so
    the gate stays row-light."""
    d = load_table(spark, sf_dir, "documents")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(contact, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(contact, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(contact, F.lit(PHONE_RE)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


_STOP_EN = ",".join(f"'{w}'" for w in STOPWORDS["en"])

ORACLES: dict[str, str] = {
    "token_count": f"""
        SELECT doc_id,
               CAST(len({SQL_WORDS}) AS INT) AS n_words,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est,
               CAST(length(text) AS INT) AS n_chars_actual
        FROM documents ORDER BY doc_id
    """,
    "quality_score": f"""
        WITH q AS (
            SELECT doc_id,
                   CAST(len(w) AS DOUBLE) AS n_words,
                   CAST(len(list_filter(w, x -> x IN ({_STOP_EN}))) AS DOUBLE) AS stop_hits,
                   CAST(length(text) AS DOUBLE) AS n_chars
            FROM (SELECT doc_id, text, {SQL_WORDS} AS w FROM documents)
        )
        SELECT doc_id,
               CAST(n_words AS INT) AS n_words,
               round(stop_hits / n_words, 4) AS stopword_ratio,
               round((n_chars - (n_words - 1)) / n_words, 4) AS mean_word_len,
               {sql_round_half_up(
                   "0.5 * least(n_words / 200.0, 1.0)"
                   " + 0.3 * (1.0 - stop_hits / n_words)"
                   " + 0.2 * least(((n_chars - (n_words - 1)) / n_words) / 8.0, 1.0)",
                   4,
               )} AS quality_score
        FROM q ORDER BY doc_id
    """,
    "language_id": f"""
        WITH w AS (SELECT doc_id, lang, {SQL_WORDS} AS words
                   FROM documents),
        hits AS (
            SELECT doc_id, lang,
                   len(list_filter(words, x -> x IN ('the','a','of','and','to','in','is'))) AS h_en,
                   len(list_filter(words, x -> x IN ('der','die','das','und','ist','ein'))) AS h_de,
                   len(list_filter(words, x -> x IN ('le','la','les','et','est','un'))) AS h_fr,
                   len(list_filter(words, x -> x IN ('el','la','los','y','es','un'))) AS h_es
            FROM w),
        pred AS (
            SELECT doc_id, lang,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unk'
                        WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                        ELSE 'fr' END AS pred_lang
            FROM hits)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(sum(CASE WHEN pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
        FROM pred GROUP BY lang ORDER BY lang
    """,
    "fingerprint": f"""
        WITH t AS (SELECT doc_id, {SQL_WORDS} AS w
                   FROM documents),
        terms AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) + 1),
                       i -> {sql_h60("w[i] || '#' || CAST(i - 1 AS VARCHAR)")}
                            % {1 << _FP_TERM_BITS})) AS term
            FROM t),
        fp AS (SELECT doc_id,
                      CAST(sum(term) % {_FP_MOD} AS BIGINT) AS rolling_hash
               FROM terms GROUP BY doc_id)
        SELECT d.doc_id,
               {sql_content_md5("d.text")} AS content_md5,
               fp.rolling_hash
        FROM documents d JOIN fp USING (doc_id) ORDER BY d.doc_id
    """,
    "repetition_quality": f"""
        WITH w AS (
            SELECT doc_id, lower(unnest(t)) AS term
            FROM (SELECT doc_id, {SQL_WORDS} AS t FROM documents)),
        per_uni AS (
            SELECT doc_id, max(c) AS max_c, CAST(sum(c) AS BIGINT) AS n_words,
                   count(*) AS n_unique
            FROM (SELECT doc_id, term, count(*) AS c FROM w
                  GROUP BY doc_id, term)
            GROUP BY doc_id),
        p AS (
            SELECT doc_id, lower(gram) AS bigram
            FROM ({sql_word_ngrams(2)})),
        per_bi AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   count(*) AS n_unique_bigrams
            FROM (SELECT doc_id, bigram, count(*) AS c FROM p
                  GROUP BY doc_id, bigram)
            GROUP BY doc_id),
        j AS (
            SELECT u.doc_id, u.n_words,
                   {sql_round_half_up("u.max_c * 1.0 / u.n_words", 4)}
                       AS top_unigram_frac,
                   CASE WHEN b.n_bigrams > 0 THEN {sql_round_half_up(
                       "1.0 - b.n_unique_bigrams * 1.0 / b.n_bigrams", 4
                   )} END AS dup_bigram_frac,
                   {sql_round_half_up("u.n_unique * 1.0 / u.n_words", 4)}
                       AS type_token_ratio
            FROM per_uni u LEFT JOIN per_bi b USING (doc_id))
        SELECT doc_id, n_words, top_unigram_frac, dup_bigram_frac,
               type_token_ratio,
               (top_unigram_frac <= {REP_TOP_UNIGRAM_MAX}
                AND dup_bigram_frac <= {REP_DUP_BIGRAM_MAX}) AS keep
        FROM j ORDER BY doc_id
    """,
    "pii_redact": f"""
        WITH c AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       AS contact
            FROM documents),
        r AS (
            SELECT doc_id, contact,
                   regexp_replace(regexp_replace(contact,
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                       '{PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM c)
        SELECT doc_id,
               CAST(len(regexp_extract_all(contact, '{EMAIL_RE}')) AS INT)
                   AS n_emails,
               CAST(len(regexp_extract_all(contact, '{PHONE_RE}')) AS INT)
                   AS n_phones,
               CAST(length(redacted) AS INT) AS redacted_len,
               md5(redacted) AS redacted_md5
        FROM r ORDER BY doc_id
    """,
    "vocab_doc_freq": f"""
        WITH w AS (
            SELECT doc_id,
                   lower(unnest({SQL_WORDS})) AS term
            FROM documents)
        SELECT term, count(*) AS term_freq,
               count(DISTINCT doc_id) AS doc_freq
        FROM w GROUP BY term
        ORDER BY term_freq DESC, term LIMIT {VOCAB_TOP}
    """,
    "bigram_counts": f"""
        WITH p AS (SELECT doc_id, lower(gram) AS bigram
                   FROM ({sql_word_ngrams(2)}))
        SELECT bigram, count(*) AS pair_freq,
               count(DISTINCT doc_id) AS doc_freq
        FROM p GROUP BY bigram
        ORDER BY pair_freq DESC, bigram LIMIT {VOCAB_TOP}
    """,
}

QUERIES = {
    "token_count": token_count_q,
    "quality_score": quality_score_q,
    "language_id": language_id_q,
    "fingerprint": fingerprint_q,
    "vocab_doc_freq": vocab_doc_freq_q,
    "bigram_counts": bigram_counts_q,
    "repetition_quality": repetition_quality_q,
    "pii_redact": pii_redact_q,
}


# --------------------------------------------------------------------------
# Unigram log-prob scoring (CCNet's perplexity filter, Wenzek et al.
# 2020, with the LM reduced to the corpus unigram distribution — the
# deterministic, model-free variant). Per doc: mean -ln p(w) under the
# corpus unigram MLE; low = boilerplate-like, high = gibberish-like;
# CCNet keeps the middle band. Each word's NLL is quantized to integer
# micro-nats BEFORE the per-doc sum, so the aggregation is
# reorder-proof (float + is not associative; integer + is) — the same
# integer-cents trick the CDC sums use.
# Scale: one groupBy(word) for the vocab, one shuffle join words→vocab
# (word-bounded), one groupBy(doc_id). No O(n²), no HOFs, no collect.
# --------------------------------------------------------------------------
NLL_BAND_LO = 2.0
NLL_BAND_HI = 6.0


def unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = d.select("doc_id", F.explode(words()).alias("w"))
    vocab = ws.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    term_micro = to_units(
        F.log(F.col("total").cast("double") / F.col("cnt")), 6
    )
    per_word = (
        ws.join(vocab, "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", term_micro.alias("nll_micro"))
    )
    avg_nll = round_half_up(F.col("sum_micro") / 1e6 / F.col("n_words"), 4)
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nll_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_words",
            avg_nll.alias("avg_nll"),
            ((avg_nll >= NLL_BAND_LO) & (avg_nll <= NLL_BAND_HI)).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


ORACLES["unigram_logprob"] = f"""
    WITH words AS (
        SELECT doc_id, unnest({SQL_WORDS}) AS w
        FROM documents),
    vocab AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    per_word AS (
        SELECT doc_id,
               {sql_to_units("ln(CAST(total AS DOUBLE) / cnt)", 6)} AS nll_micro
        FROM words JOIN vocab USING (w) CROSS JOIN tot),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nll_micro) AS BIGINT) AS sum_micro
        FROM per_word GROUP BY doc_id)
    SELECT doc_id, n_words,
           {sql_round_half_up("sum_micro / 1e6 / n_words", 4)} AS avg_nll,
           {sql_round_half_up("sum_micro / 1e6 / n_words", 4)}
               BETWEEN {NLL_BAND_LO} AND {NLL_BAND_HI} AS keep
    FROM per_doc ORDER BY doc_id
"""
QUERIES["unigram_logprob"] = unigram_logprob_q


# --------------------------------------------------------------------------
# TF-IDF top terms per document — the classic salient-term extractor
# (Salton & Buckley 1988) used by training pipelines for topic
# tagging, domain-mixing features, and keyword-based filtering. Per
# (doc, term): tf = in-doc occurrences; idf = ln(N/df) quantized to
# integer micro-nats BEFORE the product (the same reorder-proof
# integer trick as unigram_logprob — the gate then compares exact
# integers, no float-ranking drift surface). score = tf · idf_micro.
# Scale: two word-key groupBys (tf keyed by (doc,term), df keyed by
# term — both partial-agg friendly), one vocab-bounded join back, one
# per-doc top-k window over ≤ |doc vocab| rows. No O(n²), no HOFs.
# --------------------------------------------------------------------------
TFIDF_TOP = 3


def tfidf_topterms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words()).alias("t0")).select(
        "doc_id", F.lower("t0").alias("term")
    )
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = w.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf_micro = to_units(
        F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.col("tf") * idf_micro).cast("long").alias("score_micro"),
        )
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "score_micro",
        )
        .orderBy("doc_id", "rank")
    )


ORACLES["tfidf_topterms"] = f"""
    WITH w AS (
        SELECT doc_id,
               lower(unnest({SQL_WORDS})) AS term
        FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM w GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
              FROM w GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               CAST(tf.tf * {sql_to_units("ln(CAST(n_docs AS DOUBLE) / df)", 6)}
                    AS BIGINT) AS score_micro
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score_micro DESC, term)
                        AS rank
          FROM scored)
    SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, score_micro
    FROM r WHERE rank <= {TFIDF_TOP} ORDER BY doc_id, rank
"""
QUERIES["tfidf_topterms"] = tfidf_topterms_q


# --------------------------------------------------------------------------
# Gopher-style quality rule filter (Rae et al. 2021, arXiv:2112.11446
# §A1.1 — public): documents pass a conjunction of cheap lexical
# rules. Thresholds adapted to the synthetic corpus stats so every
# rule actually splits the data (word count 10-99, mean word length
# 3.7-5.3, top-word fraction 0.05-0.30 at sf0.01).
# --------------------------------------------------------------------------
_GOPHER_MIN_WORDS = 30
_GOPHER_MWL_LO = 3.8
_GOPHER_MWL_HI = 10.0
_GOPHER_MIN_STOPWORDS = 2
_GOPHER_TOPWORD_MAX = 0.12


def gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher rule pass counts. Doc-level expressions
    (word count, mean word length, distinct-stopword count via the
    codegen'd array_remove trick) are a single narrow projection; the
    top-word fraction needs one explode + per-(doc, word) count — the
    only shuffle, keyed by doc_id, and the final per-source rollup is
    map-side combinable. All output columns are BIGINT counts, so the
    gate is exact."""
    d = load_table(spark, sf_dir, "documents")
    ws = words()
    n_words = F.size(ws)
    mwl = (F.length("text") - (n_words - 1)) / n_words
    n_stop_distinct = sum(
        (F.array_contains(ws, w).cast("int"))
        for w in STOPWORDS["en"]
    )
    doc_level = d.select(
        "doc_id",
        "source",
        n_words.alias("n_words"),
        mwl.alias("mwl"),
        n_stop_distinct.alias("n_stop"),
    )
    top_frac = (
        d.select("doc_id", F.explode(ws).alias("word"))
        .groupBy("doc_id", "word")
        .count()
        .groupBy("doc_id")
        .agg((F.max("count") / F.sum("count")).alias("top_frac"))
    )
    flags = doc_level.join(top_frac, "doc_id").select(
        "source",
        (F.col("n_words") >= _GOPHER_MIN_WORDS).cast("long").alias("p_wc"),
        (
            (F.col("mwl") >= _GOPHER_MWL_LO) & (F.col("mwl") <= _GOPHER_MWL_HI)
        ).cast("long").alias("p_mwl"),
        (F.col("n_stop") >= _GOPHER_MIN_STOPWORDS).cast("long").alias("p_stop"),
        (F.col("top_frac") <= _GOPHER_TOPWORD_MAX).cast("long").alias("p_top"),
    )
    keep = (
        (F.col("p_wc") == 1)
        & (F.col("p_mwl") == 1)
        & (F.col("p_stop") == 1)
        & (F.col("p_top") == 1)
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("p_wc").cast("long").alias("n_pass_wordcount"),
            F.sum("p_mwl").cast("long").alias("n_pass_wordlen"),
            F.sum("p_stop").cast("long").alias("n_pass_stopwords"),
            F.sum("p_top").cast("long").alias("n_pass_topword"),
            F.sum(keep.cast("long")).cast("long").alias("n_keep"),
        )
        .orderBy("source")
    )


ORACLES["gopher_rules"] = f"""
    WITH base AS (
        SELECT doc_id, source, {SQL_WORDS} AS ws, text FROM documents
    ),
    doc_level AS (
        SELECT doc_id, source, len(ws) AS n_words,
               (length(text) - (len(ws) - 1)) * 1.0 / len(ws) AS mwl,
               {" + ".join(f"CASE WHEN list_contains(ws, '{w}') THEN 1 ELSE 0 END" for w in STOPWORDS["en"])} AS n_stop
        FROM base
    ),
    top_frac AS (
        SELECT doc_id, max(n) * 1.0 / sum(n) AS top_frac
        FROM (
            SELECT doc_id, word, count(*) AS n
            FROM (SELECT doc_id, unnest(ws) AS word FROM base)
            GROUP BY doc_id, word
        )
        GROUP BY doc_id
    ),
    flags AS (
        SELECT source,
               CASE WHEN n_words >= {_GOPHER_MIN_WORDS} THEN 1 ELSE 0 END AS p_wc,
               CASE WHEN mwl >= {_GOPHER_MWL_LO} AND mwl <= {_GOPHER_MWL_HI} THEN 1 ELSE 0 END AS p_mwl,
               CASE WHEN n_stop >= {_GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS p_stop,
               CASE WHEN top_frac <= {_GOPHER_TOPWORD_MAX} THEN 1 ELSE 0 END AS p_top
        FROM doc_level JOIN top_frac USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p_wc) AS BIGINT) AS n_pass_wordcount,
           CAST(sum(p_mwl) AS BIGINT) AS n_pass_wordlen,
           CAST(sum(p_stop) AS BIGINT) AS n_pass_stopwords,
           CAST(sum(p_top) AS BIGINT) AS n_pass_topword,
           CAST(sum(CASE WHEN p_wc = 1 AND p_mwl = 1 AND p_stop = 1
                          AND p_top = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM flags
    GROUP BY source ORDER BY source
"""
QUERIES["gopher_rules"] = gopher_rules_q


# --------------------------------------------------------------------------
# Iterated BPE merge training (Sennrich, Haddow & Birch 2016, "Neural
# Machine Translation of Rare Words with Subword Units", §3.2).
#
# The 100 TB design hinges on the classic word-frequency-table trick:
# BPE training never touches the corpus after ONE word-count shuffle —
# every merge iteration runs over the distinct-word table (vocab-
# sized, millions of rows at web scale, not the corpus's trillions of
# tokens). Per iteration: pair extraction is a per-row HOF over the
# word's current symbol sequence (no shuffle), the pair-frequency agg
# is one map-side-combined groupBy, the argmax is orderBy+limit(1)
# (TakeOrdered — one row to the driver, the only driver traffic), and
# applying the merge is a codegen'd string replace over the word
# table. K iterations = K cheap vocab-table jobs, all deterministic.
#
# Symbol sequences are wrapped strings ('<l><o><w></w>'): each token
# individually delimited, so a merge is a plain non-overlapping
# left-to-right replace('<a><b>' -> '<ab>') with IDENTICAL semantics
# in Spark and DuckDB (both scan left to right and resume after each
# replacement — matching the reference algorithm's regex pass), and
# the oracle can replay the whole loop as K unrolled CTE stages.
# Tokens are restricted to [a-z]+ words so '<'/'>' never collide.
# --------------------------------------------------------------------------

BPE_MERGES = 10


def _bpe_word_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, seq) — the word-frequency table with initial
    character-level symbol sequences plus the '</w>' end marker."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(words()).alias("t0"))
        .select(F.lower("t0").alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return vocab.withColumn(
        "seq", F.concat(F.regexp_replace("word", "(.)", "<$1>"), F.lit("</w>"))
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame, DataFrame]:
    """Run the K-round training loop. Returns (merge rows, final
    symbol sequences, the cached base frame — caller unpersists after
    its last consuming action).

    The word-frequency table is cached once (it is the vocab, orders
    of magnitude smaller than the corpus) so the K iterations replay
    only their replace chain over it, not the corpus word count. The
    cached vocab is re-laid-out to a partition count sized by its row
    count (~500k rows/partition, min 2): the K iterations each run a
    full stage over the vocab, so on a small vocab the loop is pure
    task-scheduling overhead at the session's default parallelism
    (measured 2.2× slower at 32 partitions for a 31-row vocab), while
    a web-scale vocab still spreads over hundreds of partitions."""
    base = _bpe_word_seqs(spark, sf_dir).cache()
    n_vocab = base.count()
    parts = max(2, min(256, n_vocab // 500_000 + 1))
    sized = base.coalesce(parts).cache()
    sized.count()
    base.unpersist()
    base = sized
    seqs = base
    rows: list[tuple] = []
    for rank in range(1, BPE_MERGES + 1):
        toks = F.expr("split(substring(seq, 2, length(seq)-2), '><')")
        pairs = (
            seqs.select("freq", toks.alias("t"))
            .filter(F.size("t") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t)-1),"
                        " i -> struct(t[i-1] AS a, t[i] AS b))"
                    )
                ).alias("p"),
            )
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.desc("pf"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, pf = best[0]["a"], best[0]["b"], best[0]["pf"]
        rows.append((rank, a, b, a + b, int(pf)))
        seqs = seqs.withColumn(
            "seq",
            F.replace(
                F.col("seq"), F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>")
            ),
        )
    return rows, seqs, base


def bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE_MERGES merge rules over the corpus; output the merge
    table (rank, lhs, rhs, merged, pair_freq) — the artifact a BPE
    tokenizer ships. Ties break on (freq DESC, lhs ASC, rhs ASC) in
    both engines. The K argmax rows are the only data collected."""
    rows, _seqs, base = _bpe_train(spark, sf_dir)
    base.unpersist()
    return spark.createDataFrame(
        rows,
        "merge_rank int, lhs string, rhs string, merged string, pair_freq bigint",
    ).orderBy("merge_rank")


def bpe_tokenize_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merge table back to the corpus (train →
    tokenize): per final tokens-per-word count, the number of word
    types and the total word occurrences covered. This is the
    compression report a tokenizer build emits — the mass at low
    n_tokens is what the merges bought. The histogram is bounded by
    the longest word, so the result is collected (≤ dozens of rows)
    and the cached vocab is released before returning."""
    _rows, seqs, base = _bpe_train(spark, sf_dir)
    toks = F.expr("split(substring(seq, 2, length(seq)-2), '><')")
    hist = (
        seqs.select(F.size(toks).alias("n_tokens"), "freq")
        .groupBy("n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("freq").cast("long").alias("n_occurrences"),
        )
        .orderBy("n_tokens")
    )
    out = spark.createDataFrame(hist.collect(), hist.schema)
    base.unpersist()
    return out


def _bpe_train_sql(k: int) -> str:
    """K unrolled training CTEs (merge i+1 is best{i}; seq{k} holds the
    words after all K), to which each BPE oracle appends its SELECT."""
    parts = [
        f"""
    WITH toks_raw AS (
        SELECT lower(t) AS word
        FROM (SELECT unnest({SQL_WORDS}) AS t FROM documents)
        WHERE regexp_full_match(lower(t), '[a-z]+')
    ),
    words AS (SELECT word, count(*) AS freq FROM toks_raw GROUP BY word),
    seq0 AS MATERIALIZED (
        SELECT word, freq,
               regexp_replace(word, '(.)', '<\\1>', 'g') || '</w>' AS seq
        FROM words
    )"""
    ]
    # seq{i}/best{i} are referenced more than once downstream; without
    # MATERIALIZED DuckDB inlines CTEs, and the per-level double
    # reference recomputes the whole chain per consumer (exponential
    # in K — measured 35s at 500 docs vs 0.2s materialized).
    for i in range(k):
        parts.append(f""",
    tok{i} AS (
        SELECT freq, string_split(substr(seq, 2, length(seq)-2), '><') AS t
        FROM seq{i}
    ),
    pr{i} AS (
        SELECT freq,
               unnest([{{'a': t[i], 'b': t[i+1]}} for i in range(1, len(t))]) AS p
        FROM tok{i} WHERE len(t) >= 2
    ),
    best{i} AS MATERIALIZED (
        SELECT p.a AS a, p.b AS b, sum(freq) AS pf
        FROM pr{i} GROUP BY 1, 2
        ORDER BY pf DESC, a, b LIMIT 1
    ),
    seq{i + 1} AS MATERIALIZED (
        SELECT s.word, s.freq,
               replace(s.seq, '<' || x.a || '><' || x.b || '>',
                       '<' || x.a || x.b || '>') AS seq
        FROM seq{i} s CROSS JOIN best{i} x
    )""")
    return "".join(parts)


def _bpe_oracle_sql(k: int) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, "
        f"CAST(pf AS BIGINT) AS pair_freq FROM best{i}"
        for i in range(k)
    )
    return _bpe_train_sql(k) + f"""
    SELECT CAST(merge_rank AS INT) AS merge_rank, lhs, rhs, merged, pair_freq
    FROM ({union})
    ORDER BY merge_rank"""


def _bpe_apply_oracle_sql(k: int) -> str:
    """The tokens-per-word histogram of the applied tokenization."""
    return _bpe_train_sql(k) + f"""
    SELECT CAST(len(string_split(substr(seq, 2, length(seq)-2), '><'))
                AS INT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM seq{k} GROUP BY 1 ORDER BY n_tokens"""


ORACLES["bpe_merges"] = _bpe_oracle_sql(BPE_MERGES)
QUERIES["bpe_merges"] = bpe_merges_q
ORACLES["bpe_tokenize_apply"] = _bpe_apply_oracle_sql(BPE_MERGES)
QUERIES["bpe_tokenize_apply"] = bpe_tokenize_apply_q


# --------------------------------------------------------------------------
# Interpolated bigram LM scoring — the contextual upgrade of
# unigram_logprob, one step closer to CCNet's KenLM filter (Wenzek et
# al. 2020) while staying deterministic and model-free:
#   P(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}) + (1-λ)·c(w_i)/T
# Positions 2..n are scored (no BOS modeling); each position's NLL is
# quantized to integer micro-nats BEFORE the per-doc sum (reorder-
# proof, the repo's standard trick), and the interpolation arithmetic
# is written with the identical operation order in both engines so
# the doubles agree bit-for-bit before quantization.
# Scale: shuffle-free bigram rows for adjacency, one groupBy per n-gram
# order (both partial-agg friendly, vocab-bounded), two vocab joins
# back, one per-doc agg. No O(n²), no HOFs, no collect.
# --------------------------------------------------------------------------
BIGRAM_LAMBDA = 0.75
BIGRAM_NLL_LO = 1.0
BIGRAM_NLL_HI = 7.0


def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(words()).alias("w1"))
    # words hold no whitespace, so a bigram's first and last word are
    # the text before its first and after its last space
    pairs = word_ngrams(d, 2).select(
        "doc_id",
        F.substring_index("gram", " ", 1).alias("w1"),
        F.substring_index("gram", " ", -1).alias("w2"),
    )
    uni = w.groupBy(F.col("w1").alias("uw")).agg(
        F.count(F.lit(1)).alias("uc")
    )
    tot = uni.agg(F.sum("uc").alias("total"))
    bi = pairs.groupBy(
        F.col("w1").alias("bw1"), F.col("w2").alias("bw2")
    ).agg(F.count(F.lit(1)).alias("bc"))
    ctx = uni.select(F.col("uw").alias("cw"), F.col("uc").alias("cc"))
    p = (
        F.lit(BIGRAM_LAMBDA)
        * (F.col("bc").cast("double") / F.col("cc").cast("double"))
        + F.lit(1.0 - BIGRAM_LAMBDA)
        * (F.col("uc").cast("double") / F.col("total").cast("double"))
    )
    nll_micro = to_units(-F.log(p), 6)
    scored = (
        pairs.join(bi, (pairs.w1 == bi.bw1) & (pairs.w2 == bi.bw2))
        .join(ctx, pairs.w1 == ctx.cw)
        .join(uni, pairs.w2 == uni.uw)
        .crossJoin(F.broadcast(tot))
        .select("doc_id", nll_micro.alias("nll_micro"))
    )
    avg_nll = round_half_up(F.col("sum_micro") / 1e6 / F.col("n_scored"), 4)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("nll_micro").alias("sum_micro"),
        )
        .select(
            "doc_id",
            "n_scored",
            avg_nll.alias("avg_nll"),
            ((avg_nll >= BIGRAM_NLL_LO) & (avg_nll <= BIGRAM_NLL_HI)).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


ORACLES["bigram_logprob"] = f"""
    WITH words AS (SELECT doc_id, unnest({SQL_WORDS}) AS w1 FROM documents),
    pr AS (
        SELECT doc_id, split_part(gram, ' ', 1) AS w1,
               split_part(gram, ' ', 2) AS w2
        FROM ({sql_word_ngrams(2)})),
    uni AS (SELECT w1 AS uw, count(*) AS uc FROM words GROUP BY w1),
    tot AS (SELECT CAST(sum(uc) AS BIGINT) AS total FROM uni),
    bi AS (SELECT w1 AS bw1, w2 AS bw2, count(*) AS bc
           FROM pr GROUP BY w1, w2),
    scored AS (
        SELECT doc_id,
               {sql_to_units(
                   f"-ln({BIGRAM_LAMBDA!r}"
                   " * (CAST(bc AS DOUBLE) / CAST(cc AS DOUBLE))"
                   f" + {1.0 - BIGRAM_LAMBDA!r}"
                   " * (CAST(uc AS DOUBLE) / CAST(total AS DOUBLE)))", 6
               )} AS nll_micro
        FROM pr
        JOIN bi ON pr.w1 = bi.bw1 AND pr.w2 = bi.bw2
        JOIN (SELECT uw AS cw, uc AS cc FROM uni) c ON pr.w1 = c.cw
        JOIN uni ON pr.w2 = uni.uw
        CROSS JOIN tot),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(nll_micro) AS BIGINT) AS sum_micro
        FROM scored GROUP BY doc_id)
    SELECT doc_id, n_scored,
           {sql_round_half_up("sum_micro / 1e6 / n_scored", 4)} AS avg_nll,
           {sql_round_half_up("sum_micro / 1e6 / n_scored", 4)}
               BETWEEN {BIGRAM_NLL_LO} AND {BIGRAM_NLL_HI} AS keep
    FROM per_doc ORDER BY doc_id
"""
QUERIES["bigram_logprob"] = bigram_logprob_q
