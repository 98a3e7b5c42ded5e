"""Source-dialect normalizers: map per-database change-log layouts
into the canonical flat envelope (key/op/seq/ts_ms/before_/after_).

Debezium ships one connector per source; the part that differs per
source is exactly this mapping — how the native log encodes operation
type, ordering, and before/after images. Ten dialects live here: the
IBM i journal (the jhc fork's headline connector, with and without
commitment control), Postgres logical decoding, MySQL binlog, MongoDB
change streams, Cloud Spanner change records, Oracle LogMiner,
Cassandra commitlog CDC, Vitess VStream, SQL Server change tables and
Db2 SQL-Replication CD tables.

Every dialect with native op codes states them once, in one code
table (`*_OP_MAP`; Spanner's `SPANNER_MOD_MAP`) from native code to
canonical c/u/d. That table drives both directions: `_decode_op`
normalizes through it, and `_encode_op` inverts it (the first code
listed per op) for the oracle-gated round-trip encoders. Cassandra
(tombstone flag) and SQL Server (numeric __$operation) have no table.

A row whose native code the table does not list carries no row
change — IBM i UB before-images and non-record entries, pgoutput
commit messages, Mongo invalidate events — and is dropped, as
Debezium skips entry types it does not handle. Decoded instead, it
would get a NULL op, win max-seq in `latest_state` and delete its key.

Each normalizer is a narrow projection, except two that shuffle:
`normalize_sqlserver_cdc` folds an update's two change-table rows with
a groupBy on the LSN, and `normalize_ibmi_journal_commitment` joins
entries to their committed cycles on JOCCID.

Each emits the same canonical columns, so every SMT/materialization
operator downstream is source-agnostic — Debezium's core design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_spark.cdc.envelope import CDC_FLAT_SQL as _CDC_FLAT_SQL
from debezium_spark.cdc.envelope import sql_txn_id, synthesize_cdc_flat, txn_id
from debezium_spark.functions.rounding import sql_to_units, to_units


def _decode_op(codes: dict[str, str], col: str) -> Column:
    """Canonical op of the native code in `col`, looked up in `codes`.
    Callers first drop the rows whose code `codes` does not list."""
    return F.create_map(
        *[x for k, v in codes.items() for x in (F.lit(k), F.lit(v))]
    )[F.col(col)]


def _encode_op(codes: dict[str, str]) -> Column:
    """Native code of the canonical `op` column: the first code `codes`
    lists for c and for u; anything else encodes as the first d code."""
    # reversed, so the first-listed code per op is written last and wins
    first = {op: native for native, op in reversed(codes.items())}
    op = F.col("op")
    return (
        F.when(op == "c", first["c"])
        .when(op == "u", first["u"])
        .otherwise(first["d"])
    )


def _per_op(env: DataFrame, *aggs: Column) -> DataFrame:
    """The round-trip check: events per op (n_events), then `aggs`,
    ordered by op."""
    return (
        env.groupBy("op")
        .agg(F.count(F.lit(1)).alias("n_events"), *aggs)
        .orderBy("op")
    )


def _sum_cents(side: str) -> Column:
    """sum_<side>_cents: <side>_totalprice summed in integer cents, so
    the sum is bit-exact in any reduction order."""
    return F.sum(to_units(F.col(f"{side}_totalprice"), 2)).alias(
        f"sum_{side}_cents"
    )


def _sql_sum_cents(side: str) -> str:
    """DuckDB twin of `_sum_cents`."""
    units = sql_to_units(f"{side}_totalprice", 2)
    return f"CAST(sum({units}) AS BIGINT) AS sum_{side}_cents"


IBMI_OP_MAP = {"PT": "c", "PX": "c", "UP": "u", "DL": "d", "DR": "d"}


def normalize_ibmi_journal(journal: DataFrame) -> DataFrame:
    """IBM i journal → canonical envelope.

    Expects columns: JOCODE (journal code), JOENTT (entry type),
    JOSEQN (sequence), JOTSTP (timestamp ms), JOKEY (record key),
    before_totalprice / after_totalprice payload images. Public journal
    semantics: JOCODE 'R' = record-level entry; PT/PX = put (insert),
    UP = update after-image, DL/DR = delete. UB (before-image) rows are
    folded into the matching UP row upstream, so here they are dropped
    along with every other entry type IBMI_OP_MAP does not list."""
    return (
        journal.filter(
            (F.col("JOCODE") == "R") & F.col("JOENTT").isin(*IBMI_OP_MAP)
        )
        .select(
            F.col("JOKEY").alias("key"),
            _decode_op(IBMI_OP_MAP, "JOENTT").alias("op"),
            F.col("JOSEQN").alias("seq"),
            F.col("JOTSTP").alias("ts_ms"),
            F.col("before_totalprice"),
            F.col("after_totalprice"),
        )
    )


PG_OP_MAP = {"I": "c", "U": "u", "D": "d"}


def normalize_pg_wal(wal: DataFrame) -> DataFrame:
    """Postgres logical decoding → canonical envelope (action I/U/D,
    ordering by lsn)."""
    return wal.filter(F.col("action").isin(*PG_OP_MAP)).select(
        F.col("pkey").alias("key"),
        _decode_op(PG_OP_MAP, "action").alias("op"),
        F.col("lsn").alias("seq"),
        F.col("commit_ts_ms").alias("ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )


MYSQL_OP_MAP = {"WRITE_ROWS": "c", "UPDATE_ROWS": "u", "DELETE_ROWS": "d"}


def normalize_mysql_binlog(binlog: DataFrame) -> DataFrame:
    """MySQL binlog row events → canonical envelope; global order is
    (file_seq, pos) flattened into one sequence number."""
    return binlog.filter(F.col("event_type").isin(*MYSQL_OP_MAP)).select(
        F.col("pkey").alias("key"),
        _decode_op(MYSQL_OP_MAP, "event_type").alias("op"),
        (F.col("file_seq") * F.lit(10_000_000_000) + F.col("pos")).alias("seq"),
        F.col("ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )


MONGO_OP_MAP = {"insert": "c", "update": "u", "replace": "u", "delete": "d"}


def normalize_mongo_change_stream(cs: DataFrame) -> DataFrame:
    """MongoDB change streams → canonical envelope. Change-stream
    docs carry operationType, documentKey, fullDocument (after image
    when available) and clusterTime ordering; Debezium's MongoDB
    connector maps these the same way (no before image without
    pre-images enabled)."""
    return cs.filter(F.col("operationType").isin(*MONGO_OP_MAP)).select(
        F.get_json_object("documentKey", "$._id").cast("long").alias("key"),
        _decode_op(MONGO_OP_MAP, "operationType").alias("op"),
        F.col("clusterTime").alias("seq"),
        F.col("ts_ms"),
        F.lit(None).cast("double").alias("before_totalprice"),
        F.get_json_object("fullDocument", "$.o_totalprice")
        .cast("double")
        .alias("after_totalprice"),
    )


SPANNER_MOD_MAP = {"INSERT": "c", "UPDATE": "u", "DELETE": "d"}


def normalize_spanner_change_record(cr: DataFrame) -> DataFrame:
    """Cloud Spanner change streams → canonical envelope: mod_type +
    commit_timestamp + record_sequence give the total order; new_values
    carries the after image."""
    return cr.filter(F.col("mod_type").isin(*SPANNER_MOD_MAP)).select(
        F.col("pkey").alias("key"),
        _decode_op(SPANNER_MOD_MAP, "mod_type").alias("op"),
        (F.col("commit_ts_ms") * F.lit(1000) + F.col("record_sequence")).alias(
            "seq"
        ),
        F.col("commit_ts_ms").alias("ts_ms"),
        F.get_json_object("old_values", "$.o_totalprice")
        .cast("double")
        .alias("before_totalprice"),
        F.get_json_object("new_values", "$.o_totalprice")
        .cast("double")
        .alias("after_totalprice"),
    )


ORACLE_OP_MAP = {"INSERT": "c", "UPDATE": "u", "DELETE": "d"}


def normalize_oracle_logminer(lm: DataFrame) -> DataFrame:
    """Oracle LogMiner rows → canonical envelope: OPERATION + SCN
    (system change number) + per-row before/after images; ROLLBACK=1
    rows are compensations and are dropped (Debezium does the same)."""
    return (
        lm.filter(
            (F.col("ROLLBACK") == 0) & F.col("OPERATION").isin(*ORACLE_OP_MAP)
        )
        .select(
            F.col("pkey").alias("key"),
            _decode_op(ORACLE_OP_MAP, "OPERATION").alias("op"),
            F.col("SCN").alias("seq"),
            F.col("COMMIT_TS_MS").alias("ts_ms"),
            F.col("before_totalprice"),
            F.col("after_totalprice"),
        )
    )


def normalize_cassandra_cdc(cc: DataFrame) -> DataFrame:
    """Cassandra commitlog CDC → canonical envelope. Cassandra has no
    before image and no in-place update/insert distinction
    (everything is an upsert cell write; deletes are tombstone
    markers); ordering is the cell writetime. Debezium's Cassandra
    connector likewise emits c/u by prior-row knowledge — absent
    that, upserts map to 'u' and the first write per key is
    reinterpreted downstream by the compaction (latest_state is
    insensitive to c-vs-u)."""
    op = F.when(F.col("is_tombstone"), F.lit("d")).otherwise(F.lit("u"))
    return cc.select(
        F.col("partition_key").alias("key"),
        op.alias("op"),
        F.col("writetime_us").alias("seq"),
        (F.col("writetime_us") / 1000).cast("long").alias("ts_ms"),
        F.lit(None).cast("double").alias("before_totalprice"),
        F.when(F.col("is_tombstone"), F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("after_totalprice"),
    )


def normalize_vitess_vstream(vs: DataFrame) -> DataFrame:
    """Vitess VStream → canonical envelope: row events carry a VGTID
    per shard; global order is (shard_order, gtid_seq)."""
    return vs.filter(F.col("event_type").isin(*MYSQL_OP_MAP)).select(
        F.col("pkey").alias("key"),
        _decode_op(MYSQL_OP_MAP, "event_type").alias("op"),
        (F.col("shard_order") * F.lit(10_000_000_000) + F.col("gtid_seq")).alias(
            "seq"
        ),
        F.col("ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
        F.col("keyspace"),
        F.col("shard"),
    )


def to_ibmi_journal(cdc_flat: DataFrame) -> DataFrame:
    """Inverse mapping (canonical → journal layout) used by tests to
    prove the normalizer round-trips."""
    return cdc_flat.select(
        F.lit("R").alias("JOCODE"),
        _encode_op(IBMI_OP_MAP).alias("JOENTT"),
        F.col("seq").alias("JOSEQN"),
        F.col("ts_ms").alias("JOTSTP"),
        F.col("key").alias("JOKEY"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )


def ibmi_journal_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """Oracle-gated round-trip for the fork's headline connector: the
    canonical stream is re-encoded as journal entries — doubled JOSEQN
    to interleave UB (update before-image) companion rows, plus
    JOCODE='J' journal-control rows — then normalized back. The
    normalizer must drop the UB and control rows and recover exactly
    the original stream, so the oracle is the plain synthesized stream
    aggregated per op (prices in integer cents for bit-exact sums)."""
    journal = to_ibmi_journal(synthesize_cdc_flat(spark, sf_dir))
    seqn = F.col("JOSEQN") * 2
    main = journal.withColumn("JOSEQN", seqn)
    ub = journal.filter(F.col("JOENTT") == "UP").withColumns(
        {"JOENTT": F.lit("UB"), "JOSEQN": seqn - 1}
    )
    ctl = journal.filter(F.col("JOENTT") == "PT").withColumns(
        {"JOCODE": F.lit("J"), "JOENTT": F.lit("PR"), "JOSEQN": seqn - 1}
    )
    env = normalize_ibmi_journal(main.unionByName(ub).unionByName(ctl))
    return _per_op(
        env,
        F.min("seq").alias("min_joseqn"),
        F.max("seq").alias("max_joseqn"),
        _sum_cents("after"),
    )


ORACLES: dict[str, str] = {
    "ibmi_journal_roundtrip": _CDC_FLAT_SQL
    + f"""
        SELECT op, count(*) AS n_events,
               min(seq * 2) AS min_joseqn,
               max(seq * 2) AS max_joseqn,
               {_sql_sum_cents("after")}
        FROM cdc GROUP BY op ORDER BY op
    """,
}

QUERIES = {
    "ibmi_journal_roundtrip": ibmi_journal_roundtrip_q,
}


def mysql_binlog_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """MySQL binlog normalizer under the external gate: the canonical
    stream is re-encoded as row events with rotating binlog files
    (file_seq = seq div 100000, pos = seq mod 100000) and normalized
    back; the flattened global order (file_seq·10^10 + pos) must
    reproduce the oracle's identical arithmetic."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    binlog = cdc.select(
        F.col("key").alias("pkey"),
        _encode_op(MYSQL_OP_MAP).alias("event_type"),
        (F.col("seq") / 100000).cast("long").alias("file_seq"),
        F.pmod(F.col("seq"), F.lit(100000)).alias("pos"),
        F.col("ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )
    return _per_op(
        normalize_mysql_binlog(binlog),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        _sum_cents("after"),
    )


ORACLES["mysql_binlog_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events,
           min((seq // 100000) * 10000000000 + seq % 100000) AS min_seq,
           max((seq // 100000) * 10000000000 + seq % 100000) AS max_seq,
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["mysql_binlog_roundtrip"] = mysql_binlog_roundtrip_q


def mongo_change_stream_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """MongoDB change-stream normalizer under the external gate: the
    canonical stream re-encoded as change-stream documents
    (operationType + JSON documentKey/fullDocument + clusterTime) and
    normalized back. Exercises the JSON extraction path; Mongo has no
    before image, so only after-side values round-trip."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    cs = cdc.select(
        _encode_op(MONGO_OP_MAP).alias("operationType"),
        F.to_json(F.struct(F.col("key").alias("_id"))).alias("documentKey"),
        F.to_json(
            F.struct(F.col("after_totalprice").alias("o_totalprice"))
        ).alias("fullDocument"),
        F.col("seq").alias("clusterTime"),
        F.col("ts_ms"),
    )
    return _per_op(
        normalize_mongo_change_stream(cs),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        _sum_cents("after"),
    )


ORACLES["mongo_change_stream_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events, min(seq) AS min_seq,
           max(seq) AS max_seq,
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["mongo_change_stream_roundtrip"] = mongo_change_stream_roundtrip_q


def cassandra_cdc_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """Cassandra commitlog normalizer under the external gate: the
    stream re-encoded as upsert cells / tombstones ordered by
    writetime. Cassandra has no c-vs-u distinction, so creates and
    updates both normalize to 'u' — the oracle folds the op space the
    same way."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    cc = cdc.select(
        F.col("key").alias("partition_key"),
        (F.col("op") == "d").alias("is_tombstone"),
        (F.col("seq") * 1000).alias("writetime_us"),
        F.col("after_totalprice").alias("o_totalprice"),
    )
    return _per_op(
        normalize_cassandra_cdc(cc),
        F.countDistinct("key").alias("n_keys"),
        F.max("seq").alias("max_writetime_us"),
        _sum_cents("after"),
    )


ORACLES["cassandra_cdc_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT CASE WHEN op = 'd' THEN 'd' ELSE 'u' END AS op,
           count(*) AS n_events, count(DISTINCT key) AS n_keys,
           max(seq * 1000) AS max_writetime_us,
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY 1 ORDER BY op
"""
QUERIES["cassandra_cdc_roundtrip"] = cassandra_cdc_roundtrip_q


def pg_wal_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """Postgres logical-decoding normalizer under the external gate:
    action I/U/D rows ordered by LSN, normalized back to the canonical
    envelope."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    wal = cdc.select(
        F.col("key").alias("pkey"),
        _encode_op(PG_OP_MAP).alias("action"),
        F.col("seq").alias("lsn"),
        F.col("ts_ms").alias("commit_ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )
    return _per_op(
        normalize_pg_wal(wal),
        F.min("seq").alias("min_lsn"),
        F.max("seq").alias("max_lsn"),
        _sum_cents("before"),
    )


ORACLES["pg_wal_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events, min(seq) AS min_lsn,
           max(seq) AS max_lsn,
           {_sql_sum_cents("before")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["pg_wal_roundtrip"] = pg_wal_roundtrip_q


def spanner_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """Spanner change-record normalizer under the external gate:
    mod_type + (commit_timestamp, record_sequence) total order +
    JSON old/new_values images."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    cr = cdc.select(
        F.col("key").alias("pkey"),
        _encode_op(SPANNER_MOD_MAP).alias("mod_type"),
        F.col("ts_ms").alias("commit_ts_ms"),
        F.pmod(F.col("seq"), F.lit(1000)).alias("record_sequence"),
        F.to_json(
            F.struct(F.col("before_totalprice").alias("o_totalprice"))
        ).alias("old_values"),
        F.to_json(
            F.struct(F.col("after_totalprice").alias("o_totalprice"))
        ).alias("new_values"),
    )
    return _per_op(
        normalize_spanner_change_record(cr),
        F.max("seq").alias("max_seq"),
        _sum_cents("after"),
    )


ORACLES["spanner_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events,
           max(ts_ms * 1000 + seq % 1000) AS max_seq,
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["spanner_roundtrip"] = spanner_roundtrip_q


def oracle_logminer_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """LogMiner normalizer under the external gate: OPERATION + SCN
    rows plus ROLLBACK=1 compensation rows for every update — the
    normalizer must drop the compensations (Debezium does the same),
    so the oracle sees only the original stream."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    base = cdc.select(
        F.col("key").alias("pkey"),
        _encode_op(ORACLE_OP_MAP).alias("OPERATION"),
        F.col("seq").alias("SCN"),
        F.col("ts_ms").alias("COMMIT_TS_MS"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
    )
    rollbacks = base.filter(F.col("OPERATION") == "UPDATE").withColumn(
        "ROLLBACK", F.lit(1)
    )
    lm = base.withColumn("ROLLBACK", F.lit(0)).unionByName(rollbacks)
    return _per_op(
        normalize_oracle_logminer(lm),
        F.min("seq").alias("min_scn"),
        F.max("seq").alias("max_scn"),
        _sum_cents("after"),
    )


ORACLES["oracle_logminer_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events, min(seq) AS min_scn,
           max(seq) AS max_scn,
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["oracle_logminer_roundtrip"] = oracle_logminer_roundtrip_q


def vitess_vstream_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """VStream normalizer under the external gate: row events sharded
    by key (4 shards), global order = (shard_order, gtid_seq); the
    keyspace/shard origin columns survive normalization."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    shard = F.pmod(F.col("key"), F.lit(4))
    vs = cdc.select(
        F.col("key").alias("pkey"),
        _encode_op(MYSQL_OP_MAP).alias("event_type"),
        shard.alias("shard_order"),
        F.col("seq").alias("gtid_seq"),
        F.col("ts_ms"),
        F.col("before_totalprice"),
        F.col("after_totalprice"),
        F.lit("commerce").alias("keyspace"),
        F.concat(F.lit("-"), shard.cast("string")).alias("shard"),
    )
    env = normalize_vitess_vstream(vs)
    return (
        env.groupBy("keyspace", "shard", "op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("seq").alias("max_seq"),
        )
        .orderBy("shard", "op")
    )


ORACLES["vitess_vstream_roundtrip"] = _CDC_FLAT_SQL + """
    SELECT 'commerce' AS keyspace,
           '-' || CAST(key % 4 AS VARCHAR) AS shard, op,
           count(*) AS n_events,
           max((key % 4) * 10000000000 + seq) AS max_seq
    FROM cdc GROUP BY 1, 2, 3 ORDER BY shard, op
"""
QUERIES["vitess_vstream_roundtrip"] = vitess_vstream_roundtrip_q


# --------------------------------------------------------------------------
# SQL Server CDC tables (Debezium SQL Server connector; public docs:
# SQL Server change tables expose __$operation 1=delete / 2=insert /
# 3=update-before / 4=update-after, ordered by __$start_lsn +
# __$seqval). The distinct mechanic vs every other dialect: an UPDATE
# is TWO physical rows (3 then 4) that must be folded into one
# before+after event. The fold is a single groupBy on the LSN — one
# key-bounded shuffle.
# --------------------------------------------------------------------------
def normalize_sqlserver_cdc(ct: DataFrame) -> DataFrame:
    """Change-table rows -> canonical envelope. Rows sharing a
    __$start_lsn belong to one logical change; max(__$operation)
    disambiguates (2=c, 1=d, 4=u since the 3-row is always paired
    with a 4-row)."""
    is_before = F.col("__$operation").isin(1, 3)
    is_after = F.col("__$operation").isin(2, 4)
    return (
        ct.groupBy(F.col("__$start_lsn").alias("seq"))
        .agg(
            F.max("key").alias("key"),
            F.max("__$operation").alias("_maxop"),
            F.max(F.when(is_before, F.col("o_totalprice"))).alias(
                "before_totalprice"
            ),
            F.max(F.when(is_after, F.col("o_totalprice"))).alias(
                "after_totalprice"
            ),
            F.max("__$commit_time").alias("ts_ms"),
        )
        .select(
            "key",
            F.when(F.col("_maxop") == 2, "c")
            .when(F.col("_maxop") == 1, "d")
            .otherwise("u")
            .alias("op"),
            "seq",
            "ts_ms",
            "before_totalprice",
            "after_totalprice",
        )
    )


def sqlserver_cdc_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """SQL Server normalizer under the external gate: the canonical
    stream re-encoded as change-table rows (updates split into 3/4
    before/after pairs), folded back, and aggregated — must reproduce
    the original stream exactly."""
    cdc = synthesize_cdc_flat(spark, sf_dir)

    def rowset(ops, opcode, val_col, seqval):
        return cdc.filter(F.col("op").isin(*ops)).select(
            "key",
            F.lit(opcode).alias("__$operation"),
            F.col("seq").alias("__$start_lsn"),
            F.lit(seqval).alias("__$seqval"),
            F.col(val_col).alias("o_totalprice"),
            F.col("ts_ms").alias("__$commit_time"),
        )

    ct = (
        rowset(["c"], 2, "after_totalprice", 0)
        .unionByName(rowset(["d"], 1, "before_totalprice", 0))
        .unionByName(rowset(["u"], 3, "before_totalprice", 0))
        .unionByName(rowset(["u"], 4, "after_totalprice", 1))
    )
    return _per_op(
        normalize_sqlserver_cdc(ct),
        F.min("seq").alias("min_lsn"),
        F.max("seq").alias("max_lsn"),
        _sum_cents("before"),
        _sum_cents("after"),
    )


ORACLES["sqlserver_cdc_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events, min(seq) AS min_lsn,
           max(seq) AS max_lsn,
           {_sql_sum_cents("before")},
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["sqlserver_cdc_roundtrip"] = sqlserver_cdc_roundtrip_q


# --------------------------------------------------------------------------
# Db2 SQL-Replication CD tables (Debezium Db2 connector; public docs:
# the ASN capture agent populates change-data tables with
# IBMSNAP_OPERATION I/U/D ordered by IBMSNAP_COMMITSEQ then
# IBMSNAP_INTENTSEQ — commit order with statement sub-order, TWO
# sequence numbers unlike every single-sequence dialect; before images
# ride in X-prefixed companion columns). Completes the documented
# connector matrix: MySQL, Postgres, SQL Server, Oracle, Db2, MongoDB,
# Cassandra, Vitess, Spanner, IBM i.
# --------------------------------------------------------------------------
DB2_OP_MAP = {"I": "c", "U": "u", "D": "d"}


def normalize_db2_cd(cd: DataFrame) -> DataFrame:
    return cd.filter(F.col("IBMSNAP_OPERATION").isin(*DB2_OP_MAP)).select(
        F.col("key"),
        _decode_op(DB2_OP_MAP, "IBMSNAP_OPERATION").alias("op"),
        # commit order, then intent order within the transaction
        (F.col("IBMSNAP_COMMITSEQ") * F.lit(100000)
         + F.col("IBMSNAP_INTENTSEQ") % F.lit(100000)).alias("seq"),
        F.col("ts_ms"),
        F.col("XTOTALPRICE").alias("before_totalprice"),
        F.when(F.col("IBMSNAP_OPERATION") != "D", F.col("TOTALPRICE"))
        .alias("after_totalprice"),
    )


def db2_cd_roundtrip_q(spark, sf_dir: str) -> DataFrame:
    """Db2 CD-table normalizer under the external gate: the canonical
    stream re-encoded as CD rows (two-level COMMITSEQ/INTENTSEQ order,
    X-prefixed before images) and normalized back; per-op aggregates
    must reproduce the original stream exactly."""
    cdc = synthesize_cdc_flat(spark, sf_dir)
    cd = cdc.select(
        "key",
        _encode_op(DB2_OP_MAP).alias("IBMSNAP_OPERATION"),
        (F.col("seq") / 100000).cast("long").alias("IBMSNAP_COMMITSEQ"),
        F.pmod(F.col("seq"), F.lit(100000)).alias("IBMSNAP_INTENTSEQ"),
        F.col("ts_ms"),
        F.col("before_totalprice").alias("XTOTALPRICE"),
        F.col("after_totalprice").alias("TOTALPRICE"),
    )
    return _per_op(
        normalize_db2_cd(cd),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        _sum_cents("before"),
        _sum_cents("after"),
    )


ORACLES["db2_cd_roundtrip"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events,
           min((seq // 100000) * 100000 + seq % 100000) AS min_seq,
           max((seq // 100000) * 100000 + seq % 100000) AS max_seq,
           {_sql_sum_cents("before")},
           {_sql_sum_cents("after")}
    FROM cdc GROUP BY op ORDER BY op
"""
QUERIES["db2_cd_roundtrip"] = db2_cd_roundtrip_q


# --------------------------------------------------------------------------
# IBM i commitment control (round 5): the fork's journal reader runs
# under commitment control — R-entries belong to a commit cycle
# (JOCCID), and the cycle's fate arrives later as a C-code control
# entry: CM (commit) or RB (rollback). A faithful connector emits
# only entries of committed cycles; rolled-back cycles' row images
# must never reach the topic, and unterminated cycles are held back
# until their control entry arrives.
# --------------------------------------------------------------------------


def normalize_ibmi_journal_commitment(journal: DataFrame) -> DataFrame:
    """IBM i journal with commitment control → canonical envelope of
    COMMITTED changes only.

    Input adds JOCCID (commit cycle id) to the journal columns; C-code
    rows carry the cycle verdict (JOENTT 'CM' commit / 'RB' rollback).
    Entries join against the committed-cycle set on JOCCID — a plain
    equi-join (cycle count scales with transaction count, so no
    broadcast assumption); rolled-back and unterminated cycles drop
    out. The joined entries then go through normalize_ibmi_journal,
    which drops UB before-images and all control rows."""
    committed = (
        journal.filter((F.col("JOCODE") == "C") & (F.col("JOENTT") == "CM"))
        .select("JOCCID")
        .distinct()
    )
    return normalize_ibmi_journal(journal.join(committed, "JOCCID"))


def ibmi_commitment_control_q(spark, sf_dir: str) -> DataFrame:
    """Commitment-control gate for the headline connector: the
    canonical stream is journal-encoded with one commit cycle per
    transaction (ccid = txn_id(JOSEQN)); cycles with ccid % 7 == 3 get
    an RB control entry (their row entries must vanish), cycles with
    ccid % 11 == 5 get NO control entry (unterminated — held back), the
    rest get CM.
    The normalizer's per-op output must equal the oracle's closed-form
    filter of the original stream."""
    rows = to_ibmi_journal(synthesize_cdc_flat(spark, sf_dir)).withColumn(
        "JOCCID", txn_id(F.col("JOSEQN"))
    )
    verdict = F.when(F.pmod(F.col("JOCCID"), F.lit(7)) == 3, "RB").otherwise(
        "CM"
    )
    ctl = (
        rows.select("JOCCID")
        .distinct()
        .filter(F.pmod(F.col("JOCCID"), F.lit(11)) != 5)  # unterminated
        .select(F.lit("C").alias("JOCODE"), verdict.alias("JOENTT"), "JOCCID")
    )
    env = normalize_ibmi_journal_commitment(
        rows.unionByName(ctl, allowMissingColumns=True)
    )
    return _per_op(
        env,
        F.countDistinct(txn_id(F.col("seq"))).alias("n_cycles"),
        _sum_cents("after"),
    )


ORACLES["ibmi_commitment_control"] = _CDC_FLAT_SQL + f"""
    SELECT op, count(*) AS n_events,
           count(DISTINCT {sql_txn_id("seq")}) AS n_cycles,
           {_sql_sum_cents("after")}
    FROM cdc
    WHERE ({sql_txn_id("seq")}) % 7 <> 3 AND ({sql_txn_id("seq")}) % 11 <> 5
    GROUP BY op ORDER BY op
"""
QUERIES["ibmi_commitment_control"] = ibmi_commitment_control_q
