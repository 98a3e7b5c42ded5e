"""Source-dialect normalizer tests: each native log layout maps to
the canonical envelope; the IBM i journal round-trips."""

import pyspark.sql.functions as F
import pytest

from debezium_spark.cdc.envelope import synthesize_cdc_flat
from debezium_spark.sources.dialects import (
    normalize_ibmi_journal,
    normalize_mysql_binlog,
    normalize_pg_wal,
    to_ibmi_journal,
)


def test_ibmi_journal_roundtrip(spark, sf_dir):
    cdc = synthesize_cdc_flat(spark, sf_dir).select(
        "key", "op", "seq", "ts_ms", "before_totalprice", "after_totalprice"
    )
    journal = to_ibmi_journal(cdc)
    back = normalize_ibmi_journal(journal)
    assert back.count() == cdc.count()
    diff = back.unionByName(cdc).groupBy(back.columns).count().filter(
        F.col("count") != 2
    )
    assert diff.count() == 0


def test_ibmi_filters_non_record_and_before_images(spark):
    journal = spark.createDataFrame(
        [
            ("R", "PT", 1, 10, 1, None, 5.0),
            ("R", "UB", 2, 11, 1, 5.0, None),   # before-image: dropped
            ("R", "UP", 3, 12, 1, 5.0, 6.0),
            ("J", "NR", 4, 13, 1, None, None),  # journal control: dropped
            ("R", "DL", 5, 14, 1, 6.0, None),
            ("R", "IL", 6, 15, 1, None, None),  # unlisted entry type: dropped
        ],
        "JOCODE string, JOENTT string, JOSEQN long, JOTSTP long, JOKEY long,"
        " before_totalprice double, after_totalprice double",
    )
    out = normalize_ibmi_journal(journal)
    assert [r["op"] for r in out.orderBy("seq").collect()] == ["c", "u", "d"]


def test_pg_wal(spark):
    from debezium_spark.cdc.materialize import latest_state

    wal = spark.createDataFrame(
        [(1, "I", 100, 10, None, 5.0), (1, "U", 101, 11, 5.0, 6.0),
         (1, "D", 102, 12, 6.0, None),
         # an unlisted action (pgoutput commit message) must not
         # become the key's latest event and delete it
         (2, "I", 103, 13, None, 7.0), (2, "C", 104, 14, None, None)],
        "pkey long, action string, lsn long, commit_ts_ms long,"
        " before_totalprice double, after_totalprice double",
    )
    out = normalize_pg_wal(wal).orderBy("seq")
    assert [r["op"] for r in out.collect()] == ["c", "u", "d", "c"]
    assert [r["seq"] for r in out.collect()] == [100, 101, 102, 103]
    cur = latest_state(normalize_pg_wal(wal)).collect()
    assert [(r["key"], r["after_totalprice"]) for r in cur] == [(2, 7.0)]


def test_mongo_change_stream(spark):
    from debezium_spark.sources.dialects import normalize_mongo_change_stream

    cs = spark.createDataFrame(
        [
            ("insert", '{"_id": 7}', '{"o_totalprice": 10.5}', 100, 10),
            ("update", '{"_id": 7}', '{"o_totalprice": 11.5}', 101, 11),
            ("delete", '{"_id": 7}', None, 102, 12),
        ],
        "operationType string, documentKey string, fullDocument string,"
        " clusterTime long, ts_ms long",
    )
    out = normalize_mongo_change_stream(cs).orderBy("seq").collect()
    assert [r["op"] for r in out] == ["c", "u", "d"]
    assert out[1]["after_totalprice"] == 11.5
    assert out[2]["after_totalprice"] is None


def test_spanner_change_record(spark):
    from debezium_spark.sources.dialects import normalize_spanner_change_record

    cr = spark.createDataFrame(
        [
            (3, "INSERT", 1000, 0, None, '{"o_totalprice": 5.0}'),
            (3, "UPDATE", 1000, 1, '{"o_totalprice": 5.0}',
             '{"o_totalprice": 6.0}'),
        ],
        "pkey long, mod_type string, commit_ts_ms long, record_sequence long,"
        " old_values string, new_values string",
    )
    out = normalize_spanner_change_record(cr).orderBy("seq").collect()
    assert [r["op"] for r in out] == ["c", "u"]
    # same commit, record_sequence breaks the tie
    assert out[0]["seq"] < out[1]["seq"]
    assert out[1]["before_totalprice"] == 5.0


def test_oracle_logminer_drops_rollbacks(spark):
    from debezium_spark.sources.dialects import normalize_oracle_logminer

    lm = spark.createDataFrame(
        [
            (1, "INSERT", 100, 10, 0, None, 5.0),
            (1, "UPDATE", 101, 11, 0, 5.0, 6.0),
            (1, "UPDATE", 102, 12, 1, 6.0, 7.0),  # rollback: dropped
            (1, "DELETE", 103, 13, 0, 6.0, None),
        ],
        "pkey long, OPERATION string, SCN long, COMMIT_TS_MS long,"
        " ROLLBACK int, before_totalprice double, after_totalprice double",
    )
    out = normalize_oracle_logminer(lm).orderBy("seq").collect()
    assert [r["op"] for r in out] == ["c", "u", "d"]
    assert [r["seq"] for r in out] == [100, 101, 103]


def test_cassandra_cdc_upserts_and_tombstones(spark):
    from debezium_spark.cdc.materialize import latest_state
    from debezium_spark.sources.dialects import normalize_cassandra_cdc

    cc = spark.createDataFrame(
        [
            (1, 1000000, False, 5.0),
            (1, 2000000, False, 6.0),
            (2, 1500000, False, 9.0),
            (2, 2500000, True, None),
        ],
        "partition_key long, writetime_us long, is_tombstone boolean,"
        " o_totalprice double",
    )
    env = normalize_cassandra_cdc(cc)
    cur = latest_state(env)
    got = {r["key"]: r["after_totalprice"] for r in cur.collect()}
    assert got == {1: 6.0}  # key 2 tombstoned away


def test_vitess_vstream_shard_order(spark):
    from debezium_spark.sources.dialects import normalize_vitess_vstream

    vs = spark.createDataFrame(
        [
            (5, "WRITE_ROWS", 1, 900, 10, None, 1.0, "ks", "-80"),
            (5, "UPDATE_ROWS", 2, 100, 11, 1.0, 2.0, "ks", "80-"),
        ],
        "pkey long, event_type string, shard_order long, gtid_seq long,"
        " ts_ms long, before_totalprice double, after_totalprice double,"
        " keyspace string, shard string",
    )
    out = normalize_vitess_vstream(vs).orderBy("seq").collect()
    assert [r["op"] for r in out] == ["c", "u"]
    assert out[0]["seq"] < out[1]["seq"]
    assert {r["shard"] for r in out} == {"-80", "80-"}


def test_mysql_binlog_global_order(spark):
    binlog = spark.createDataFrame(
        [(1, "WRITE_ROWS", 1, 500, 10, None, 5.0),
         (1, "UPDATE_ROWS", 2, 100, 11, 5.0, 6.0)],
        "pkey long, event_type string, file_seq long, pos long, ts_ms long,"
        " before_totalprice double, after_totalprice double",
    )
    out = normalize_mysql_binlog(binlog).orderBy("seq").collect()
    # file 2 sorts after file 1 even though pos is smaller
    assert [r["op"] for r in out] == ["c", "u"]
    assert out[0]["seq"] < out[1]["seq"]


def test_sqlserver_cdc_pairing_fold(spark):
    from debezium_spark.sources.dialects import normalize_sqlserver_cdc

    ct = spark.createDataFrame(
        [
            # insert
            (1, 2, 100, 0, 10.0, 1000),
            # update = before(3) + after(4) pair sharing one LSN
            (1, 3, 101, 0, 10.0, 1001),
            (1, 4, 101, 1, 11.0, 1001),
            # delete
            (1, 1, 102, 0, 11.0, 1002),
        ],
        "key long, `__$operation` int, `__$start_lsn` long, "
        "`__$seqval` int, o_totalprice double, `__$commit_time` long",
    )
    out = {r["seq"]: r for r in normalize_sqlserver_cdc(ct).collect()}
    assert out[100]["op"] == "c" and out[100]["after_totalprice"] == 10.0
    assert out[101]["op"] == "u"
    assert out[101]["before_totalprice"] == 10.0
    assert out[101]["after_totalprice"] == 11.0
    assert out[102]["op"] == "d" and out[102]["after_totalprice"] is None


def test_db2_cd_normalizer(spark):
    from debezium_spark.sources.dialects import normalize_db2_cd

    cd = spark.createDataFrame(
        [
            (1, "I", 1, 1, 1000, None, 10.0),
            (1, "U", 1, 2, 1001, 10.0, 11.0),
            (1, "D", 2, 1, 1002, 11.0, 99.9),  # after ignored on D
        ],
        "key long, IBMSNAP_OPERATION string, IBMSNAP_COMMITSEQ long, "
        "IBMSNAP_INTENTSEQ long, ts_ms long, XTOTALPRICE double, "
        "TOTALPRICE double",
    )
    out = sorted(normalize_db2_cd(cd).collect(), key=lambda r: r["seq"])
    assert [r["op"] for r in out] == ["c", "u", "d"]
    assert out[1]["before_totalprice"] == 10.0
    assert out[1]["after_totalprice"] == 11.0
    assert out[2]["after_totalprice"] is None
    # commit order dominates intent order
    assert out[0]["seq"] < out[1]["seq"] < out[2]["seq"]


def test_ibmi_commitment_control_drops_rb_and_open_cycles(spark, sf_dir):
    """Rolled-back cycles' row entries and unterminated cycles must
    never reach the envelope; committed cycles survive intact."""
    from pyspark.sql import functions as F

    from debezium_spark.cdc.envelope import synthesize_cdc_flat
    from debezium_spark.sources.dialects import ibmi_commitment_control_q

    cdc = synthesize_cdc_flat(spark, sf_dir)
    ccid = F.floor(F.col("seq") / 100)
    expected = (
        cdc.filter((F.pmod(ccid, F.lit(7)) != 3) & (F.pmod(ccid, F.lit(11)) != 5))
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = {r["op"]: r["n"] for r in expected.collect()}
    got = {
        r["op"]: r["n_events"]
        for r in ibmi_commitment_control_q(spark, sf_dir).collect()
    }
    assert got == exp
    # sanity: the filter actually removed something
    total_all = cdc.count()
    assert sum(got.values()) < total_all
