"""Property-based invariants (hypothesis) for the CDC materializers:
for ANY well-formed change log, latest_state equals a reference
Python replay, SCD2 versions partition each key's timeline, and
compaction is idempotent.
"""

import duckdb
import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from debezium_spark.cdc.materialize import (
    latest_state,
    scd2,
    sql_latest_state,
    tombstones,
)

# a key's life: create, then 0..4 updates, optionally a delete
key_life = st.tuples(
    st.integers(min_value=0, max_value=30),          # n_updates seed
    st.booleans(),                                    # deleted?
    st.lists(st.floats(min_value=0, max_value=1e6,
                       allow_nan=False, allow_infinity=False),
             min_size=1, max_size=5),
)

logs = st.dictionaries(
    st.integers(min_value=0, max_value=40), key_life, min_size=1, max_size=12
)


def build_log(spark, d):
    rows = []
    seq = 0
    for key, (_, deleted, values) in sorted(d.items()):
        for i, v in enumerate(values):
            seq += 1
            rows.append((key, "c" if i == 0 else "u", seq, float(v)))
        if deleted:
            seq += 1
            rows.append((key, "d", seq, None))
    full = [(k, op, sq, sq, v) for (k, op, sq, v) in rows]
    return rows, spark.createDataFrame(
        full, "key long, op string, seq long, ts_ms long, after_totalprice double"
    )


def reference_replay(rows):
    state = {}
    for key, op, seq, v in sorted(rows, key=lambda r: r[2]):
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = (seq, v)
    return state


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(d=logs)
def test_latest_state_equals_reference_replay(spark, d):
    rows, df = build_log(spark, d)
    got = {
        r["key"]: (r["seq"], r["after_totalprice"])
        for r in latest_state(df).collect()
    }
    assert got == reference_replay(rows)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(d=logs)
def test_sql_latest_state_matches_spark(spark, d):
    # the oracles' DuckDB twin keeps the same rows, tombstones or not
    rows, df = build_log(spark, d)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE log (key BIGINT, op VARCHAR, seq BIGINT, v DOUBLE)"
    )
    con.executemany("INSERT INTO log VALUES (?, ?, ?, ?)", rows)
    for keep in (False, True):
        want = {
            tuple(r)
            for r in latest_state(df, keep_tombstones=keep)
            .select("key", "op", "seq", "after_totalprice")
            .collect()
        }
        got = set(con.execute(
            "SELECT key, op, seq, v FROM "
            + sql_latest_state("log", keep_tombstones=keep)
        ).fetchall())
        assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(d=logs)
def test_scd2_partitions_timeline(spark, d):
    rows, df = build_log(spark, d)
    hist = scd2(df).collect()
    n_state_events = sum(1 for r in rows if r[1] != "d")
    assert len(hist) == n_state_events
    by_key = {}
    for h in hist:
        by_key.setdefault(h["key"], []).append(h)
    deleted_keys = {r[0] for r in rows if r[1] == "d"}
    for key, versions in by_key.items():
        versions.sort(key=lambda h: h["valid_from_seq"])
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to_seq"] is not None
            # chain: each version closes at or before the next opens
            assert a["valid_to_seq"] <= b["valid_from_seq"]
        last = versions[-1]
        if key in deleted_keys:
            assert last["valid_to_seq"] is not None  # closed by delete
            assert not last["is_current"]
        else:
            assert last["is_current"]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(d=logs)
def test_compaction_idempotent(spark, d):
    _, df = build_log(spark, d)
    once = latest_state(df)
    twice = latest_state(once)
    a = {(r["key"], r["seq"]) for r in once.collect()}
    b = {(r["key"], r["seq"]) for r in twice.collect()}
    assert a == b


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(d=logs)
def test_tombstones_count(spark, d):
    rows, df = build_log(spark, d)
    assert tombstones(df).count() == sum(1 for r in rows if r[1] == "d")


# --- round-5 codec properties (pure Python, no Spark fixture) -------------

from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(doc_id=st.integers(min_value=0, max_value=10**9),
       n_chars=st.integers(min_value=0, max_value=10**6))
def test_bmp_decode_matches_formula(doc_id, n_chars):
    """decode(encode(d, c)) must recover exactly the generating pixel
    formula for ANY (doc_id, n_chars) — every width/padding/row-order
    combination the encoder can produce."""
    from debezium_spark.operators.multimodal import decode_bmp, encode_bmp

    w, h, mean_r, poswt = decode_bmp(encode_bmp(doc_id, n_chars))
    assert (w, h) == (n_chars % 16 + 4, n_chars % 12 + 4)
    total = exp_poswt = 0
    for y in range(h):
        for x in range(w):
            r = (x * 7 + y * 13 + doc_id) % 256
            total += r
            exp_poswt += (y * w + x) * r
    assert mean_r == total / (w * h)
    assert poswt == exp_poswt


@settings(max_examples=60, deadline=None)
@given(doc_id=st.integers(min_value=0, max_value=10**9),
       n_chars=st.integers(min_value=0, max_value=10**6))
def test_wav_decode_matches_formula(doc_id, n_chars):
    from debezium_spark.operators.multimodal import decode_wav, encode_wav

    n, sr, mean_v, poswt = decode_wav(encode_wav(doc_id, n_chars))
    assert n == n_chars % 256 + 16
    assert sr == 8000 + (n_chars % 8) * 500
    samples = [((i * 37 + doc_id * 11) % 65536) - 32768 for i in range(n)]
    assert mean_v == sum(samples) / n
    assert poswt == sum(i * v for i, v in enumerate(samples))


@settings(max_examples=40, deadline=None)
@given(doc_id=st.integers(min_value=0, max_value=10**6),
       n_chars=st.integers(min_value=0, max_value=10**6))
def test_dhash_in_range_and_deterministic(doc_id, n_chars):
    from debezium_spark.operators.multimodal import (
        decode_bmp_pixels,
        dhash_pixels,
    )
    from debezium_spark.operators.multimodal import encode_bmp

    w, h, rows = decode_bmp_pixels(encode_bmp(doc_id, n_chars))
    h1 = dhash_pixels(w, h, rows)
    h2 = dhash_pixels(w, h, rows)
    assert h1 == h2
    assert 0 <= h1 < 1 << 56
