"""Seeded generator for the star schema the package reads.

Writes one parquet file per table (`<dir>/<table>.parquet`) with the
column names and types `debezium_spark.sources.tables` expects. Row
counts follow the scale factor the way the reference data set does
(orders = 1.5M x sf, lineitem = 6M x sf, ...); values are uniform
draws from a `numpy` generator seeded with `--seed`, so one seed always
yields byte-identical tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the big small fast slow data spark table column row key value "
    "join group sort hash merge scan filter query batch stream window "
    "order part customer line agg vector dup"
).split()
ADJ = ("large hot blue old cold red small green").split()
NOUN = ("ring bolt plate gear widget rod anvil nut").split()
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "fr", "es", "zh", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US = 1_000_000


def _ts(lo: datetime, hi: datetime, n: int, rng, day: bool) -> pa.Array:
    a, b = int(lo.timestamp()), int(hi.timestamp())
    if day:
        secs = a + rng.integers(0, (b - a) // 86400 + 1, n) * 86400
        return pa.array(secs * _US, pa.timestamp("us"))
    return pa.array(rng.integers(a * _US, b * _US, n), pa.timestamp("us"))


def _choice(options, n: int, rng) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_table(n: int, n_cust: int, rng) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": _choice(("F", "O", "P"), n, rng),
        "o_totalprice": _money(1000.0, 500000.0, n, rng),
        "o_orderdate": _ts(datetime(1995, 1, 1), datetime(2001, 8, 1), n, rng, True),
        "o_orderpriority": _choice(PRIORITIES, n, rng),
    })


def _documents(n: int, rng) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words) - 1, rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(LANGS, n, rng),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(n: int, rng) -> pa.Table:
    dim, k = 64, 10
    centers = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> dict[str, int]:
    """Write `tables` at scale `sf`; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    rows = {}
    for name in tables:
        # one stream per table, so adding a table never shifts another
        rng = np.random.default_rng([seed, sum(map(ord, name))])
        if name == "region":
            t = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": pa.array(REGIONS)})
        elif name == "nation":
            t = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
        elif name == "customer":
            t = pa.table({
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
                "c_mktsegment": _choice(SEGMENTS, n_cust, rng),
            })
        elif name == "supplier":
            t = pa.table({
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": _money(-999.99, 9999.99, n_supp, rng),
            })
        elif name == "part":
            keys = np.arange(n_part, dtype=np.int64)
            names = np.char.add(np.char.add(np.asarray(ADJ)[rng.integers(0, 8, n_part)], " "),
                                np.asarray(NOUN)[rng.integers(0, 8, n_part)])
            t = pa.table({
                "p_partkey": pa.array(keys),
                "p_name": pa.array(names.tolist()),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _choice(TYPES, n_part, rng),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
            })
        elif name == "orders":
            t = orders_table(n_ord, n_cust, rng)
        elif name == "lineitem":
            t = pa.table({
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(900.0, 105000.0, n_line, rng),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _choice(("A", "N", "R"), n_line, rng),
                "l_linestatus": _choice(("F", "O"), n_line, rng),
                "l_shipdate": _ts(datetime(1995, 1, 2), datetime(2001, 11, 4), n_line, rng, True),
            })
        elif name == "events":
            ts = np.sort(rng.integers(datetime(2024, 1, 1).timestamp() * _US,
                                      datetime(2024, 1, 31).timestamp() * _US, n_ev))
            t = pa.table({
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev, dtype=np.int64)),
                "event_type": _choice(EVENT_TYPES, n_ev, rng),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            })
        elif name == "documents":
            t = _documents(max(int(50_000 * sf), 500), rng)
        elif name == "embeddings":
            t = _embeddings(max(int(20_000 * sf), 500), rng)
        else:
            raise KeyError(name)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
