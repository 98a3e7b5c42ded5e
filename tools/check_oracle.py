"""Local emulation of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB at the given sf dir, then compares row count, column names, an
order-insensitive value hash (columns sorted by name, rows sorted),
AND the Arrow dtypes of both results. The dtype check exists because
the real driver hashes *typed* values: DuckDB `sum(<int>)` returns
HUGEINT (Arrow decimal128(38,0)) while Spark returns int64, which a
stringified comparison cannot see — exactly the round-3 failure mode
(CORRECTNESS_r03: 5 hash_match:false, all integer-sum columns).
Floats are compared through repr of round(9) to surface any
representation drift *before* the real gate does.

Just before the final `N ok, M fail` line it prints one JSON line,
`{name: {"ok", "rows", "plan", "oracle", "result", "persisted"}}`, that
two runs can diff:
`plan` is the first 16 hex digits of the sha256 of the optimized
logical plan with its run-specific ids, lambda variable suffixes and
temp paths blanked, and with each line that carries the group order of
a distinct-aggregate `Expand` (which follows the hash of JVM-global
expression ids) reduced to its sorted tokens; `oracle` is the same
digest of the entry's oracle SQL text; `result` is the same digest of
what that SQL returned: its Arrow schema and its canonical rows (the
sorted, normalized cells the value comparison uses). So a rewrite of
an oracle's text shows as a changed `oracle` beside an unchanged
`result`. `persisted` is the number of RDDs still persisted once the
entry's rows are collected, read before the next entry's
`clearCache()`, so a cache an entry leaks shows in the record instead
of being wiped unseen.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import sys
import time

# Check the checkout this file lives in.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from debezium_spark.session import get_spark  # noqa: E402
from debezium_spark.sources.tables import TABLES  # noqa: E402


def norm_arrow_type(t: pa.DataType) -> str:
    """Canonical label for an Arrow type, so engine-idiosyncratic but
    value-identical encodings (string vs large_string, list vs
    large_list) compare equal while genuine width/kind drift (int32 vs
    int64, int64 vs decimal128) does not."""
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_large_list(t) or pa.types.is_list(t):
        return f"list<{norm_arrow_type(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"  # unit/tz don't change the hashed value
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{norm_arrow_type(t.field(i).type)}"
            for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return str(t)


def dtype_mismatches(s_schema: pa.Schema, o_schema: pa.Schema) -> list[str]:
    s_map = {f.name: norm_arrow_type(f.type) for f in s_schema}
    o_map = {f.name: norm_arrow_type(f.type) for f in o_schema}
    out = []
    for name in sorted(set(s_map) & set(o_map)):
        if s_map[name] != o_map[name]:
            out.append(f"{name}: spark={s_map[name]} duck={o_map[name]}")
    return out


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


_PLAN_NOISE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xy])_\d+"), r"\1_"),
    (re.compile(r"/tmp/[^\s,\]\)]+"), "/tmp/X"),
)


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _expand_order_free(line: str) -> str:
    """RewriteDistinctAggregates numbers its distinct groups in the
    hash order of their expression ids, so the `Expand` projections
    and the `gid#`-filtered aggregates that read them come out permuted
    from run to run; such a line is kept as its sorted token multiset."""
    if "Expand [" in line or "gid#" in line:
        return " ".join(sorted(line.split()))
    return line


def plan_digest(sdf) -> str:
    """Run-independent digest of a frame's optimized logical plan."""
    plan = sdf._jdf.queryExecution().optimizedPlan().toString()
    for pat, repl in _PLAN_NOISE:
        plan = pat.sub(repl, plan)
    return _digest("\n".join(map(_expand_order_free, plan.split("\n"))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    record = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        record[name] = {
            "ok": False, "rows": None, "plan": None, "oracle": None,
            "result": None, "persisted": None,
        }
        if name not in oracles:
            print(f"FAIL  {name}: no oracle")
            n_fail += 1
            continue
        record[name]["oracle"] = _digest(oracles[name])
        spark.catalog.clearCache()  # builders may cache intermediates
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            record[name].update(
                rows=len(srows), plan=plan_digest(sdf),
                persisted=spark.sparkContext._jsc.getPersistentRDDs().size(),
            )
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            otbl = con.execute(oracles[name]).arrow()
            ocols = otbl.column_names
            orows = [
                tuple(otbl.column(c)[i].as_py() for c in ocols)
                for i in range(otbl.num_rows)
            ]
            oc = canon(orows, ocols)
            record[name]["result"] = _digest(json.dumps(
                [[f"{f.name}:{f.type}" for f in otbl.schema], oc]
            ))
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        try:
            stbl = sdf.limit(0).toArrow()
            problems.extend(
                "dtype " + m for m in dtype_mismatches(stbl.schema, otbl.schema)
            )
        except Exception as e:  # toArrow can fail on exotic types; degrade
            print(f"      {name}: arrow schema check skipped: {e}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            sc = canon(srows, scols)
            if sc != oc:
                diffs = [
                    (a, b) for a, b in zip(sc, oc) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"OK    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            record[name]["ok"] = True
            n_pass += 1
    print(json.dumps(record, sort_keys=True))
    print(f"\n{n_pass} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
