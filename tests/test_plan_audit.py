"""Repo-wide physical-plan audit: every queries() entry must be free
of the two patterns that do not survive 100 TB —

- CartesianProduct: an unbounded all-pairs join. Bounded pair studies
  in this repo go through slice filters + band/cell bucketing, which
  plan as hash/sort-merge joins; broadcast one-row stats frames plan
  as BroadcastNestedLoopJoin (bounded by the broadcast threshold) and
  are allowed.
- BatchEvalPython: a row-at-a-time Python UDF in the plan. Python is
  allowed only through Arrow-batched operators (ArrowEvalPython,
  MapInPandas, FlatMapGroupsInPandas, FlatMapGroupsInPandasWithState).

The audit builds the executed plan for ALL queries at sf0.001 without
running them, so it is cheap and catches regressions the per-operator
tests can't see (e.g. a join rewrite that silently degrades to a
cartesian after a column rename).
"""

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from debezium_spark.operators.relational import distinct_counts_q
from tools.check_oracle import plan_digest

_BANNED = ("CartesianProduct", "BatchEvalPython")

# Queries whose plan contains an unpartitioned Window over a
# PROVABLY BOUNDED input (a preceding global limit / tiny literal
# frame). Keep this list short and justified — everything else must
# partition its windows or rank via sort_array+posexplode.
_GLOBAL_WINDOW_ALLOWED: dict[str, str] = {}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window physical nodes with an empty partition spec. WindowExec
    prints `Window [exprs], [partSpec], [orderSpec]` when fully
    specified, `Window [exprs], [partSpec]` for partition-only
    windows, and `Window [exprs], [orderSpec]` for the global ones
    this audit bans. Collect the depth-0 bracket groups (expressions
    nest brackets; a depth counter keeps the grouping honest); with
    fewer than 3 groups the node is global iff the trailing group is
    an order spec (contains ASC/DESC) or absent entirely."""
    hits = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-*: ").strip()
        if not s.startswith("Window "):
            continue
        depth = 0
        groups: list[str] = []
        for ch in s[len("Window "):]:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            if depth > 0:
                groups[-1] += ch
        is_global = len(groups) < 2 or (
            len(groups) == 2
            and (" ASC" in groups[-1] or " DESC" in groups[-1])
        )
        if is_global:
            hits.append(s[:100])
    return hits


def _session_leftovers(spark) -> tuple[set[str], int]:
    return {t.name for t in spark.catalog.listTables()}, len(spark.streams.active)


def test_no_scale_killers_in_any_plan(spark, sf_dir):
    """Also: no entry may leave a temp view or an active stream behind
    (building a plan runs the streaming entries to completion)."""
    offenders, leaks = {}, {}
    for name, fn in entrymod.queries().items():
        views, streams = _session_leftovers(spark)
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        views_after, streams_after = _session_leftovers(spark)
        if views_after - views or streams_after > streams:
            leaks[name] = (sorted(views_after - views), streams_after - streams)
        hits = [b for b in _BANNED if b in plan]
        if name not in _GLOBAL_WINDOW_ALLOWED:
            hits += [f"global-window: {w}" for w in _unpartitioned_windows(plan)]
        if hits:
            offenders[name] = hits
        spark.catalog.clearCache()  # builders may cache intermediates
    assert not offenders, f"scale-killer plan nodes: {offenders}"
    assert not leaks, f"left (new temp views, active streams): {leaks}"


def test_plan_digest_ignores_expression_id_order(spark, sf_dir):
    """`distinct_counts`' two countDistincts plan through an `Expand`
    whose group order follows the hash of JVM-global expression ids;
    the gate's plan digest must not move with how many expressions
    were allocated before the frame was built."""
    digests = set()
    for k in range(8):
        for _ in range(k):
            F.lit(0).alias("pad")
        digests.add(plan_digest(distinct_counts_q(spark, sf_dir)))
    assert len(digests) == 1, digests
