"""The one rounding rule that keeps Spark and the DuckDB oracles equal.

Spark rounds the binary double HALF_UP exactly, while DuckDB rounds
its decimal representation, so a decimal tie such as 1.005 (stored as
1.00499999...) rounds down in one engine and up in the other. Adding
1e-9 before rounding, in BOTH engines, moves every tie off that
boundary. Sums of money and other fractional amounts go through
integer units (cents, micro-units) so that the order in which a
shuffle adds them cannot change the last bit of the result.

This module owns both twins of the rule: each Spark helper has a
DuckDB string builder beside it (`sql_round_half_up`, `sql_to_units`)
that every oracle calls, so the nudge is written nowhere else.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NUDGE = 1e-9


def round_half_up(col: Column, digits: int) -> Column:
    """`col` rounded HALF_UP to `digits` places, ties nudged up."""
    return F.round(col + _NUDGE, digits)


def to_units(col: Column, scale: int) -> Column:
    """`col` as a BIGINT count of 10**-scale units (scale 2: cents)."""
    return F.round(col * 10**scale + _NUDGE).cast("long")


def sql_round_half_up(expr: str, digits: int) -> str:
    """DuckDB twin of `round_half_up` over the SQL expression `expr`."""
    return f"round({expr} + {_NUDGE!r}, {digits})"


def sql_to_units(expr: str, scale: int) -> str:
    """DuckDB twin of `to_units` over the SQL expression `expr`."""
    return f"CAST(round(({expr}) * {10**scale} + {_NUDGE!r}) AS BIGINT)"
