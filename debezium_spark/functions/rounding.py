"""The one rounding rule that keeps Spark and the DuckDB oracles equal.

Spark rounds the binary double HALF_UP exactly, while DuckDB rounds
its decimal representation, so a decimal tie such as 1.005 (stored as
1.00499999...) rounds down in one engine and up in the other. Adding
1e-9 before rounding, in BOTH engines, moves every tie off that
boundary. Sums of money and other fractional amounts go through
integer units (cents, micro-units) so that the order in which a
shuffle adds them cannot change the last bit of the result.

The oracle SQL spells the same rule out as `round(x + 1e-9, d)` and
`CAST(round(x * 10^scale + 1e-9) AS BIGINT)`.
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
