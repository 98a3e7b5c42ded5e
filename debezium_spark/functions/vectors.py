"""Vector column math.

History (PLANS.md): round 3 unrolled the dot product into a flat sum
of element_at products on the theory that whole-stage codegen beats
interpreted higher-order functions. Head-to-head at dim=64 and 128k
pairs this round measured the OPPOSITE: the unrolled form generates a
~1000-expression-node method that HotSpot never JITs (zero Janino
recompiles on repeat runs, yet 2.6s vs 0.68s for the HOF
aggregate/zip_with form — ~4× slower). The HOF lambda is interpreted
per-row but the work per row is a tight 64-step fold; the giant
generated method is interpreted bytecode of ~10× the size. So `dot`
is the HOF left fold. Summation order is identical to the previous
unrolled form (0.0 + x == x in IEEE for the first term), so the
DuckDB oracles (ordered list_reduce) still agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def infer_dim(df: DataFrame) -> int:
    """`embedding` width from the first row (driver-side metadata probe)."""
    row = df.select(F.size(F.col("embedding")).alias("d")).head()
    if row is None:
        return 0
    return int(row["d"])


def as_double(a: Column) -> Column:
    """Cast a float vector to array<double> ONCE. Per-element
    `cast(element_at(...) as double)` doubles the expression-tree size
    and measured 2.2× slower on the 16-seed assignment stage (codegen
    compile + eval cost scale with node count); a single array-level
    cast yields bit-identical doubles (float→double widening is
    exact)."""
    return a.cast("array<double>")


def dot(a: Column, b: Column, dim: int) -> Column:
    """Σ a[i]·b[i] as a left fold over zip_with — see module docstring
    for why this beats the unrolled codegen form at dim≥64. Both
    inputs must already be array<double> (see as_double) so products
    run in double precision. `dim` is kept in the signature for call
    sites that also unroll (and for a future fixed-width fast path)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int) -> Column:
    return F.sqrt(dot(a, a, dim))
