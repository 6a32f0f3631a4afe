"""Column-expression helpers shared across the engine.

Includes *oracle-deterministic* aggregate builders: money sums are computed
over ``DECIMAL(18,2)`` (exact arithmetic, independent of partition /
addition order) and only converted to ``double`` at the end, so the same
query produces bit-identical values in Spark and in a single-threaded SQL
oracle. A plain ``SUM(double)`` over millions of rows differs between
engines in the last ulps because floating-point addition is not
associative — at 100 TB that is also the difference between a
deterministic pipeline and one whose checksums drift run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Deterministic aggregates (money / double columns)
# ---------------------------------------------------------------------------


def money_sum(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """Exact SUM of a fixed-scale numeric column, returned as double.

    ``CAST(SUM(CAST(x AS DECIMAL(27,scale))) AS DOUBLE)`` — decimal
    aggregation is exact, so the result does not depend on partitioning or
    addition order (a plain double SUM differs run-to-run in the last
    ulps). ``scale`` must cover the true decimal precision of the values
    (2 for money, 4 for money×rate products) so the cast itself is exact.
    Oracle-SQL twin: the identical expression.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(27,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def money_avg(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """Deterministic AVG: exact decimal sum cast to double, divided by the
    count as doubles — every step is an identical IEEE-754 op in any
    engine, so the result is bit-reproducible (left unrounded on purpose:
    rounding near half-boundaries is where engines disagree)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def det_stddev(col: str | Column, alias: str | None = None, scale: int = 2) -> Column:
    """Deterministic sample stddev via exact decimal sums.

    ``sqrt(max(0, (n·Σx² − (Σx)²) / (n(n−1))))`` with Σx and Σx² aggregated
    as decimals (order-independent) and the final arithmetic in doubles
    (bit-identical across engines). ``max(0, ·)`` guards the tiny negative
    residue cancellation can leave; ``n≤1`` yields NULL like
    ``stddev_samp``.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(f"decimal(27,{scale})")).cast("double")
    # Square in decimal space: casting x*x (a double) to a decimal would
    # be ambiguous once the double's ulp approaches the decimal grid.
    dec = c.cast(f"decimal(18,{scale})")
    sxx = F.sum(dec * dec).cast("double")
    var = (n * sxx - sx * sx) / (n * (n - F.lit(1.0)))
    out = F.when(F.count(c) > 1, F.sqrt(F.greatest(var, F.lit(0.0))))
    return out.alias(alias) if alias else out


def sum_long(col: str | Column | Column, alias: str | None = None) -> Column:
    """SUM of an integral column as BIGINT (DuckDB sums to HUGEINT; the
    oracle twin is ``CAST(SUM(x) AS BIGINT)``)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c).cast("long")
    return out.alias(alias) if alias else out


def pct_of(part: Column, whole: Column) -> Column:
    """Percentage share, null-safe on zero denominators, unrounded
    (deterministic: one division + one multiply on identical doubles)."""
    return F.when(whole != 0, part / whole * 100.0)


# ---------------------------------------------------------------------------
# Cleaning / standardization primitives (SURVEY.md §2.8)
# ---------------------------------------------------------------------------


def std_string(col: str | Column, case: str = "upper") -> Column:
    """``upper|lower(trim(x))`` standardization."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    return F.upper(c) if case == "upper" else F.lower(c)


def bucketize(col: str | Column, edges: list[float], labels: list[str]) -> Column:
    """Threshold when-chain bucketing: ``len(labels) == len(edges) + 1``.

    value < edges[0] -> labels[0]; ... ; value >= edges[-1] -> labels[-1].
    Nulls stay null. Compiles to a single JVM-side CASE WHEN (codegen'd).
    """
    if len(labels) != len(edges) + 1:
        raise ValueError("need len(labels) == len(edges) + 1")
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c < edges[0], labels[0])
    for lo_idx in range(1, len(edges)):
        expr = expr.when(c < edges[lo_idx], labels[lo_idx])
    return expr.when(c.isNotNull(), labels[-1])


def flag(cond: Column) -> Column:
    """Boolean data-quality indicator column (null-safe: null -> False)."""
    return F.when(cond, F.lit(True)).otherwise(F.lit(False))
