"""Reusable relational building blocks (SURVEY.md §7 M3).

These fill the operator categories the reference lacks entirely
(SURVEY.md §2.3: joins, sorts/limits/top-k, windows, grouping sets, set
ops, scalar functions) with built-in Catalyst operators only — no UDFs.

Float discipline: money aggregates go through decimal so results are
exact and order-independent — a distributed sum of doubles is not
deterministic across partitionings, which matters both for oracle
comparison and for reproducibility at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def decimal_sum(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Exact, order-independent sum: cast each value to decimal first.
    (Row-level double->decimal conversion is deterministic; decimal
    addition is exact, so the shuffle/partitioning cannot change the
    result — unlike sum(double).)"""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(18,{scale})"))
    return out.alias(alias) if alias else out


def money_out(col: Column | str, alias: str | None = None) -> Column:
    """Final-output form of an exact decimal money column: one cast to
    double. Registry results must never surface DecimalType — Spark
    toPandas() yields decimal.Decimal objects ('506627.00') while DuckDB
    .df() yields float64 ('506627.0'), so any stringifying
    canonicalization diverges exactly when the fraction has trailing
    zeros. Both engines' decimal->double casts are correctly rounded
    (probed bit-level vs Python float(Decimal)), so casting the SAME
    exact decimal on both sides is bit-identical. Keep decimal math
    internal; cast only at the final projection."""
    c = F.col(col) if isinstance(col, str) else col
    out = c.cast("double")
    name = alias if alias is not None else (col if isinstance(col, str) else None)
    return out.alias(name) if name else out


def micro_ratio(num: Column, den: Column) -> Column:
    """floor(num / den * 10^6) / 10^6 in EXACT arithmetic — the
    midpoint-proof replacement for round(num/den, 6) on integer inputs
    (the tpch_q2 rounding-midpoint class, NOTES.md pitfalls: round() of a
    double that is an exact integer ratio can land on a 1e-6 midpoint
    where Spark HALF_UP and DuckDB FP-scaled rounding disagree).

    Pure Column ops, usable inside a single select/agg: `a div b` via
    F.expr needs named columns, and Spark's `div` operator silently WRAPS
    when the quotient exceeds int64 (probed) — so the quotient is taken
    in decimal with the remainder subtracted first, which makes the
    decimal division land on an exact integral value. Exact whenever
    num < 10^31 and the micro-quotient < 2^53 (ratio < ~9e9 — every
    ratio/average this repo emits). Requires num, den >= 0 (floor ==
    truncation). For SIGNED numerators the remainder-subtract form (like
    Spark % and DuckDB //) truncates TOWARD ZERO, not floor — consistent
    across both engines but not the documented floor; no current call
    site passes signed data. den = 0 -> NULL on both engines.

    Oracle twin (DuckDB):  CAST(num * 1000000 // den AS DOUBLE) / 1000000
    (use CAST(... AS HUGEINT) around the product when it can pass 1e18).
    The cross-engine bit-equality is ALSO scoped to micro-quotient < 2^53:
    above it the cast must round, and DuckDB's HUGEINT->DOUBLE cast is not
    correctly rounded (truncates low bits), so the engines can differ in
    the last place (probed: 999999999999995/33).
    """
    m = num.cast("decimal(31,0)") * F.lit(1_000_000).cast("decimal(7,0)")
    d = F.nullif(den.cast("decimal(20,0)"), F.lit(0).cast("decimal(20,0)"))
    q = (m - (m % d)) / d  # exact: numerator is an exact multiple of d
    return q.cast("double") / F.lit(1_000_000.0)


def deterministic_avg(col: Column | str, scale: int = 4, alias: str | None = None) -> Column:
    """Average as exact-decimal-sum / count in integer micro-units
    (floor at 1e-6, ONE IEEE division at output) — order-independent AND
    midpoint-proof: the old round(sum_double/count, 6) form was exact up
    to the rounding call, but sum/count is a pure integer ratio after the
    decimal cast, which can land exactly on a 1e-6 midpoint where Spark
    and DuckDB round apart (tpch_q2 class, NOTES.md pitfalls)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(f"decimal(18,{scale})"))
    # value * 10^6 is integral (scale <= 6); keep the declared scale — the
    # fraction digits are zero — and subtract the remainder so the decimal
    # division is exact.
    micro = s.cast(f"decimal(30,{scale})") * F.lit(1_000_000).cast("decimal(7,0)")
    d = F.nullif(F.count(c).cast("decimal(20,0)"), F.lit(0).cast("decimal(20,0)"))
    q = (micro - (micro % d)) / d
    out = q.cast("double") / F.lit(1_000_000.0)
    return out.alias(alias) if alias else out


def top_k_per_group(df: DataFrame, keys: list[str], order: list[Column], k: int) -> DataFrame:
    """Top-k per group via row_number (as column `rk`) — one shuffle on the
    group keys.
    Callers must make `order` a total order (append a unique tiebreaker)
    or results are nondeterministic. At scale this beats a global sort:
    partial top-k runs map-side inside the window's sort, and only group
    partitions shuffle."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def running_sum(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    value: Column,
) -> DataFrame:
    """Cumulative sum as column `cum_spend`, with an explicit rows-frame
    (deterministic given a total order)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("cum_spend", F.sum(value).over(w))
