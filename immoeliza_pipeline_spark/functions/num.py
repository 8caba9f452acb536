"""Cross-engine-deterministic numeric aggregation.

Problem: double SUM results depend on accumulation order, so Spark
and a second engine (the DuckDB oracle, a future backend) can land
on opposite sides of a rounding boundary — and money amounts built
from 2-decimal inputs sit EXACTLY on half-cent boundaries often
(found live: a profit sum of exactly 231832.885 rounded to .89 on
one engine and .88 on the other).

Fix: per-row, recover the exact decimal value as an integer number
of millionths (floor(x*1e6 + 0.5) on bit-identical doubles — exact
as long as the row value has ≤6 decimals and |x| < 2.5e9), cast to
long, and SUM INTEGERS. The integer total is identical on every
engine regardless of order; all downstream scalar math (divide,
round) then operates on identical inputs and stays deterministic.

Derived scores and distances (ratios, Jaccard, cosine, km) go
through ``quantize``, the one half-up rounding rule both engines
apply before a value is compared, ranked or returned.

The matching oracle-SQL text builders live here too so the two
sides can never drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1_000_000  # millionths: covers 2/4/6-decimal money products


def exact_units(expr: Column) -> Column:
    """Per-row exact integer millionths of a ≤6-decimal value."""
    return F.floor(expr * SCALE + 0.5).cast("long")


def sum_money(expr: Column, out_dp: int = 2) -> Column:
    """Order-independent SUM rounded to out_dp decimals."""
    so = 10 ** out_dp
    return F.floor(F.sum(exact_units(expr)) / SCALE * so + 0.5) / so


def avg_money(expr: Column, out_dp: int = 4) -> Column:
    """Order-independent AVG rounded to out_dp decimals."""
    so = 10 ** out_dp
    return (F.floor(F.sum(exact_units(expr))
                    / (SCALE * F.count(expr)) * so + 0.5) / so)


def quantize(x: Column, scale: int) -> Column:
    """x rounded half-up to multiples of 1/scale. Every score and
    distance is quantized before it is compared or ranked, so the low
    floating-point bits on which engines may differ never decide a
    result; the DuckDB oracle applies the same floor(x·s + 0.5)/s."""
    return F.floor(x * scale + 0.5) / scale


# ---- oracle-SQL text builders (identical semantics) ----

def sql_exact_units(expr: str) -> str:
    return f"CAST(floor(({expr}) * {SCALE} + 0.5) AS BIGINT)"


def sql_sum_money(expr: str, out_dp: int = 2) -> str:
    # e-notation literals: a "1000000.0" literal is DECIMAL in
    # Spark SQL (propagating decimal types into the result) but
    # DOUBLE in DuckDB — 1e6 is DOUBLE in both.
    so = 10 ** out_dp
    return (f"(floor(sum({sql_exact_units(expr)}) / {SCALE}e0 * {so} + 0.5)"
            f" / {so}e0)")


def sql_avg_money(expr: str, out_dp: int = 4) -> str:
    so = 10 ** out_dp
    return (f"(floor(sum({sql_exact_units(expr)})"
            f" / ({SCALE}e0 * count({expr})) * {so} + 0.5) / {so}e0)")
