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

Every rounding is ``half_up`` (Spark) or ``sql_half_up`` (oracle
SQL), floor(y + 0.5), so the two sides can never drift.

Sign patterns (SimHash bands, hyperplane-LSH buckets) pack into an
int through ``pack_sign_bits`` and its twin ``sql_pack_sign_bits``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1_000_000  # millionths: covers 2/4/6-decimal money products


def half_up(y: Column) -> Column:
    """y rounded half-up to an integer: floor(y + 0.5)."""
    return F.floor(y + 0.5)


def exact_units(expr: Column) -> Column:
    """Per-row exact integer millionths of a ≤6-decimal value."""
    return half_up(expr * SCALE).cast("long")


def quantize(x: Column, scale: int) -> Column:
    """x rounded half-up to multiples of 1/scale. Every score and
    distance is quantized before it is compared or ranked, so the low
    floating-point bits on which engines may differ never decide a
    result; ``sql_quantize`` is the oracle's twin."""
    return half_up(x * scale) / scale


def sum_money(expr: Column, out_dp: int = 2) -> Column:
    """Order-independent SUM rounded to out_dp decimals."""
    return quantize(F.sum(exact_units(expr)) / SCALE, 10 ** out_dp)


def avg_money(expr: Column, out_dp: int = 4) -> Column:
    """Order-independent AVG rounded to out_dp decimals."""
    return quantize(F.sum(exact_units(expr)) / (SCALE * F.count(expr)), 10 ** out_dp)


def pack_sign_bits(arr: Column) -> Column:
    """An int whose bit j is set where element j of ``arr`` is > 0
    (at most 31 elements): one fold over the reversed array, doubling
    the running value at each step. A NULL element sets no bit and a
    NULL array gives 0, as the CASE arms of ``sql_pack_sign_bits`` do."""
    return F.coalesce(
        F.aggregate(F.reverse(arr), F.lit(0),
                    lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0)),
        F.lit(0))


# ---- oracle-SQL text builders (identical semantics) ----

def sql_half_up(y: str) -> str:
    return f"floor({y} + 0.5)"


def sql_exact_units(expr: str) -> str:
    return f"CAST({sql_half_up(f'({expr}) * {SCALE}')} AS BIGINT)"


def sql_quantize(x: str, scale: int) -> str:
    return f"({sql_half_up(f'({x}) * {scale}')} / {scale})"


def sql_sum_money(expr: str, out_dp: int = 2) -> str:
    # e-notation literals: a "1000000.0" literal is DECIMAL in Spark
    # SQL (propagating decimal types into the result) but DOUBLE in
    # DuckDB — 1e6 is DOUBLE in both.
    return sql_quantize(f"sum({sql_exact_units(expr)}) / {SCALE}e0", 10 ** out_dp)


def sql_avg_money(expr: str, out_dp: int = 4) -> str:
    total = f"sum({sql_exact_units(expr)})"
    return sql_quantize(f"{total} / ({SCALE}e0 * count({expr}))", 10 ** out_dp)


def sql_pack_sign_bits(terms: list[str]) -> str:
    """Bit j set where the SQL term ``terms[j]`` is > 0."""
    return " + ".join(f"(CASE WHEN {t} > 0 THEN {1 << j} ELSE 0 END)"
                      for j, t in enumerate(terms))
