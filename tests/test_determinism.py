"""Regression guards for cross-engine numeric determinism
(functions/num.py): money aggregates must not depend on partitioning
or accumulation order, and half-tie values must round identically to
the oracle-SQL builders."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N


def test_sum_money_partition_order_independent(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    results = {
        li.agg(N.sum_money(expr, 2).alias("s")).first().s,
        li.repartition(17).agg(N.sum_money(expr, 2).alias("s")).first().s,
        li.repartition(3, "l_suppkey").agg(N.sum_money(expr, 2).alias("s")).first().s,
        li.coalesce(1).agg(N.sum_money(expr, 2).alias("s")).first().s,
    }
    assert len(results) == 1, f"order-dependent sum: {results}"


def test_half_tie_rounds_identically_to_oracle(spark):
    """Values summing to an exact half-cent (the live 231832.885 bug
    class) must round the same way in Spark and DuckDB."""
    vals = [100.115, 0.005, 1.885, -0.005]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(N.sum_money(F.col("x"), 2).alias("s")).first().s
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    oracle = con.execute(
        f"SELECT {N.sql_sum_money('x', 2)} FROM t").fetchone()[0]
    assert got == oracle
    # true decimal total is 102.000 → both must say exactly 102.0
    assert got == 102.0


def test_fuzzed_money_sums_match_oracle(spark):
    """Property fuzz: random lists of few-decimal money values (the
    tie-prone class) must sum-and-round identically in Spark and
    DuckDB, across random repartitionings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cents = st.integers(-10_000_000, 10_000_000).map(lambda c: c / 1000.0)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(cents, min_size=1, max_size=300),
           st.integers(1, 7))
    def prop(vals, nparts):
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = (df.repartition(nparts)
               .agg(N.sum_money(F.col("x"), 2).alias("s")).first().s)
        con = duckdb.connect()
        con.execute("CREATE TABLE t(x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        oracle = con.execute(
            f"SELECT {N.sql_sum_money('x', 2)} FROM t").fetchone()[0]
        assert got == oracle, (vals[:5], got, oracle)

    prop()


def test_avg_money_matches_oracle_on_ties(spark):
    vals = [0.01, 0.02]  # avg = 0.015, a half-tie at 2dp
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(N.avg_money(F.col("x"), 2).alias("a")).first().a
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    oracle = con.execute(
        f"SELECT {N.sql_avg_money('x', 2)} FROM t").fetchone()[0]
    assert got == oracle == 0.02  # half-up


@pytest.mark.parametrize("scale", [100, 1000, 10000, 1000000])
def test_quantize_matches_sql_quantize(spark, scale):
    """quantize (Spark) and sql_quantize (DuckDB) are one rule: both
    give Python's floor(x·s + 0.5)/s on exact half-ties, negative
    ties, magnitudes near 1e12 and NULL."""
    tie = 1 / (2 * (scale & -scale))  # tie·scale is exactly k + 0.5
    vals = [tie, 3 * tie, -tie, -3 * tie, 0.0,
            1e12 + tie, -(1e12 + tie), 999999999999.995, None]
    want = [None if v is None else math.floor(v * scale + 0.5) / scale
            for v in vals]
    rows = list(enumerate(vals))
    df = spark.createDataFrame(rows, "i int, x double")
    got = [r.q for r in df.orderBy("i")
           .select(N.quantize(F.col("x"), scale).alias("q")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = [r[0] for r in con.execute(
        f"SELECT {N.sql_quantize('x', scale)} FROM t ORDER BY i").fetchall()]
    assert got == oracle == want
