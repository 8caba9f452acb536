"""Categorical encoding operators.

Parity: target_encode (preprocessing.py:321-336), combine_subtypes
(preprocessing.py:256-279), rare-category analysis / remap
(preprocessing.py:289-307, 526-537).

Scale design: encodings are K-row aggregates (K = category
cardinality) broadcast-joined back onto the fact table — the classic
dimension pattern, no second full shuffle of the data. Category
remaps are literal CASE chains (whole-stage codegen, no UDF, no
driver-side map lookups).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize


def target_encoding_map(df: DataFrame, categorical_col: str,
                        target_col: str) -> DataFrame:
    """K-row (category, mean-target) mapping — the persisted artifact
    the reference joblib-dumps (preprocessing.py:332-335); here it is
    just a DataFrame you can write/version as parquet."""
    return (
        df.groupBy(categorical_col)
        .agg(F.avg(target_col).alias(f"{categorical_col}_encoded"))
    )


def target_encode(df: DataFrame, categorical_cols: Iterable[str],
                  target_col: str, drop_original: bool = False) -> DataFrame:
    """Append ``<col>_encoded`` = mean(target) per category."""
    for c in categorical_cols:
        mapping = target_encoding_map(df, c, target_col)
        df = df.join(F.broadcast(mapping), on=c, how="left")
        if drop_original:
            df = df.drop(c)
    return df


def category_map_expr(col: Column, mapping: Mapping[str, str]) -> Column:
    """CASE-chain remap; unmapped values pass through (pandas
    .map().fillna(original) parity, preprocessing.py:529)."""
    expr = None
    for src, dst in mapping.items():
        cond = col == src
        expr = F.when(cond, dst) if expr is None else expr.when(cond, dst)
    return col if expr is None else expr.otherwise(col)


def combine_categories(df: DataFrame, column: str,
                       grouping: Mapping[str, Iterable[str]]) -> DataFrame:
    """Collapse original categories into groups
    (combine_subtypes parity): {'House': ['House', 'Town house']}."""
    flat = {orig: new for new, origs in grouping.items() for orig in origs}
    return df.withColumn(column, category_map_expr(F.col(column), flat))


def category_counts(df: DataFrame, column: str,
                    rare_threshold: float = 0.05) -> DataFrame:
    """(value, count, pct, is_rare) — analyze_categorical_data parity
    (preprocessing.py:289-307). Total row count comes from a 1-row
    agg broadcast back, not a driver round-trip."""
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            column,
            "cnt",
            quantize(F.col("cnt") / F.col("__total"), 1000000).alias("pct"),
            (F.col("cnt") / F.col("__total") < rare_threshold).alias("is_rare"),
        )
    )
