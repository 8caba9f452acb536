"""Row/column cleaning operators.

Parity with `/root/reference/Preprocessing/preprocessing.py` —
drop_column (27-32), drop_rows_based_on_conditions (34-44),
replace_nan_with_false (46-51), edit_text_columns (53-69),
drop_invalid_values_by_column (71-73), drop_rows_all_missing_columns
(75-77), clean_missing_data (79-85), convert_columns (87-104) — but
expressed as narrow DataFrame transformations so they fuse into one
Catalyst plan (whole-stage codegen, pushdown) instead of N pandas
passes over the data.

All operators are lazy except ``drop_high_null_columns`` /
``null_fraction_profile`` which need one tiny aggregate (K doubles on
the driver, independent of row count — safe at 100 TB).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize
from immoeliza_pipeline_spark.functions.text import WS


def drop_columns(df: DataFrame, *cols: str) -> DataFrame:
    """Drop columns if present (missing names are ignored, like the
    reference's guard)."""
    present = [c for c in cols if c in df.columns]
    return df.drop(*present) if present else df


def drop_rows_based_on_conditions(df: DataFrame,
                                  true_col: str | None = None,
                                  false_col: str | None = None,
                                  not_na_col: str | None = None,
                                  na_col: str | None = None) -> DataFrame:
    """Keep rows failing the listed conditions (reference semantics:
    `df[true_col] != True`, `df[not_na_col].isna()`,
    `df[na_col].notna()`)."""
    if true_col:
        df = df.filter(~F.coalesce(F.col(true_col).cast("boolean"), F.lit(False)))
    if false_col:
        df = df.filter(F.coalesce(F.col(false_col).cast("boolean"), F.lit(True)))
    if not_na_col:
        df = df.filter(F.col(not_na_col).isNull())
    if na_col:
        df = df.filter(F.col(na_col).isNotNull())
    return df


def replace_null_with_false(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """NaN→False booleans (preprocessing.py:46-51)."""
    for c in columns:
        if c in df.columns:
            df = df.withColumn(c, F.coalesce(F.col(c).cast("boolean"), F.lit(False)))
    return df


def capitalize_words(col: Column) -> Column:
    """Title-case every SPACE-separated word.

    Built from split/transform/array_join so the EXACT same per-word
    logic is expressible in the DuckDB oracle (no reliance on
    initcap's locale behavior). Stays JVM-side — no UDF.

    Documented deviation from Python str.title(): word boundaries are
    single spaces only, so 'sint-niklaas' → 'Sint-niklaas' (str.title
    capitalizes after any non-letter → 'Sint-Niklaas'). Chosen so the
    rule is identical and cheap in both engines; callers joining
    against externally-cased names should normalize with lower()."""
    return F.array_join(
        F.transform(
            F.split(col, " "),
            lambda w: F.concat(F.upper(w.substr(F.lit(1), F.lit(1))),
                               F.lower(w.substr(F.lit(2), F.length(w)))),
        ),
        " ",
    )


def capitalize_sentence(col: Column) -> Column:
    """str.capitalize parity: first char upper, rest lower."""
    return F.concat(F.upper(col.substr(F.lit(1), F.lit(1))),
                    F.lower(col.substr(F.lit(2), F.length(col))))


ZIP_BLOCK = WS + r"*\(\d+\)"  # a " (1234)" block, removed everywhere


def strip_parenthesized_zip(col: Column) -> Column:
    """Remove every ZIP_BLOCK (preprocessing.py:67)."""
    return F.regexp_replace(col, ZIP_BLOCK, "")


def edit_text_columns(df: DataFrame,
                      sentence_cols: Iterable[str] = (),
                      title_cols: Iterable[str] = (),
                      strip_zip_cols: Iterable[str] = ()) -> DataFrame:
    """Composite text cleaner (preprocessing.py:53-69)."""
    for c in sentence_cols:
        if c in df.columns:
            df = df.withColumn(c, capitalize_sentence(F.regexp_replace(F.col(c), "_", " ")))
    for c in title_cols:
        if c in df.columns:
            df = df.withColumn(c, capitalize_words(F.col(c)))
    for c in strip_zip_cols:
        if c in df.columns:
            df = df.withColumn(c, strip_parenthesized_zip(F.col(c)))
    return df


def filter_valid_length(df: DataFrame, column: str, length: int = 4) -> DataFrame:
    """Keep rows whose column value has exactly ``length`` chars
    (preprocessing.py:71-73). Pure filter → pushdown-eligible."""
    return df.filter(F.length(F.col(column).cast("string")) == length)


def drop_rows_all_missing(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """Drop rows where ALL listed columns are null (dropna how='all',
    preprocessing.py:75-77)."""
    cond = None
    for c in columns:
        piece = F.col(c).isNotNull()
        cond = piece if cond is None else (cond | piece)
    return df.filter(cond) if cond is not None else df


def null_fraction_profile(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """(column_name, null_frac) for each column — the measurement
    behind clean_missing_data (preprocessing.py:79-85).

    One aggregate over the data computing all fractions at once
    (single pass, map-side partials), then unpivoted via stack — the
    result is K rows regardless of input size.
    """
    columns = list(columns or df.columns)
    aggs = [F.avg(F.col(c).isNull().cast("double")).alias(c) for c in columns]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', `{c}`" for c in columns)
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_expr}) as (column_name, null_frac)"
    ).select("column_name", quantize(F.col("null_frac"), 10000).alias("null_frac"))


def drop_high_null_columns(df: DataFrame, threshold: float = 0.3,
                           exclude: Iterable[str] = ()) -> DataFrame:
    """Drop columns whose null fraction exceeds ``threshold``
    (clean_missing_data, preprocessing.py:79-85). The profile agg is
    K doubles — collectible at any scale."""
    exclude = set(exclude)
    profile = {r["column_name"]: r["null_frac"] for r in null_fraction_profile(df).collect()}
    to_drop = [c for c, frac in profile.items()
               if frac is not None and frac > threshold and c not in exclude]
    return df.drop(*to_drop) if to_drop else df


def convert_columns(df: DataFrame,
                    bool_to_int: Iterable[str] = (),
                    to_string: Iterable[str] = (),
                    casts: Mapping[str, str] | None = None) -> DataFrame:
    """Type normalization (preprocessing.py:87-104): booleans→int,
    chosen columns→string, plus arbitrary casts."""
    for c in bool_to_int:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("boolean").cast("int"))
    for c in to_string:
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("string"))
    for c, t in (casts or {}).items():
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast(t))
    return df
