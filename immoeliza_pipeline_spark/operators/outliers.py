"""Outlier analysis and quantile clipping.

Parity: analyze_numerical_columns IQR/skewness profile
(preprocessing.py:344-362) and the Price/Living_area/... quantile
clips (preprocessing.py:556-580).

Scale design: quantiles come from ONE aggregate per table (all
columns, all probabilities at once) and are attached with a broadcast
cross-join. Exact ``percentile`` is used when oracle-agreement
matters; ``approx_percentile`` (t-digest sketch, mergeable map-side)
is the 100 TB path — same plan shape, toggled by a flag.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize


def _pct(col: str, p: float, exact: bool):
    if exact:
        return F.expr(f"percentile(`{col}`, {p!r})")
    return F.expr(f"approx_percentile(`{col}`, {p!r}, 10000)")


def _ptag(p: float) -> str:
    """Collision-free alias tag for a probability: int(p*100) would
    truncate AND collide (0.005 vs 0.009 → both 'p0')."""
    return "p" + repr(float(p)).replace(".", "_").replace("-", "m")


def quantiles_row(df: DataFrame, cols_probs: Mapping[str, Sequence[float]],
                  exact: bool = True) -> DataFrame:
    """1-row DataFrame of ``<col>__p<prob>`` quantiles for every
    requested (column, probability) — single pass."""
    aggs = []
    for c, probs in cols_probs.items():
        for p in probs:
            aggs.append(_pct(c, p, exact).alias(f"{c}__{_ptag(p)}"))
    return df.agg(*aggs)


def clip_to_quantiles(df: DataFrame, clips: Mapping[str, tuple[float, float]],
                      exact: bool = True) -> DataFrame:
    """Winsorize each column to its [lower, upper] quantiles."""
    q = quantiles_row(df, {c: [lo, hi] for c, (lo, hi) in clips.items()}, exact=exact)
    out = df.crossJoin(F.broadcast(q))
    for c, (lo, hi) in clips.items():
        lo_c = F.col(f"{c}__{_ptag(lo)}")
        hi_c = F.col(f"{c}__{_ptag(hi)}")
        # NULL stays NULL (pandas .clip parity): Spark's greatest/least
        # SKIP nulls, which would silently impute missing values to the
        # lower quantile
        clipped = F.least(F.greatest(F.col(c).cast("double"), lo_c), hi_c)
        out = out.withColumn(c, F.when(F.col(c).isNull(), None).otherwise(clipped))
    drop = [f"{c}__{_ptag(p)}" for c, (lo, hi) in clips.items() for p in (lo, hi)]
    return out.drop(*drop)


def iqr_outlier_profile(df: DataFrame, columns: Iterable[str],
                        exact: bool = True) -> DataFrame:
    """Per-column (q1, q3, iqr, n_outliers, skewness).

    Skewness is the POPULATION skewness m3 / m2^1.5 of the non-NULL
    values, from Spark's ``skewness`` aggregate, which updates centered
    moments as it goes (no raw power sums, so a large offset does not
    cancel digits away); a constant column gives NULL. One aggregate
    pass for quantiles + skewness, one for outlier counts.
    """
    columns = list(columns)
    aggs = []
    for c in columns:
        aggs += [
            _pct(c, 0.25, exact).alias(f"{c}__q1"),
            _pct(c, 0.75, exact).alias(f"{c}__q3"),
            F.skewness(c).alias(f"{c}__skew"),
        ]
    stats = df.agg(*aggs)
    counted = df.crossJoin(F.broadcast(stats))
    count_aggs = []
    for c in columns:
        q1, q3 = F.col(f"{c}__q1"), F.col(f"{c}__q3")
        iqr = q3 - q1
        lower, upper = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        outlier = (F.col(c) < lower) | (F.col(c) > upper)
        count_aggs += [
            F.first(q1).alias(f"{c}__q1"),
            F.first(q3).alias(f"{c}__q3"),
            F.sum(outlier.cast("long")).alias(f"{c}__n_out"),
            F.first(F.col(f"{c}__skew")).alias(f"{c}__skew"),
        ]
    wide = counted.agg(*count_aggs)
    # unpivot via ONE stack over the 1-row frame — a per-column union
    # would re-run both full-table aggregate passes per branch
    pieces = []
    for c in columns:
        wide = wide.withColumn(
            f"{c}__skew", quantize(F.col(f"{c}__skew"), 1000))
        wide = wide.withColumn(f"{c}__iqr", quantize(
            F.col(f"{c}__q3") - F.col(f"{c}__q1"), 10000))
        wide = wide.withColumn(f"{c}__q1r", quantize(F.col(f"{c}__q1"), 10000))
        wide = wide.withColumn(f"{c}__q3r", quantize(F.col(f"{c}__q3"), 10000))
        pieces.append(
            f"'{c}', `{c}__q1r`, `{c}__q3r`, `{c}__iqr`, `{c}__n_out`, `{c}__skew`")
    stack = ", ".join(pieces)
    return wide.selectExpr(
        f"stack({len(columns)}, {stack}) as "
        "(column_name, q1, q3, iqr, n_outliers, skewness)")
