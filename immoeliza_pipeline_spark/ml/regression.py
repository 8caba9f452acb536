"""Regression / evaluation as distributed aggregates.

Parity: model/project.py — correlation feature selection (64-69),
StandardScaler pipeline (84-97), train/test split + RMSE/R²
(120, 137-144), KFold CV (126-127).

Spark-first design: simple OLS has a closed form over first- and
second-order moments, so training is ONE aggregate over the data — no
iterative driver loop, no collect of rows. K-fold CV computes per-fold
moments in one pass and derives each fold's leave-fold-out model on
the K-row frame: k models for the price of one shuffle.

Invariant: every moment is centered. Spark's built-in ``regr_*`` and
``var_pop`` aggregates update means and co-moments as they go
(Welford), and folds are combined and removed with the pairwise update
of Chan, Golub & LeVeque; no formula subtracts raw power sums such as
n·Σxx − (Σx)², which cancel on inputs with a large offset. Rows whose
x or y is NULL are skipped by every fit.

pyspark.ml pipelines (StandardScaler + LinearRegression/RF) are
wrapped in ``ml.pipelines`` for the multi-feature path; the closed
forms here stay oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize


def correlation_selection(df: DataFrame, feature_cols: Sequence[str],
                          target_col: str, threshold: float = 0.10) -> DataFrame:
    """(column, corr) for each feature vs target, |corr| ≥ threshold
    (project.py:64-69). One aggregate computing all correlations,
    then a K-row unpivot."""
    aggs = [F.corr(c, target_col).alias(c) for c in feature_cols]
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}`" for c in feature_cols)
    out = wide.selectExpr(
        f"stack({len(feature_cols)}, {stack}) as (column_name, corr)")
    if threshold > 0:
        # NULL corr (constant feature) is "not selected", matching the
        # reference's abs(corr) >= t; at threshold 0 every feature is
        # reported, NULLs included, so profiling output stays complete
        out = out.filter(F.abs(F.col("corr")) >= threshold)
    return out.select(
        "column_name",
        quantize(F.col("corr"), 1000000).alias("corr"))


def standard_scale(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """(x - mean) / stddev_samp per column — StandardScaler parity.
    The (mean, std) row is a 1-row aggregate broadcast back."""
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"{c}__mu"), F.stddev_samp(c).alias(f"{c}__sd")]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"{c}_scaled",
            (F.col(c) - F.col(f"{c}__mu")) / F.col(f"{c}__sd"))
    drop = [f"{c}__{s}" for c in cols for s in ("mu", "sd")]
    return out.drop(*drop)


def rmse_r2(y: Column, pred: Column) -> list[Column]:
    """[rmse, r2] of ``pred`` against ``y`` as aggregate columns
    (project.py:137-144). R² is 1 - MSE / var_pop(y), so no separate
    pass computes the label mean: a constant target gives NULL R², an
    empty frame NULL for both."""
    mse = F.avg((y - pred) * (y - pred))
    return [F.sqrt(mse).alias("rmse"),
            (1 - F.try_divide(mse, F.var_pop(y))).alias("r2")]


def fit_ols(df: DataFrame, x: str, y: str) -> DataFrame:
    """1-row (slope, intercept, r2) from a single aggregate pass over
    the non-NULL (x, y) pairs. A constant target gives r2 = 1.0, as
    DuckDB's regr_r2 does; a constant x gives NULLs."""
    return df.agg(F.regr_slope(y, x).alias("slope"),
                  F.regr_intercept(y, x).alias("intercept"),
                  F.regr_r2(y, x).alias("r2"))


def evaluate_ols(test: DataFrame, params: DataFrame, x: str, y: str) -> DataFrame:
    """RMSE + out-of-sample R² of a 1-row (slope, intercept) model on
    a test set: the params broadcast, one aggregate."""
    pred = F.col("slope") * F.col(x) + F.col("intercept")
    return test.crossJoin(F.broadcast(params)).agg(*rmse_r2(F.col(y), pred))


def kfold_cv_ols(df: DataFrame, x: str, y: str, k_col: str) -> DataFrame:
    """Leave-fold-out OLS for every fold in ONE data pass.

    Per-fold centered moments (n, x̄, ȳ, Sxx, Sxy) are combined over the
    K-row frame into the total (Chan, Golub & LeVeque's pairwise
    update), and each train set is the total with its fold removed by
    the same update run backwards:
        S_t = S_all − S_k − (n_k·n_t/N)·(x̄_k − x̄_t)(ȳ_k − ȳ_t),
    written with x̄_k − x̄_t = (N/n_t)·(x̄_k − x̄), the fold's deviation
    from the total mean. A second pass joins each row's fold params and
    scores each fold.
    """
    from pyspark.sql import Window
    w = Window.partitionBy()
    n, mx, my = F.col("n"), F.col("mx"), F.col("my")
    folds = df.groupBy(k_col).agg(
        F.regr_count(y, x).cast("double").alias("n"),
        F.regr_avgx(y, x).alias("mx"), F.regr_avgy(y, x).alias("my"),
        F.regr_sxx(y, x).alias("sxx"), F.regr_sxy(y, x).alias("sxy"))
    folds = folds.select("*", F.sum(n).over(w).alias("n_all"),
                         (F.sum(n * mx).over(w) / F.sum(n).over(w)).alias("gx"),
                         (F.sum(n * my).over(w) / F.sum(n).over(w)).alias("gy"))
    N = F.col("n_all")
    nt = N - n
    dx, dy = mx - F.col("gx"), my - F.col("gy")

    def train_moment(s: str, da: Column, db: Column) -> Column:
        # S_all (fold moments plus between-fold term) minus the fold
        return (F.sum(s).over(w) + F.sum(n * da * db).over(w)
                - F.col(s) - n * N / nt * da * db)

    params = folds.select(
        k_col, (F.col("gx") - n * dx / nt).alias("tx"),
        (F.col("gy") - n * dy / nt).alias("ty"),
        (train_moment("sxy", dx, dy) / train_moment("sxx", dx, dx)).alias("slope"))
    params = params.select(
        k_col, "slope", (F.col("ty") - F.col("slope") * F.col("tx")).alias("intercept"))
    pred = F.col("slope") * F.col(x) + F.col("intercept")
    return (df.join(F.broadcast(params), on=k_col)
            .groupBy(k_col).agg(*rmse_r2(F.col(y), pred)))
