"""ML queries (SURVEY.md §2.6) — model/project.py capabilities as
distributed aggregates, oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.ml import regression as R
from immoeliza_pipeline_spark.sources.readers import load_table

_FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey", "l_suppkey", "l_linenumber"]


def correlation_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """project.py:64-69 parity: Pearson corr of each numeric feature
    vs the target, with the reference's 0.10 selection threshold
    reported as a flag (one aggregate pass for all features)."""
    li = load_table(spark, sf_dir, "lineitem")
    all_corr = R.correlation_selection(li, _FEATURES, "l_extendedprice", threshold=0.0)
    return all_corr.select(
        "column_name", "corr", (F.abs(F.col("corr")) >= 0.10).alias("selected"))


_CORR_SELECTS = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, {N.sql_quantize(f'corr({c}, l_extendedprice)', 1000000)} AS corr FROM lineitem"
    for c in _FEATURES)

CORR_SQL = f"""
SELECT column_name, corr, (abs(corr) >= 0.10) AS selected
FROM ({_CORR_SELECTS})
"""


def standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler parity (project.py:94-97)."""
    cust = load_table(spark, sf_dir, "customer")
    return R.standard_scale(cust, ["c_acctbal"]).select(
        "c_custkey", N.quantize(F.col("c_acctbal_scaled"), 1000000).alias("acctbal_scaled"))


SCALE_SQL = f"""
SELECT c_custkey,
       {N.sql_quantize("(c_acctbal - avg(c_acctbal) OVER ()) / stddev_samp(c_acctbal) OVER ()", 1000000)}
           AS acctbal_scaled
FROM customer
"""


def ols_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS l_extendedprice ~ l_quantity: one aggregate
    pass (no iterative solver, no driver-side data)."""
    li = load_table(spark, sf_dir, "lineitem")
    fit = R.fit_ols(li, "l_quantity", "l_extendedprice")
    return fit.select(N.quantize(F.col("slope"), 10000).alias("slope"),
                      N.quantize(F.col("intercept"), 10000).alias("intercept"),
                      N.quantize(F.col("r2"), 1000000).alias("r2"))


OLS_SQL = f"""
SELECT {N.sql_quantize("regr_slope(l_extendedprice, l_quantity)", 10000)} AS slope,
       {N.sql_quantize("regr_intercept(l_extendedprice, l_quantity)", 10000)} AS intercept,
       {N.sql_quantize("regr_r2(l_extendedprice, l_quantity)", 1000000)} AS r2
FROM lineitem
"""


def holdout_eval_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train_test_split + RMSE/R² parity (project.py:120,137-144)
    with a DETERMINISTIC key-mod split (random_state=42 single-node
    splits don't distribute; key-mod does and is reproducible)."""
    li = load_table(spark, sf_dir, "lineitem")
    train = li.filter(F.col("l_orderkey") % 5 != 0)
    test = li.filter(F.col("l_orderkey") % 5 == 0)
    params = R.fit_ols(train, "l_quantity", "l_extendedprice").select("slope", "intercept")
    ev = R.evaluate_ols(test, params, "l_quantity", "l_extendedprice")
    return ev.select(N.quantize(F.col("rmse"), 10000).alias("rmse"), N.quantize(F.col("r2"), 1000000).alias("r2"))


# RMSE and R² of the fit p over the scored rows
_MSE = "avg(pow(l_extendedprice - (p.slope*l_quantity + p.intercept), 2))"
_EVAL = (f"{N.sql_quantize(f'sqrt({_MSE})', 10000)} AS rmse, "
         f"{N.sql_quantize(f'1 - {_MSE} / var_pop(l_extendedprice)', 1000000)} AS r2")

HOLDOUT_SQL = f"""
WITH p AS (
  SELECT regr_slope(l_extendedprice, l_quantity) AS slope,
         regr_intercept(l_extendedprice, l_quantity) AS intercept
  FROM lineitem WHERE l_orderkey % 5 <> 0
)
SELECT {_EVAL}
FROM lineitem, p
WHERE l_orderkey % 5 = 0
"""


def kfold_cv_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KFold CV parity (project.py:126-127): 6 leave-fold-out models
    from ONE moments pass (total minus fold, centered), then per-fold
    out-of-fold RMSE/R². The oracle fits each train set directly."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "fold", (F.col("l_orderkey") % 6).cast("int"))
    cv = R.kfold_cv_ols(li, "l_quantity", "l_extendedprice", "fold")
    return cv.select("fold", N.quantize(F.col("rmse"), 10000).alias("rmse"),
                     N.quantize(F.col("r2"), 1000000).alias("r2"))


KFOLD_SQL = f"""
WITH d AS (SELECT *, CAST(l_orderkey % 6 AS INT) AS fold FROM lineitem),
p AS (
  SELECT f.fold, regr_slope(d.l_extendedprice, d.l_quantity) AS slope,
         regr_intercept(d.l_extendedprice, d.l_quantity) AS intercept
  FROM (SELECT DISTINCT fold FROM d) f JOIN d ON d.fold <> f.fold
  GROUP BY f.fold
)
SELECT d.fold,
       {_EVAL}
FROM d JOIN p ON d.fold = p.fold
GROUP BY d.fold
"""


QUERIES: dict[str, tuple] = {
    "correlation_feature_selection": (correlation_feature_selection, CORR_SQL),
    "standard_scale": (standard_scale, SCALE_SQL),
    "ols_price_vs_quantity": (ols_price_vs_quantity, OLS_SQL),
    "holdout_eval_ols": (holdout_eval_ols, HOLDOUT_SQL),
    "kfold_cv_ols": (kfold_cv_ols, KFOLD_SQL),
}
