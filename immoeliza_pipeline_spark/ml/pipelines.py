"""pyspark.ml pipelines — multi-feature path.

Parity: model/project.py create_model_pipeline (84-97: StandardScaler
+ model), train_and_evaluate_model (99-155), and the model zoo
(221-226: linear, ridge/lasso via elasticNet, random forest;
project.py:11,226 xgboost → GBTRegressor, Spark's gradient-boosted
trees). The distributed analog of RandomizedSearchCV
(project.py:183-193) is randomized_search: a deterministic md5-ranked
sample of the param lattice evaluated with K-fold CV.

These train iteratively on executors (MLlib), so they are exercised
in tests rather than the DuckDB oracle harness (non-SQL-expressible).
"""

from __future__ import annotations

import hashlib
import itertools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.ml.regression import rmse_r2


def _assemble(feature_cols: Sequence[str]):
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="__features_raw")
    scaler = StandardScaler(inputCol="__features_raw", outputCol="features",
                            withMean=True, withStd=True)
    return assembler, scaler


def fit_linear_pipeline(train: DataFrame, feature_cols: Sequence[str], target: str,
                        reg_param: float = 0.0, elastic_net: float = 0.0):
    """StandardScaler + LinearRegression pipeline. reg_param>0 with
    elastic_net=0 is Ridge, =1 is Lasso (project.py:222-224)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.regression import LinearRegression
    assembler, scaler = _assemble(feature_cols)
    lr = LinearRegression(featuresCol="features", labelCol=target,
                          regParam=reg_param, elasticNetParam=elastic_net)
    return Pipeline(stages=[assembler, scaler, lr]).fit(train)


def fit_random_forest_pipeline(train: DataFrame, feature_cols: Sequence[str],
                               target: str, num_trees: int = 20,
                               max_depth: int = 5, seed: int = 42):
    from pyspark.ml import Pipeline
    from pyspark.ml.regression import RandomForestRegressor
    assembler, scaler = _assemble(feature_cols)
    rf = RandomForestRegressor(featuresCol="features", labelCol=target,
                               numTrees=num_trees, maxDepth=max_depth, seed=seed)
    return Pipeline(stages=[assembler, scaler, rf]).fit(train)


def fit_gbt_pipeline(train: DataFrame, feature_cols: Sequence[str],
                     target: str, max_iter: int = 20, max_depth: int = 5,
                     step_size: float = 0.1, seed: int = 42):
    """StandardScaler + GBTRegressor pipeline — the engine counterpart
    of the reference's xgboost model (model/project.py:11,226):
    sequential boosting rounds, each fitting a distributed regression
    tree to the current residuals."""
    from pyspark.ml import Pipeline
    from pyspark.ml.regression import GBTRegressor
    assembler, scaler = _assemble(feature_cols)
    gbt = GBTRegressor(featuresCol="features", labelCol=target,
                       maxIter=max_iter, maxDepth=max_depth,
                       stepSize=step_size, seed=seed)
    return Pipeline(stages=[assembler, scaler, gbt]).fit(train)


def _score(scored: DataFrame, target: str,
           pred_cols: Sequence[str]) -> list[dict[str, float]]:
    """RMSE + R² (``regression.rmse_r2``) of every prediction column in
    ``pred_cols``, all in ONE aggregate pass over ``scored``."""
    aggs = []
    for i, p in enumerate(pred_cols):
        rmse, r2 = rmse_r2(F.col(target), F.col(p))
        aggs += [rmse.alias(f"rmse{i}"), r2.alias(f"r2{i}")]
    row = scored.agg(*aggs).first()
    return [{"rmse": row[f"rmse{i}"], "r2": row[f"r2{i}"]}
            for i in range(len(pred_cols))]


def evaluate(model, test: DataFrame, target: str) -> dict[str, float]:
    """RMSE + R² of ``model`` on a held-out frame: the one-candidate
    case of the grid's scorer, one aggregate over the transformed
    frame."""
    return _score(model.transform(test), target, ["prediction"])[0]


def grid_search_linear(train: DataFrame, test: DataFrame,
                       feature_cols: Sequence[str], target: str,
                       reg_params: Sequence[float] = (0.0, 0.1, 1.0)) -> dict:
    """Deterministic analog of RandomizedSearchCV (project.py:183-193):
    evaluate each candidate on the holdout, return the best by RMSE
    (strict <, so the first of tied candidates wins).

    The assembler + scaler prefix does not depend on ``reg_param``, so
    it is fitted once; one LinearRegression per ``reg_param`` fits on
    the scaled train frame, and every candidate is scored in a single
    aggregate over ``test``, each under its own prediction column. The
    winner is returned as the same [assembler, scaler, regression]
    PipelineModel that ``fit_linear_pipeline`` builds."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.regression import LinearRegression
    assembler, scaler = _assemble(feature_cols)
    raw = assembler.transform(train)
    scaler_model = scaler.fit(raw)
    scaled = scaler_model.transform(raw)
    fits = [LinearRegression(featuresCol="features", labelCol=target,
                             regParam=rp, predictionCol=f"__pred{i}").fit(scaled)
            for i, rp in enumerate(reg_params)]
    scored = scaler_model.transform(assembler.transform(test))
    for m in fits:
        scored = m.transform(scored)
    metrics = _score(scored, target, [m.getPredictionCol() for m in fits])
    best_i = min(range(len(fits)), key=lambda i: metrics[i]["rmse"])
    winner = fits[best_i].setPredictionCol("prediction")
    return {"reg_param": reg_params[best_i], **metrics[best_i],
            "model": PipelineModel(stages=[assembler, scaler_model, winner])}


def save_model(model, path: str) -> None:
    """Model versioning sink (project.py:307-310 joblib.dump analog)."""
    model.write().overwrite().save(path)


# The search lattice mirrors the reference's RandomizedSearchCV param
# distributions (model/project.py:183-193) across all three model
# families. Values are plain literals so the candidate list — and the
# md5 ranking below — is identical on every machine and every run.
PARAM_LATTICE: dict[str, dict[str, tuple]] = {
    "linear": {"reg_param": (0.0, 0.01, 0.1, 1.0, 10.0),
               "elastic_net": (0.0, 0.5, 1.0)},
    "rf": {"num_trees": (10, 20, 40), "max_depth": (3, 5, 7)},
    "gbt": {"max_iter": (10, 20), "max_depth": (3, 5),
            "step_size": (0.05, 0.1)},
}

_FITTERS = {
    "linear": fit_linear_pipeline,
    "rf": fit_random_forest_pipeline,
    "gbt": fit_gbt_pipeline,
}


def _lattice_candidates(families: Sequence[str]) -> list[tuple[str, dict]]:
    out = []
    for fam in families:
        grid = PARAM_LATTICE[fam]
        keys = sorted(grid)
        for combo in itertools.product(*(grid[k] for k in keys)):
            out.append((fam, dict(zip(keys, combo))))
    return out


def _rank_key(seed: int, family: str, params: dict) -> str:
    blob = f"{seed}|{family}|" + "|".join(
        f"{k}={params[k]}" for k in sorted(params))
    return hashlib.md5(blob.encode()).hexdigest()


def randomized_search(df: DataFrame, feature_cols: Sequence[str], target: str,
                      id_col: str, n_iter: int = 6, k: int = 3,
                      seed: int = 42,
                      families: Sequence[str] = ("linear", "rf", "gbt")) -> dict:
    """Distributed RandomizedSearchCV parity (project.py:183-193):
    sample ``n_iter`` points from the cross-family param lattice by
    md5(seed|family|params) rank — a deterministic shuffle, so the
    same seed explores the same candidates on any engine or cluster —
    and score each with K-fold CV (fold = id % k, disjoint train/test
    per fold). Returns the best candidate by mean CV RMSE, refit on
    the full frame.
    """
    ranked = sorted(_lattice_candidates(families),
                    key=lambda c: _rank_key(seed, c[0], c[1]))
    chosen = ranked[:n_iter]
    folded = df.withColumn("__fold", F.pmod(F.col(id_col), F.lit(k))).persist()
    best = None
    try:
        for family, params in chosen:
            fold_rmses = []
            for fold in range(k):
                train = folded.filter(F.col("__fold") != fold)
                test = folded.filter(F.col("__fold") == fold)
                model = _FITTERS[family](train, feature_cols, target, **params)
                fold_rmses.append(evaluate(model, test, target)["rmse"])
            cv_rmse = sum(fold_rmses) / k
            if best is None or cv_rmse < best["cv_rmse"]:
                best = {"family": family, "params": params, "cv_rmse": cv_rmse}
    finally:
        folded.unpersist()
    final = _FITTERS[best["family"]](df, feature_cols, target, **best["params"])
    return {**best, "model": final}
