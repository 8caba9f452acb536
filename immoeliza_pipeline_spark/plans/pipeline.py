"""Declarative pipeline DAG + dataset versioning (SURVEY.md §2.9).

Parity: docker-airflow/dags/airflow_auto_model.py — a 4-stage
sequential DAG (scrape → preprocess → model → publish) on a schedule,
plus the mission constraints 'datasets need to be versioned / models
need to be versioned'.

Spark-first difference: stages here pass DataFrames, not files, so a
chain of stages is ONE Catalyst plan (the reference materializes CSV
between every step). A stage that several stages consume (a fan-out
stage) is computed once per run: ``Pipeline.run`` persists it as it is
produced and releases it when ``run`` returns or raises, so no cache
outlives the run.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]
    depends_on: tuple[str, ...] = ()


@dataclass
class Pipeline:
    """Topologically-executed DAG of named stages. Each stage fn
    receives (spark, **upstream results) and returns a DataFrame.

    Invariant: within one ``run``, a stage with more than one
    dependent is computed once. It is persisted as it is produced and
    unpersisted when ``run`` returns or raises; the frames ``run``
    returns are uncached, so an action on them after ``run`` recomputes
    its plan, and gets the answer its consumers got from the cache
    (see ``session._RUNTIME_CONF``'s cached-plan partitioning)."""

    name: str
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[..., DataFrame],
            depends_on: tuple[str, ...] = ()) -> "Pipeline":
        self.stages.append(Stage(name, fn, depends_on))
        return self

    def _topo_order(self) -> list[Stage]:
        by_name = {s.name: s for s in self.stages}
        seen: dict[str, int] = {}
        order: list[Stage] = []

        def visit(s: Stage):
            state = seen.get(s.name, 0)
            if state == 1:
                raise ValueError(f"cycle through stage '{s.name}'")
            if state == 2:
                return
            seen[s.name] = 1
            for dep in s.depends_on:
                if dep not in by_name:
                    raise ValueError(f"stage '{s.name}' depends on unknown '{dep}'")
                visit(by_name[dep])
            seen[s.name] = 2
            order.append(s)

        for s in self.stages:
            visit(s)
        return order

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        order = self._topo_order()
        dependents = Counter(d for s in order for d in set(s.depends_on))
        results: dict[str, DataFrame] = {}
        cached: list[DataFrame] = []
        try:
            for stage in order:
                inputs = {dep: results[dep] for dep in stage.depends_on}
                out = stage.fn(spark, **inputs)
                if dependents[stage.name] > 1:
                    cached.append(out.persist())
                results[stage.name] = out
        finally:
            # Blocking: the cached blocks are gone when run returns, not
            # dropped in the background while the caller's next job runs.
            for df in cached:
                df.unpersist(blocking=True)
        return results


def write_versioned(df: DataFrame, base_dir: str, dataset: str,
                    version: str | None = None,
                    partition_by: tuple[str, ...] = ()) -> str:
    """Versioned parquet sink: base/dataset/v=<version>/ + a manifest
    and a 'latest' pointer — the distributed analog of the
    reference's dated CSV/pickle dumps (preprocessing.py:409-427)."""
    version = version or time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(base_dir, dataset, f"v={version}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    manifest = {
        "dataset": dataset,
        "version": version,
        "schema": df.schema.jsonValue(),
        "partition_by": list(partition_by),
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    _point_latest(base_dir, dataset, version)
    return path


def _point_latest(base_dir: str, dataset: str, version: str) -> None:
    """Point base/dataset/LATEST at ``version`` (the bare version
    string, no newline). The pointer is written beside it and renamed
    over it, so a concurrent reader sees the old version or the new
    one, never an empty file."""
    latest = os.path.join(base_dir, dataset, "LATEST")
    tmp = f"{latest}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, latest)


def read_versioned(spark: SparkSession, base_dir: str, dataset: str,
                   version: str | None = None) -> DataFrame:
    """Read one version (default: LATEST) with the schema its manifest
    records, so the read infers nothing and starts no job. Columns come
    in the order a plain parquet read gives (partition columns last),
    and a partition column keeps the type it was written with rather
    than the one its directory names would suggest."""
    if version is None:
        with open(os.path.join(base_dir, dataset, "LATEST")) as f:
            version = f.read().strip()
    path = os.path.join(base_dir, dataset, f"v={version}")
    with open(os.path.join(path, "_MANIFEST.json")) as f:
        schema = StructType.fromJson(json.load(f)["schema"])
    return spark.read.schema(schema).parquet(path)


def backfill(spark: SparkSession, df: DataFrame, date_col: str,
             windows: list[tuple[str, str]], out_dir: str, dataset: str) -> list[str]:
    """Scheduled-catchup parity (airflow_auto_model.py:19
    catchup=True): process each missed logical window and append it
    as a dt partition. Each window is an independent filtered plan —
    predicate pushdown means a window scans only its slice; the
    partitioned layout gives downstream readers partition pruning.

    Re-running a window must be IDEMPOTENT (Airflow retries +
    catchup re-runs): the writer's dynamic partition-overwrite option
    replaces only the touched dt partitions instead of appending
    duplicates, and leaves the session's mode as it was."""
    from pyspark.sql import functions as F
    path = os.path.join(out_dir, dataset)
    written = []
    for start, end in windows:
        slice_df = (df.filter((F.col(date_col) >= start) & (F.col(date_col) < end))
                    .withColumn("dt", F.lit(start)))
        (slice_df.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("dt").parquet(path))
        written.append(f"{path}/dt={start}")
    return written


def dataset_diff(spark: SparkSession, base_dir: str, dataset: str,
                 v_old: str, v_new: str, key: str) -> DataFrame:
    """CDC between two dataset versions ('gathering historical data'
    mission): added / removed / changed rows by key. One full-outer
    join on the key; row equality via a hash over all non-key columns
    (no column-by-column comparison explosion)."""
    from pyspark.sql import functions as F
    old = read_versioned(spark, base_dir, dataset, v_old)
    new = read_versioned(spark, base_dir, dataset, v_new)
    cols = [c for c in new.columns if c != key]
    fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    o = old.select(F.col(key), fp.alias("__fp_old"))
    n = new.select(F.col(key), fp.alias("__fp_new"))
    joined = o.join(n, key, "full_outer")
    return joined.select(
        key,
        F.when(F.col("__fp_old").isNull(), "added")
        .when(F.col("__fp_new").isNull(), "removed")
        .when(F.col("__fp_old") != F.col("__fp_new"), "changed")
        .otherwise("unchanged").alias("change"),
    )


def immoeliza_pipeline(sf_dir: str, out_dir: str) -> Pipeline:
    """The reference DAG re-expressed: ingest → preprocess → model →
    publish, as one lazily-composed plan per branch. One version id is
    taken per build and stamps all four sinks (orders_clean, ols_model,
    predictions, lr_model), so one run publishes one version."""
    from pyspark.sql import functions as F

    from immoeliza_pipeline_spark.ml import regression as R
    from immoeliza_pipeline_spark.operators import encode, impute, outliers
    from immoeliza_pipeline_spark.sources.readers import load_table

    version = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    fitted = {}  # model_ml's grid winner, scored in memory by publish

    def ingest(spark: SparkSession) -> DataFrame:
        return load_table(spark, sf_dir, "orders")

    def preprocess(spark: SparkSession, ingest: DataFrame) -> DataFrame:
        df = ingest.dropDuplicates(["o_orderkey"])
        df = encode.target_encode(df, ["o_orderpriority"], "o_totalprice")
        df = impute.fill_missing_with_stat(df, ["o_totalprice"], method="median")
        return outliers.clip_to_quantiles(df, {"o_totalprice": (0.05, 0.95)})

    def model(spark: SparkSession, preprocess: DataFrame) -> DataFrame:
        return R.fit_ols(preprocess, "o_orderpriority_encoded", "o_totalprice")

    def model_ml(spark: SparkSession, preprocess: DataFrame) -> DataFrame:
        """Best-model selection + retrain + persist (project.py:266-310):
        a small deterministic grid stands in for RandomizedSearchCV;
        the winner is saved as a VERSIONED MLlib pipeline and handed
        to publish."""
        from immoeliza_pipeline_spark.ml import pipelines as P
        train = preprocess.filter(F.col("o_orderkey") % 5 != 0)
        test = preprocess.filter(F.col("o_orderkey") % 5 == 0)
        best = P.grid_search_linear(
            train, test, ["o_orderpriority_encoded"], "o_totalprice",
            reg_params=(0.0, 1.0))
        P.save_model(best["model"],
                     os.path.join(out_dir, "lr_model", f"v={version}"))
        _point_latest(out_dir, "lr_model", version)
        fitted["lr_model"] = best["model"]
        return spark.createDataFrame(
            [(version, float(best["rmse"]), float(best["r2"]),
              float(best["reg_param"]))],
            "version string, rmse double, r2 double, reg_param double")

    def publish(spark: SparkSession, preprocess: DataFrame,
                model: DataFrame, model_ml: DataFrame) -> DataFrame:
        """Versioned datasets + predictions — the 'update the API with
        new data' step (01-immoeliza-pipeline.md mission). Scores
        with the model model_ml saved, held in memory. The returned
        status frame is an inline table: acting on it after ``run``
        recomputes nothing and starts no Spark job (a frame built by
        ``createDataFrame`` from a Python list would start one, with a
        Python worker per task)."""
        write_versioned(preprocess, out_dir, "orders_clean", version)
        write_versioned(model, out_dir, "ols_model", version)
        preds = fitted["lr_model"].transform(preprocess).select(
            "o_orderkey", "o_totalprice",
            F.col("prediction").alias("predicted_price"))
        write_versioned(preds, out_dir, "predictions", version)
        return spark.sql("VALUES ('published') AS t(status)")

    return (
        Pipeline("immoeliza")
        .add("ingest", ingest)
        .add("preprocess", preprocess, depends_on=("ingest",))
        .add("model", model, depends_on=("preprocess",))
        .add("model_ml", model_ml, depends_on=("preprocess",))
        .add("publish", publish, depends_on=("preprocess", "model", "model_ml"))
    )
