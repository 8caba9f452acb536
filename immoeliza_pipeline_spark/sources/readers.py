"""Table loaders for the engine.

Parity: the reference loads CSV/pickle single-node
(Preprocessing/preprocessing.py:12-25). Here every source is a
Spark reader so scans are distributed, columnar, and pushdown-capable
— at 100 TB the parquet scan with predicate/column pruning IS the
first operator, not an afterthought.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (absolute path, st_mtime_ns, st_size) of a parquet file -> its schema
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table from a scale-factor directory.

    Inferring a schema is a Spark job that reads the footer, so a file's
    schema is inferred on its first read in the process and kept; later
    reads hand it to the reader and start no job. A rewritten file has a
    new key, so it is inferred again. The inferred types depend on the
    session's parquet-reading conf (binaryAsString, inferTimestampNTZ,
    ...), which must stay fixed for the process. A directory, or a path
    that is not a local file, is inferred on every read: a directory's
    mtime does not change when a file inside it is rewritten."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load several tables; keys are table names."""
    return {n: load_table(spark, sf_dir, n) for n in names}


def spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow source to cluster parallelism before an
    expensive projection/explode stage. A single parquet file arrives
    as ONE partition (parquet splits stop at row-group granularity) —
    without this, per-row-heavy expression work (hashing, trig, array
    folds) runs on one core until the first shuffle, no matter how
    wide the cluster is. The partition count comes from the planned
    scan (df.rdd), which already accounts for Spark's bin-packing of
    small files."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """CSV source with explicit schema (inferSchema is a full extra
    scan — never in production paths)."""
    reader = spark.read.option("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)
