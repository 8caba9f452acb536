"""Scale-safe exact global ranking (SURVEY.md §2.5 support).

A bare ``Window.orderBy(...)`` with no partitionBy funnels the entire
frame through ONE task — fine for a 30-token toy vocabulary, a
bottleneck for the 10⁸-token vocabulary of a real corpus. The classic
distributed-exact pattern instead:

1. range-repartition on the total order (sorted partitions),
2. per-partition local rank/cumsum (ordinary partitioned windows),
3. per-partition totals (K rows, K = partition count) windowed into
   prefix offsets and broadcast-joined back,
4. global rank = partition offset + local rank (same for cumsums).

Exact (requires a TOTAL order — no ties across the order columns) and
deterministic: range boundaries may move between runs, but the global
order is unique, so ranks never change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_rank_cumsum(df: DataFrame, order_cols: list[Column],
                       value_col: str,
                       num_partitions: int | None = None) -> DataFrame:
    """Append ``rank`` (1-based, dense total order) and ``cum_value``
    (running sum of ``value_col`` in rank order) without a
    single-partition window. ``order_cols`` must define a total order
    (include a unique tie-break column)."""
    k = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(k, *order_cols)
              .withColumn("__pid", F.spark_partition_id()))
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # persisted: ``local`` feeds BOTH the per-partition stats (under
    # the offsets broadcast) and the final join; without the cache the
    # whole upstream pipeline (input subtree, range-boundary sampling
    # job, range shuffle, local windows) runs once per consumer. The
    # cache also pins ONE partitioning for both consumers: the __pid
    # join is correct only if both see the same range boundaries.
    local = (ranged.withColumn("__lrank", F.row_number().over(w))
             .withColumn("__lcum", F.sum(value_col).over(w_cum))
             .persist())

    # K-row per-partition totals → prefix offsets (the window below
    # runs over K rows, not the data)
    stats = local.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"), F.sum(value_col).alias("__s"))
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = stats.select(
        "__pid",
        (F.sum("__n").over(w_off) - F.col("__n")).alias("__rank_off"),
        (F.sum("__s").over(w_off) - F.col("__s")).alias("__cum_off"))

    out = local.join(F.broadcast(offsets), "__pid")
    return (out.withColumn("rank", F.col("__rank_off") + F.col("__lrank"))
            .withColumn("cum_value", F.col("__cum_off") + F.col("__lcum"))
            .drop("__pid", "__lrank", "__lcum", "__rank_off", "__cum_off"))
