"""Reusable window-based operators: as-of join, sessionization,
salted joins for skew.

The as-of join is the union-tag/window form: tag both sides, sort by
(key, time, tag), carry the last non-null right-side value forward —
ONE shuffle on the key, linear state, no range cross product. Spark
has no native as-of join; this is the scalable composition
(pd.merge_asof via applyInPandas would pull every group into Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, key: str, time_col: str,
              value_cols: tuple[str, ...],
              tiebreak: str | None = None) -> DataFrame:
    """For each left row, the most recent right row with
    right.time <= left.time. Both inputs must expose ``key`` and
    ``time_col``; right's ``value_cols`` are appended as
    ``<col>_asof``. At equal timestamps the right row (tag 0) sorts
    before the left row (tag 1), which makes the bound inclusive.

    ``tiebreak`` (a right-side column in value_cols) makes the pick
    deterministic when multiple right rows share (key, time) — the
    row with the LARGEST tiebreak wins. Without it, equal-time right
    rows are chosen by shuffle order."""
    ltypes = dict(left.dtypes)
    rtypes = dict(right.dtypes)
    extra = [c for c in left.columns if c not in (key, time_col)]
    l = left.select(
        F.col(key), F.col(time_col), *extra,
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(rtypes[c]).alias(f"__v_{c}") for c in value_cols])
    r = right.select(
        F.col(key), F.col(time_col),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in extra],
        F.lit(0).alias("__tag"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols])
    unioned = l.unionByName(r)
    order = [F.col(time_col), F.col("__tag")]
    if tiebreak is not None:
        order.append(F.asc_nulls_first(f"__v_{tiebreak}"))
    w = (Window.partitionBy(key)
         .orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = unioned
    for c in value_cols:
        out = out.withColumn(f"{c}_asof", F.last(f"__v_{c}", ignorenulls=True).over(w))
    return (out.filter(F.col("__tag") == 1)
            .select(key, time_col, *extra,
                    *[F.col(f"{c}_asof") for c in value_cols]))


def sessionize(df: DataFrame, key: str, us_col: str, gap_seconds: int,
               order_tiebreak: str) -> DataFrame:
    """Gap-based sessionization: lag + running sum over (key, time),
    with time as epoch microseconds in ``us_col``. The gap is one
    column, so the plan holds one lag window however often it is
    read."""
    w = Window.partitionBy(key).orderBy(us_col, order_tiebreak)
    gapped = df.withColumn("__gap", F.col(us_col) - F.lag(us_col).over(w))
    marked = gapped.withColumn(
        "__is_new",
        F.when(F.col("__gap").isNull()
               | (F.col("__gap") > gap_seconds * 1_000_000), 1).otherwise(0))
    return marked.withColumn(
        "session_id",
        F.sum("__is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ).drop("__gap", "__is_new")


def salted_join(big: DataFrame, skewed_small: DataFrame, key: str,
                salt_buckets: int = 8, how: str = "inner") -> DataFrame:
    """Skew-resistant equi-join: salt the big side's hot keys across
    ``salt_buckets`` partitions and replicate the small side per
    bucket, so one hot key fans out over many tasks instead of one
    straggler. (AQE's skew-join handles this adaptively; explicit
    salting is the belt-and-braces form for known-degenerate keys.)

    Only inner/left: with right/full joins the replicated small side
    would emit salt_buckets duplicates per unmatched small-side key.
    ``pmod`` (not abs%) — abs(hash)=Int.MIN_VALUE stays negative and
    would silently drop those rows."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    big_salted = big.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]),
                         F.lit(salt_buckets)))
    small_rep = skewed_small.crossJoin(
        F.broadcast(big.sparkSession.range(salt_buckets)
                    .select(F.col("id").cast("int").alias("__salt"))))
    out = big_salted.join(small_rep, on=[key, "__salt"], how=how)
    return out.drop("__salt")
