"""Structured Streaming over the events table (SURVEY.md §2.7).

The reference pipeline is batch-rescraped nightly; the streaming
module is the engine's continuous-ingest path: the same windowed
aggregations with watermarked state so it runs unbounded. Parquet
directories stand in for Kafka in tests (same DataFrame API — only
``format`` changes); ``process_all`` drives a finite source to
completion synchronously for deterministic results.

State is bounded by the watermark — at 100 TB/day the windowed agg
state is (windows × event_types), independent of throughput.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from immoeliza_pipeline_spark.functions import num as N

EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")
# shuffle and state-store partitions of every process_all query (see
# its docstring): streaming state is KB-to-MB scale at any SF
STREAM_SHUFFLE_PARTITIONS = 4


def _as_stream_dir(path: str) -> str:
    """The file-stream source needs a DIRECTORY (it tails new files).
    The testdata ships one parquet file, so stage a symlink to it in
    a deterministic temp dir — zero copy, read-only source."""
    if os.path.isdir(path):
        return path
    import hashlib
    tag = hashlib.md5(path.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"stream_src_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    # lexists, not exists: a dangling symlink reports missing to
    # exists() and symlink() would then raise FileExistsError forever.
    # Tolerate a non-symlink squatter and the create/create race
    # between concurrent sessions staging the same source.
    if os.path.lexists(link):
        if not os.path.islink(link) or os.readlink(link) != path:
            os.unlink(link)
        else:
            return d
    try:
        os.symlink(path, link)
    except FileExistsError:
        pass  # concurrent stager won the race with the same target
    return d


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet directory (swap
    format('kafka') + from_json in production; schema must be
    explicit for streams)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_stream_dir(os.path.join(sf_dir, "events.parquet")))
    )


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark
    bounding late-data state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             N.sum_money(F.col("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming sessionization via session_window (the stateful
    analog of the batch lag+cumsum sessionizer in plans.analytic)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )


def dedup_stream(stream: DataFrame, keys: list[str] | None = None,
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming deduplication: drop repeated deliveries of the same
    event (at-least-once sources like Kafka redeliver on rebalance).
    dropDuplicatesWithinWatermark keeps state only for the watermark
    horizon — at 100 TB/day the dedup state is bounded by (event rate
    × watermark), never by total history, which an unbounded
    dropDuplicates would accumulate."""
    keys = keys or ["event_id"]
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Exactly-once epoch sink: write one micro-batch into the
    ``__epoch=<epoch_id>`` partition of ``path`` with the writer's own
    dynamic partition-overwrite option (it takes precedence over the
    session's mode, which stays as it was). A REPLAYED batch (restart
    between sink write and checkpoint commit, the classic at-least-once
    window) overwrites its own partition instead of duplicating rows."""
    (df.withColumn("__epoch", F.lit(epoch_id))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("__epoch").parquet(path))


def drain(writer: DataStreamWriter) -> None:
    """Start the query, run it until its finite source is consumed,
    and stop it, also when a batch raises."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def write_stream_exactly_once(df: DataFrame, out_dir: str,
                              checkpoint_dir: str) -> None:
    """Exactly-once parquet sink via foreachBatch: each micro-batch
    lands in its epoch partition (``write_epoch``). Runs the finite
    source to completion."""
    drain(df.writeStream
          .foreachBatch(lambda batch, epoch: write_epoch(batch, epoch, out_dir))
          .option("checkpointLocation", checkpoint_dir))


def process_all(agg: DataFrame, spark: SparkSession, name: str,
                output_mode: str = "complete") -> DataFrame:
    """Drive a finite stream to completion into a memory sink and
    return the batch result (deterministic: all input consumed).

    STREAM_SHUFFLE_PARTITIONS sizes the micro-batch shuffles AND the
    state-store partition count (fixed at first start from
    spark.sql.shuffle.partitions) for THIS query, restoring the
    session conf after. Stateful streaming state is usually KB-to-MB
    scale (windows × keys, watermark-bounded), so inheriting a batch
    session's partitioning (32 here, 200+ on clusters) spends most of
    each micro-batch on empty-task + state-store-instance overhead —
    measured 9.2s → 4.0s on stream_attribution_join at sf0.1. It is
    sized by expected STATE size, not data rate; a restarted
    production query keeps whatever its checkpoint was created with."""
    # The package's one conf swap outside session.py: Spark has no
    # per-query option for the state-store partition count, which a
    # query takes from the session's shuffle partitions at first start.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(STREAM_SHUFFLE_PARTITIONS))
    try:
        drain(agg.writeStream.outputMode(output_mode)
              .format("memory").queryName(name))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
