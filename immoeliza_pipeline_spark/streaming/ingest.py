"""Streaming corpus ingestion with per-batch near-dup flagging — the
continuous form of the batch incremental dedup (operators.dedup.
jaccard_pairs_against_index): documents arrive as a stream, each
micro-batch is flagged against everything ingested BEFORE it (the
persisted shingle index) plus earlier docs of its own batch, lands in
an exactly-once epoch-partitioned sink, and appends its shingles to
the index. At 100 TB/day this is the ingestion-time dedup shape: the
corpus is never re-shingled, per-batch cost is driven by the batch,
and the index is the only state — parquet, restart-safe, shared with
the batch pipeline.

Flag semantics are ARRIVAL-order keep-first: a doc is a near-dup when
it Jaccard-pairs with any doc of an earlier batch, or with a
smaller-id doc of its own batch. (Batch-mode dedup keeps the min id
globally; a stream cannot know about docs that haven't arrived, so
arrival order is the only consistent canonical order — the test
asserts the exact correspondence.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.operators.dedup import (
    jaccard_pairs, jaccard_pairs_against_index, shingle_table)
from immoeliza_pipeline_spark.streaming.events import drain, write_epoch

INDEX_SCHEMA = "id bigint, shingle string"


def read_shingle_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The persisted shingle index (id, shingle). The index is
    written partitioned by ``__epoch`` (see dedup_ingest_stream), so
    the parquet-file probe walks the partition subdirectories."""
    has_parquet = os.path.isdir(index_dir) and any(
        f.endswith(".parquet")
        for _, _, files in os.walk(index_dir) for f in files)
    if has_parquet:
        return spark.read.parquet(index_dir).select("id", "shingle")
    return spark.createDataFrame([], INDEX_SCHEMA)


def dedup_ingest_stream(stream: DataFrame, id_col: str, text_col: str,
                        index_dir: str, out_dir: str, checkpoint_dir: str,
                        n: int = 3, threshold: float = 0.8) -> None:
    """Drive the finite document stream to completion. Per micro-batch:

    1. flag near-dups: batch vs the persisted index (cross) UNION
       batch vs its own smaller ids (within, keep-first);
    2. exactly-once sink: rows + ``is_near_dup`` land in an
       epoch-keyed partition with dynamic overwrite (a replayed batch
       overwrites itself);
    3. the batch's shingles land in the index under the SAME
       epoch-keyed dynamic-overwrite discipline — a replayed batch
       overwrites its own shingles instead of appending duplicates.
       This matters for correctness, not just tidiness: duplicated
       index rows would double both n_old and the common count in
       jaccard_pairs_against_index, and 2c/(n_new+2·n_old-2c) >
       c/(n_new+n_old-c) strictly inflates Jaccard, so later batches
       would get false near-dup flags after a crash-replay.

    The per-batch clearCache releases the persisted frames
    jaccard_pairs_against_index pins (the unpersist boundary its
    docstring requires of ingestion loops)."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        index = read_shingle_index(spark, index_dir)
        cross = jaccard_pairs_against_index(
            batch_df, index, id_col, text_col, n=n, threshold=threshold)
        within = jaccard_pairs(batch_df, id_col, text_col, n=n,
                               threshold=threshold)
        dup_ids = (cross.select(F.col("new_id").alias("__dup"))
                   .unionByName(within.select(F.col("id2").alias("__dup")))
                   .distinct())
        flagged = (batch_df.join(
            dup_ids, batch_df[id_col] == dup_ids["__dup"], "left")
            .withColumn("is_near_dup", F.col("__dup").isNotNull())
            .drop("__dup"))
        write_epoch(flagged, epoch_id, out_dir)
        # idempotent index append: epoch-partitioned dynamic overwrite,
        # so a crash between this write and the checkpoint commit
        # cannot leave duplicated shingle rows when the batch replays
        write_epoch(shingle_table(batch_df, id_col, text_col, n=n),
                    epoch_id, index_dir)
        spark.catalog.clearCache()

    drain(stream.writeStream.foreachBatch(process_batch)
          .option("checkpointLocation", checkpoint_dir))
