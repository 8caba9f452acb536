"""Streaming query exposed to the oracle harness (SURVEY.md §2.7).

The Spark side runs a REAL Structured Streaming query (watermark +
tumbling window) driven to completion over the finite parquet source;
the oracle reproduces the final state with a batch GROUP BY on the
hour bucket — on a bounded input they must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import sql_sum_money, sum_money
from immoeliza_pipeline_spark.streaming import events as E

N_SQL_SUM_VALUE = sql_sum_money("e.value", 2)


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = E.read_event_stream(spark, sf_dir)
    agg = E.windowed_counts(stream, window="1 hour", watermark="2 hours")
    name = "stream_windowed_counts_out"
    result = E.process_all(agg, spark, name, output_mode="complete")
    # memory-sink tables are session-scoped; materialize the columns.
    # window_start is exported as epoch-µs BIGINT, never as a raw
    # TIMESTAMP: PySpark's collect() renders TimestampType through the
    # PROCESS timezone (TZ env), which no session conf can pin — a
    # non-UTC driver would shift every window boundary.
    return result.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
        .alias("window_start_us"),
        "event_type", "n_events", "sum_value")


STREAM_WINDOWED_SQL = f"""
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us, event_type,
       count(*) AS n_events, {sql_sum_money("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming sessionization (session_window +
    watermark) driven to completion; time bounds exported as epoch-µs
    longs. Spark's session semantics: an event extends the session
    while strictly within ``gap`` of the previous event, and the
    session ends ``gap`` after its last event — the oracle mirrors
    both (>= starts a new session; end = max(ts) + gap)."""
    stream = E.read_event_stream(spark, sf_dir)
    sess = E.session_windows(stream, gap="30 minutes")
    result = E.process_all(sess, spark, "stream_sessionization_out",
                           output_mode="complete")
    return result.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp"))
        .alias("session_start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp"))
        .alias("session_end_us"),
        "n_events")


STREAM_SESSION_SQL = """
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
), marked AS (
  SELECT user_id, ts_us,
         CASE WHEN gap IS NULL OR gap >= 1800 * 1000000 THEN 1 ELSE 0 END AS is_new
  FROM g
), sess AS (
  SELECT user_id, ts_us,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 1800 * 1000000 AS BIGINT) AS session_end_us,
       count(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""


def attribution_join(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream inner join (the canonical attribution shape):
    each purchase joins the same user's view events in the preceding
    hour. Both sides carry watermarks and the join carries the
    event-time range condition — exactly what bounds the join state
    at 100 TB/day (state = one watermark horizon of views per side,
    never history). Append mode only (the sole mode stream-stream
    joins support). Time lag exported as µs BIGINT, never a raw
    timestamp."""
    v = views.withWatermark("view_ts", "2 hours")
    p = purchases.withWatermark("purchase_ts", "2 hours")
    joined = p.join(
        v,
        (p["user_id"] == v["user_id"])
        & (v["view_ts"] <= p["purchase_ts"])
        & (v["view_ts"] >= p["purchase_ts"] - F.expr("INTERVAL 1 HOUR")))
    return joined.select(
        p["user_id"], "purchase_id", "view_id",
        (F.unix_micros(F.col("purchase_ts").cast("timestamp"))
         - F.unix_micros(F.col("view_ts").cast("timestamp")))
        .alias("lag_us"))


def _event_side(stream: DataFrame, event_type: str, id_alias: str,
                ts_alias: str) -> DataFrame:
    return (stream.filter(F.col("event_type") == event_type)
            .select("user_id", F.col("event_id").alias(id_alias),
                    F.col("ts").alias(ts_alias)))


def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """attribution_join driven to completion against the finite
    source. The replay deliberately arrives as ONE micro-batch (no
    maxFilesPerTrigger): with append-mode state EVICTION in play,
    batch-join oracle parity requires either single-batch arrival or
    event-time-ordered file arrival — a finite directory replay
    guarantees neither order nor lateness bounds, while production
    sources (Kafka) deliver roughly in order, where dropping
    beyond-watermark stragglers is exactly the documented semantics.
    The ordered multi-batch path is exercised in
    tests/test_streaming_multimodal_pipeline.py."""
    import os as _os

    from immoeliza_pipeline_spark.streaming.events import (EVENTS_SCHEMA,
                                                           _as_stream_dir)
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .parquet(_as_stream_dir(_os.path.join(sf_dir, "events.parquet"))))
    out = attribution_join(
        _event_side(src, "view", "view_id", "view_ts"),
        _event_side(src, "purchase", "purchase_id", "purchase_ts"))
    return E.process_all(out, spark, "stream_attribution_out",
                         output_mode="append")


STREAM_ATTRIBUTION_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase' AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
"""


def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join + windowed agg: the event stream enriched
    with the customer dimension (broadcast to every micro-batch — the
    dim is re-read per batch, so a slowly-changing dimension is
    picked up live), then daily counts per market segment under a
    watermark. The standard 'enrich the stream with reference data'
    shape; no stream state beyond the windowed agg."""
    from immoeliza_pipeline_spark.sources.readers import load_table
    stream = E.read_event_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = stream.join(F.broadcast(cust), "user_id")
    agg = (enriched.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "1 day").alias("w"), "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                sum_money(F.col("value"), 2).alias("sum_value")))
    out = agg.select(
        F.unix_micros(F.col("w.start").cast("timestamp")).alias("day_start_us"),
        "c_mktsegment", "n_events", "sum_value")
    return E.process_all(out, spark, "stream_enriched_out",
                         output_mode="complete")


# time_bucket's default origin (2000-01-03) differs from Spark's
# window origin (1970-01-01) by an integral number of DAYS, so
# day-bucket boundaries agree exactly (as they do for the 1-hour
# buckets in STREAM_WINDOWED_SQL).
STREAM_ENRICHED_SQL = f"""
SELECT epoch_us(time_bucket(INTERVAL '1 day', e.ts)) AS day_start_us,
       c.c_mktsegment,
       count(*) AS n_events,
       {N_SQL_SUM_VALUE} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


QUERIES: dict[str, tuple] = {
    "stream_windowed_counts": (stream_windowed_counts, STREAM_WINDOWED_SQL),
    "stream_sessionization": (stream_sessionization, STREAM_SESSION_SQL),
    "stream_attribution_join": (stream_attribution_join,
                                STREAM_ATTRIBUTION_SQL),
    "stream_enriched_counts": (stream_enriched_counts, STREAM_ENRICHED_SQL),
}
