"""Rate-limited streaming geocode enrichment (the production form of
the reference's Nominatim loop, preprocessing.py:138-216).

The reference geocodes row by row inside the batch job — rate-limited
network calls serialized into the data path. The streaming shape keeps
the network OFF the distributed hot path: each micro-batch fills
coordinates from the persisted cache with a broadcast join
(operators.geo.geocode_from_cache), then the driver resolves at most
``rate_per_batch`` DISTINCT cache misses through the (rate-limited)
client and APPENDS the outcome to the cache — successes with their
coordinates, failures as negative (NULL, NULL) entries — so the cache
is a growing registry, every address hits the network AT MOST ONCE
EVER (a failed geocode is remembered, not retried), and only
budget-deferred misses (absent from the cache entirely) wait for a
later batch. Driver-side state per batch is bounded by
``rate_per_batch`` (a limit(), never a full collect of misses).

The network client itself is a SEAM: ``nominatim_client`` is the
honest NotImplementedError stub (no network in this container);
``fake_geocode_client`` is the deterministic stand-in with the exact
signature a real rate-limited HTTP client would have.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.operators.geo import (geocode_from_cache,
                                                    normalize_address)
from immoeliza_pipeline_spark.streaming.events import drain, write_epoch

CACHE_SCHEMA = "normalized_address string, lat double, lon double"


def nominatim_client(addresses: list[str]) -> list[tuple[float, float] | None]:
    """Real geocoder entry point — intentionally unimplemented here
    (no network in this container). Production: Nominatim with the
    reference's fallback cascade (full address → street+postal →
    postal only, preprocessing.py:156-181), one request per second."""
    raise NotImplementedError(
        "network geocoding requires outbound HTTP; inject "
        "fake_geocode_client (tests) or a real rate-limited client")


def fake_geocode_client(addresses: list[str]) -> list[tuple[float, float] | None]:
    """Deterministic stand-in: md5-derived coordinates inside
    Belgium's bounding box — same signature/contract as a real
    client (None = address could not be geocoded)."""
    out = []
    for a in addresses:
        h = hashlib.md5(a.encode()).hexdigest()
        lat = 49.5 + (int(h[:8], 16) / 0xFFFFFFFF) * 2.0
        lon = 2.5 + (int(h[8:16], 16) / 0xFFFFFFFF) * 3.5
        out.append((round(lat, 6), round(lon, 6)))
    return out


def read_cache(spark: SparkSession, cache_dir: str) -> DataFrame:
    if os.path.isdir(cache_dir) and any(
            f.endswith(".parquet") for f in os.listdir(cache_dir)):
        return spark.read.schema(CACHE_SCHEMA).parquet(cache_dir)
    return spark.createDataFrame([], CACHE_SCHEMA)


def enrich_stream(stream: DataFrame, address_col: str, cache_dir: str,
                  out_dir: str, checkpoint_dir: str,
                  client=nominatim_client, rate_per_batch: int = 25) -> None:
    """Drive the finite address stream to completion: per micro-batch,
    cache-join fill → resolve ≤ rate_per_batch distinct misses via
    ``client`` → append to the cache → exactly-once epoch-partitioned
    sink (replayed batches overwrite their own partition)."""

    def enrich_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        cache = read_cache(spark, cache_dir)
        filled = geocode_from_cache(batch_df, address_col, cache)

        # A miss is an address ABSENT from the cache — not 'lat is
        # null': un-geocodable addresses are negatively cached as
        # (address, NULL, NULL) rows below, and a null-lat test would
        # re-send them to the network every batch (and rate-starve
        # everything sorting after them) forever. NULL addresses are
        # dropped — nothing to geocode, and a None would crash any
        # client. Distinct misses, deterministic order, HARD-capped at
        # the rate budget before anything reaches the driver.
        misses = [r[0] for r in (
            batch_df.select(
                normalize_address(F.col(address_col)).alias("a"))
            .filter(F.col("a").isNotNull()).distinct()
            .join(cache.select(F.col("normalized_address").alias("a")),
                  "a", "left_anti")
            .orderBy("a").limit(rate_per_batch).collect())]
        if misses:
            coords = client(misses)
            rows = [(a, c[0] if c else None, c[1] if c else None)
                    for a, c in zip(misses, coords)]
            (spark.createDataFrame(rows, CACHE_SCHEMA)
             .coalesce(1).write.mode("append").parquet(cache_dir))
            if any(c is not None for c in coords):
                # re-fill THIS batch with the now-complete cache so a
                # resolved address lands enriched in its own epoch
                filled = geocode_from_cache(
                    batch_df, address_col, read_cache(spark, cache_dir))

        write_epoch(filled, epoch_id, out_dir)

    drain(stream.writeStream.foreachBatch(enrich_batch)
          .option("checkpointLocation", checkpoint_dir))
