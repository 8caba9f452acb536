"""Multimodal column plumbing (SURVEY.md §2.8).

Images/audio/video travel as opaque ``binary`` columns with typed
metadata structs; decode / feature-extract runs as Arrow-batched
``mapInPandas`` so each Python worker sees columnar batches, not
rows. The decode kernels themselves are STUBBED (no image/audio libs
in this container): ``fake_decode`` is a deterministic stand-in with
the exact schema/batching a real libjpeg/ffmpeg kernel would use —
swap the inner function, keep the plumbing.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = ("id bigint, media_type string, n_bytes int, "
                  "feat_mean double, feat_dim int")


def to_media_table(df: DataFrame, id_col: str, payload_col: str,
                   media_type: str = "application/octet-stream") -> DataFrame:
    """Wrap an existing column as a media table: binary payload +
    typed metadata (computed JVM-side — no Python for metadata)."""
    payload = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).alias("id"),
        payload.alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.length(payload).cast("int").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
    )


def decode_with(media: DataFrame, kernel) -> DataFrame:
    """The decode SEAM: all Spark-side plumbing (FEATURE_SCHEMA
    output, Arrow-batched mapInPandas, partition-parallel execution)
    with the per-payload kernel injected. ``kernel(payload_bytes) ->
    (feat_mean, feat_dim)``. A real decoder (pillow/libjpeg image
    kernel, soundfile/ffmpeg audio kernel) drops in here without
    touching the plan — proven by the seam test, which swaps in a
    recorded byte→feature table and checks schema/partitioning are
    unchanged (tests/test_streaming_multimodal_pipeline.py)."""

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            out = pdf["payload"].map(kernel)
            yield pd.DataFrame({
                "id": pdf["id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["n_bytes"],
                "feat_mean": out.map(lambda t: t[0]).astype("float64"),
                "feat_dim": out.map(lambda t: t[1]).astype("int32"),
            })

    return media.mapInPandas(decode_batches, schema=FEATURE_SCHEMA)


def mean_byte_kernel(b) -> tuple:
    """Deterministic stand-in 'decode' kernel: mean byte value."""
    return ((sum(b) / len(b)) if (b is not None and len(b)) else 0.0, 1)


def fake_decode_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Deterministic stand-in decoder: 'decodes' the payload into a
    fake feature (mean byte value) via the decode_with seam. The
    Spark-side contract — schema, Arrow batches, partition-parallel
    execution — is exactly what a real decoder uses."""
    return decode_with(media, mean_byte_kernel)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: deterministic id-mod sampling BEFORE
    the (expensive) decode — the predicate stays JVM-side so the
    Python decode only sees sampled rows."""
    return media.filter(F.col("id") % every_n == 0)
