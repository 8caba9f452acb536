"""Custom stateful streaming operator (SURVEY.md §2.7 #52).

``applyInPandasWithState`` gives a per-key state cell across
micro-batches — the escape hatch for operators the built-in windowed
aggs can't express. Here: a running per-user profile (event count,
value sum, last-seen) that emits an updated row per key per batch.

State is one small tuple per key. NoTimeout is used here because the
test streams are finite; an unbounded production stream with
ever-new keys must pass ProcessingTimeTimeout (and call
state.setTimeoutDuration / state.remove on expiry) or the state
store grows one tuple per key forever.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from immoeliza_pipeline_spark.functions.num import SCALE

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
STATE_SCHEMA = "n bigint, total double, last_ts timestamp"


def _update_user_profile(key, pdfs, state: GroupState):
    import pandas as pd

    # `total` holds exact integer MILLIONTHS (stored in the double
    # state slot — exact below 2^53) so the running sum is
    # accumulation-order independent, same contract as functions.num.
    # GroupState.get is a PROPERTY in pyspark (calling it raises
    # "'tuple' object is not callable" — only on the 2nd+ batch per
    # key, so single-batch tests never see it)
    n, total, last_ts = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        total += float(sum(math.floor(v * SCALE + 0.5)
                           for v in pdf["value"].dropna()))
        batch_max = pdf["ts"].max()  # NaT if the batch's ts are all null
        if pd.notna(batch_max):
            # guard: max(NaT, x) returns NaT (all NaT comparisons are
            # False), which would poison the state forever
            if last_ts is None or pd.isna(last_ts) or batch_max > last_ts:
                last_ts = batch_max
    state.update((n, total, last_ts))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_events": [n],
        "sum_value": [math.floor(total / SCALE * 100 + 0.5) / 100],
        "last_ts": [last_ts],
    })


def running_user_profiles(stream: DataFrame) -> DataFrame:
    """Continuously-updated per-user profile via arbitrary stateful
    processing (one state tuple per user)."""
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
