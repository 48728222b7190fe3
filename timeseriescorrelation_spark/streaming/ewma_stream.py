"""Streaming EWMA: the batch smoothing recursion run continuously,
with ONE float of carried state per live series.

Why this is exactly the batch answer: y_t = (1−α)·y_{t−1} + α·x_t
depends on history only through y_{t−1}, so seeding each micro-batch
with the state's y replays the identical sequence of float64
operations the batch operator performs in one pass — the streamed
outputs are bit-equal to `analytics.ewma` (asserted in
tests/test_ewma_stream.py), not approximately equal.

The seed trick keeps the pandas C kernel: prepend the carried y as a
synthetic row, run ``ewm(adjust=False)`` (whose first output is its
first input), drop the synthetic row.  No Python per-row loop.

Ordering, replay cutoff and eviction: see `streaming.scan`.  State is
3 numbers (last_ts_us, last_idx, y) — the same O(live series) bound as
the LOCF filler, independent of history length (this is the telescoped
form the batch ewma docstring points to for series longer than one
partition's memory).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int,"
    " value double, ewma double"
)
STATE_SCHEMA = "last_ts_us long, last_idx long, y double"


def stream_ewma(stream: DataFrame, alpha: float = 0.3,
                evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, metric, ts, turn_idx, value) with a watermark
    on ts → append stream with the running EWMA per series."""
    a = float(alpha)

    def _ewm(key, pdf, st):
        conv_id, metric = key
        lt, li, y0 = st or (None, None, None)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
        if y0 is None:
            y = pd.Series(vals).ewm(alpha=a, adjust=False).mean().to_numpy()
        else:
            # seed the C kernel: prepend carried y, drop it
            seq = pd.Series(np.r_[y0, vals])
            y = seq.ewm(alpha=a, adjust=False).mean().to_numpy()[1:]
        return (int(ts_us[-1]), int(idx[-1]), float(y[-1])), pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "ts": ts_us.astype("datetime64[us]"),
                "turn_idx": idx.astype(np.int32),
                "value": vals,
                "ewma": np.floor(y * 1e6) / 1e6,
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _ewm, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
