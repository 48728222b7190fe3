"""Streaming counter increments: the stateful lag that turns a raw
value stream into PromQL-style non-negative deltas, continuously.

`applyInPandasWithState` holds three numbers per live series
(last_ts_us, last_turn_idx, last_value) — the cross-micro-batch
predecessor the batch operator gets from a window lag.  Each arriving
row with a predecessor emits (conv_id, metric, ts, inc) where
inc = max(value - prev, 0); the per-tier rate aggregation then runs
downstream over the sink (batch rollup or watermarked window), which
is how the production pipeline composes: stateful delta extraction →
tier aggregation.  Batch equivalence (aggregated sink == batch
counter_rate) is asserted in tests/test_rate_stream.py.

Ordering, replay cutoff and eviction: see `streaming.scan`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = "conv_id string, metric string, ts timestamp, inc double"
STATE_SCHEMA = "last_ts_us long, last_idx long, last_value double"


def stream_counter_increments(stream: DataFrame,
                              evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, metric, ts, turn_idx, value) with a watermark
    on ts → append stream of clamped increments."""

    def _inc(key, pdf, st):
        conv_id, metric = key
        lt, li, lv = st or (None, None, None)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
        prev = np.r_[np.nan if lv is None else lv, vals[:-1]]
        inc = np.maximum(vals - prev, 0.0)
        has_prev = ~np.isnan(prev)
        new = (int(ts_us[-1]), int(idx[-1]), float(vals[-1]))
        if not has_prev.any():
            return new, None
        return new, pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "ts": ts_us[has_prev].astype("datetime64[us]"),
                "inc": inc[has_prev],
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _inc, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
