"""Streaming online CUSUM against a fixed reference (μ, σ): the
deployable changepoint monitor, with THREE integers of carried state
per live series.

Why this is exactly the batch answer: `analytics.cusum_fixed`
telescopes the clamped recursion to s⁺ = p − min(0, min p) over the
running sum p of integer cent deviations.  p, min p and max p are
exact int64 — carrying them across micro-batches replays the batch
window algebra term for term, so the streamed scores are BIT-EQUAL to
batch on any split (asserted in tests/test_cusum_stream.py).  Floats
in state would accumulate in a split-dependent order; ints cannot.

Ordering, replay cutoff and eviction: see `streaming.scan`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    snap_np,
)
from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int,"
    " value double, s_plus double, s_minus double, alert boolean"
)
STATE_SCHEMA = "last_ts_us long, last_idx long, p long, lo long, hi long"


def stream_cusum(stream: DataFrame, mu: float, sigma: float,
                 h: float = 5.0, evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, metric, ts, turn_idx, value) with a watermark
    on ts → append stream of online CUSUM scores + alert flags."""
    mu_c = int(round(mu * SCALE))
    thr = float(h) * int(round(sigma * SCALE))

    def _cusum(key, pdf, st):
        conv_id, metric = key
        lt, li, p0, lo0, hi0 = st or (None, None, 0, 0, 0)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
        p = p0 + np.cumsum(snap_np(vals, VALUE_DECIMALS) - mu_c)
        # running extrema seeded by state: min(0, lo0, min p), identical
        # to the batch least(0, min over prefix)
        lo = np.minimum(np.minimum(np.minimum.accumulate(p), lo0), 0)
        hi = np.maximum(np.maximum(np.maximum.accumulate(p), hi0), 0)
        sp = (p - lo).astype(np.float64)
        sm = (hi - p).astype(np.float64)
        new = (
            int(ts_us[-1]), int(idx[-1]),
            int(p[-1]), int(lo[-1]), int(hi[-1]),
        )
        return new, pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "ts": ts_us.astype("datetime64[us]"),
                "turn_idx": idx.astype(np.int32),
                "value": vals,
                "s_plus": sp / SCALE,
                "s_minus": sm / SCALE,
                "alert": (sp > thr) | (sm > thr),
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _cusum, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
