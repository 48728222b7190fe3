"""Streaming expanding z-score: every event scored against all prior
events of its series, continuously, with FIVE integers of carried
state per live series.

Why this is exactly the batch answer: the expanding statistics
(n, Σx, Σx²) over cent-snapped int64 values are exact integers, so
carrying them across micro-batches replays the identical IEEE
divide + √ the batch operator (analytics.expanding_zscore) performs —
the streamed z values are BIT-EQUAL to batch (asserted in
tests/test_zscore_stream.py), not approximately equal.  This is the
integer-state version of the ewma_stream argument: floats would
accumulate in a different order across batch splits; ints cannot.

Ordering, replay cutoff and eviction: see `streaming.scan`.  State is
O(live series), independent of history length (the whole point: the
batch form's prior-rows window re-reads history; this never does).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.functions.exact import (
    VALUE_DECIMALS,
    narrow,
    snap_np,
    wide_np,
)
from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int,"
    " value double, n_prior long, z double"
)
STATE_SCHEMA = "last_ts_us long, last_idx long, n long, s long, ss long"


def stream_zscore(stream: DataFrame, min_n: int = 3,
                  evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, metric, ts, turn_idx, value) with a watermark
    on ts → append stream with each event's expanding z-score."""
    mn = int(min_n)

    def _z(key, pdf, st):
        conv_id, metric = key
        lt, li, n0, s0, ss0 = st or (None, None, 0, 0, 0)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
        v = wide_np(snap_np(vals, VALUE_DECIMALS))
        k = len(v)
        # expanding priors: state + everything earlier in this (sorted)
        # batch — exact integers throughout: n·Σx² leaves int64 long
        # before Σx² does, and numpy would wrap it silently
        cn = n0 + np.arange(k, dtype=np.int64)
        cs = s0 + np.cumsum(v) - v
        css = ss0 + np.cumsum(v * v) - v * v
        var_num = cn * css - cs * cs
        ok = (cn >= mn) & (var_num > 0)
        z = np.full(k, np.nan)
        num = (v * cn - cs).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            z[ok] = num[ok] / np.sqrt(var_num[ok].astype(np.float64))
        z = np.floor(z * 1e6) / 1e6
        # batch emits NULL (not NaN) where z is undefined — nullable
        # Float64 makes Arrow carry real nulls
        z_col = pd.array(z, dtype="Float64")
        z_col[~ok] = pd.NA
        new = (
            int(ts_us[-1]), int(idx[-1]), int(cn[-1] + 1),
            narrow(cs[-1] + v[-1]), narrow(css[-1] + v[-1] * v[-1]),
        )
        return new, pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "ts": ts_us.astype("datetime64[us]"),
                "turn_idx": idx.astype(np.int32),
                "value": vals,
                "n_prior": cn,
                "z": z_col,
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _z, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
