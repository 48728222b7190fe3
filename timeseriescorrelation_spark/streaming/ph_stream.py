"""Streaming online Page-Hinkley drift detector — the deployable twin
of the batch scan in operators/tsdiag.page_hinkley.

The batch statistic is two-pass (it centers on the FULL-series mean),
so the streaming form is the classic ONLINE Page-Hinkley: center each
observation on the RUNNING mean, accumulate, and alert when the
cumulative deviation rises λ above its running minimum:

    mean_t = mean of x_1..x_t        (running)
    m_t    = m_{t-1} + (x_t − mean_t − δ)
    PH_t   = m_t − min_{s≤t} m_s     → alert when PH_t > λ

Exactness/portability: floats in carried state would accumulate in a
micro-batch-split-dependent order, so the recursion runs in integer
micro-cents fixed point (the croston/ewma discipline):

    mean_u ← ((t−1)·mean_u + x_u) DIV t      (floor-quantized μ-cents)
    dev    = x_u − mean_u − δ_u              (exact integer)
    cum    ← cum + dev;  lo ← min(lo, cum)   (exact integers)

Five integers of state per series — any micro-batch split replays the
identical recursion, so streamed scores are BIT-EQUAL across splits
(asserted in tests/test_ph_stream.py against a pure-Python reference
and across a chunked replay).

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

CENT_U = 1_000_000  # micro-cents per cent (fixed point = value × 10⁸)

OUT_SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int,"
    " value double, ph double, alert boolean"
)
STATE_SCHEMA = (
    "last_ts_us long, last_idx long, t long, mean_u long,"
    " cum long, lo long"
)


def stream_page_hinkley(stream: DataFrame, delta: float = 0.0,
                        lam: float = 10.0,
                        evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, metric, ts, turn_idx, value) with a watermark
    on ts → append stream of online Page-Hinkley scores (value units)
    + alert flags.  ``delta`` is the drift slack and ``lam`` the alert
    threshold, both in value units."""
    delta_u = int(round(delta * SCALE)) * CENT_U
    lam_u = int(round(lam * SCALE)) * CENT_U

    def _ph(key, pdf, st):
        conv_id, metric = key
        lt, li, t, mean_u, cum, lo = st or (None, None, 0, 0, 0, 0)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        vals = pdf["value"].to_numpy(dtype=np.float64)[pos]
        # cent snap, then micro-cent fixed point
        cents = snap_np(vals, VALUE_DECIMALS)
        ph = np.empty(len(cents), dtype=np.float64)
        alert = np.empty(len(cents), dtype=bool)
        for i, c in enumerate(cents):
            xu = int(c) * CENT_U
            t += 1
            # floor-DIV running mean: deterministic in any engine,
            # error < 1 μ-cent per step
            mean_u = ((t - 1) * mean_u + xu) // t
            cum += xu - mean_u - delta_u
            lo = min(lo, cum)
            ph_u = cum - lo
            ph[i] = ph_u / (float(SCALE) * CENT_U)
            alert[i] = ph_u > lam_u
        new = (
            int(ts_us[-1]), int(idx[-1]),
            int(t), int(mean_u), int(cum), int(lo),
        )
        return new, pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "ts": ts_us.astype("datetime64[us]"),
                "turn_idx": idx.astype(np.int32),
                "value": vals,
                "ph": ph,
                "alert": alert,
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _ph, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )


def reference_page_hinkley(rows, delta: float = 0.0):
    """Pure-Python oracle for the SAME fixed-point recursion: rows of
    (ts, turn_idx, value) in any order → list of ph floats in
    (ts, turn_idx) order.  Used by tests to pin the streamed scores."""
    delta_u = int(round(delta * 100)) * CENT_U
    out = []
    t = mean_u = cum = lo = 0
    for _, _, v in sorted(rows, key=lambda r: (r[0], r[1])):
        x = v * 100
        c = int(np.floor(x + 0.5)) if x >= 0 else int(np.ceil(x - 0.5))
        xu = c * CENT_U
        t += 1
        mean_u = ((t - 1) * mean_u + xu) // t
        cum += xu - mean_u - delta_u
        lo = min(lo, cum)
        out.append((cum - lo) / (100.0 * CENT_U))
    return out
