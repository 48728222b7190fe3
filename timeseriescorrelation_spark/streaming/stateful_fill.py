"""Stateful streaming LOCF gap-fill (SURVEY §2.9 tier-2):
`applyInPandasWithState` keeps one tiny record per live series —
(last emitted grid bucket, its carried value) — and every micro-batch
extends each series' dense grid from that state through the newest
observation, exactly like the batch `fill_locf` would.

Semantics (mirrors operators.gapfill.fill_locf):

- observations collapse last-wins per grid bucket by the SAME packed
  (µs-offset-in-bucket, turn_idx) order key as the batch path;
- an observed bucket emits `filled=false`; every grid step between two
  observed buckets carries the earlier value with `filled=true`;
- emission is EAGER (a bucket is emitted when its first observation
  arrives — append mode cannot retract), so an observation landing in
  an ALREADY-EMITTED bucket is dropped.  Run with a watermark at least
  as long as your disorder horizon so buckets close before they are
  reached; the `test_stateful_fill` equivalence test demonstrates the
  in-order case is bit-identical to batch `fill_locf`.

Eviction (anchored on the last emitted bucket, `evict_steps` grid
steps past the watermark): see `streaming.scan`.  A re-appearing
evicted series restarts its grid — the same dormancy semantics as
fill_locf's max_gap_steps, with evict_steps as the bound.

Scale notes: state is 16 bytes + key per series; each micro-batch
shuffles only the batch's observations on (conv_id, metric); grid rows
are born inside the stateful operator AFTER that shuffle (the same
O(observations)-shuffle property the batch fill has).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from timeseriescorrelation_spark.operators.rollup import (
    TIER_TRUNC,
    TRUNC_US,
    idx_bits,
)
from timeseriescorrelation_spark.streaming.scan import (
    micros,
    stateful_scan,
)

OUT_SCHEMA = (
    "conv_id string, metric string, grid_ts timestamp, "
    "value double, filled boolean"
)
STATE_SCHEMA = "last_bucket_us long, last_value double"


def stream_fill_locf(stream: DataFrame, step: str = "1h",
                     evict_steps: int = 48) -> DataFrame:
    """Streaming LOCF fill over (conv_id, metric, ts, turn_idx, value).

    ``stream`` must already carry a watermark on ``ts`` (the stateful
    operator requires one for EventTimeTimeout eviction)."""
    step_us = TRUNC_US[TIER_TRUNC[step]]
    step_ms = step_us // 1_000
    bits = idx_bits(step_us)
    cap = (1 << bits) - 1

    def _fill(key, pdf, st):
        conv_id, metric = key
        lb, lv = st or (None, None)
        ts_us = micros(pdf["ts"])
        bucket = ts_us // step_us * step_us
        off = ts_us - bucket
        keyv = off * (1 << bits) + np.minimum(
            pdf["turn_idx"].to_numpy().astype(np.int64), cap
        )
        vals = pdf["value"].to_numpy(dtype=np.float64)
        order = np.lexsort((keyv, bucket))
        b_s, v_s = bucket[order], vals[order]
        last_of_bucket = np.r_[b_s[1:] != b_s[:-1], True]
        ub, uv = b_s[last_of_bucket], v_s[last_of_bucket]
        if lb is not None:
            live = ub > lb  # late past emission: dropped (see doc)
            ub, uv = ub[live], uv[live]
        if not len(ub):
            return None, None

        g_ts, g_v, g_f = [], [], []
        prev_b, prev_v = lb, lv
        for b, v in zip(ub, uv):
            if prev_b is not None:
                gap = np.arange(prev_b + step_us, b, step_us)
                if len(gap):
                    g_ts.append(gap)
                    g_v.append(np.full(len(gap), prev_v))
                    g_f.append(np.ones(len(gap), dtype=bool))
            g_ts.append(np.array([b]))
            g_v.append(np.array([v]))
            g_f.append(np.array([False]))
            prev_b, prev_v = b, v
        return (int(prev_b), float(prev_v)), pd.DataFrame(
            {
                "conv_id": conv_id,
                "metric": metric,
                "grid_ts": np.concatenate(g_ts).astype("datetime64[us]"),
                "value": np.concatenate(g_v),
                "filled": np.concatenate(g_f),
            }
        )

    return stateful_scan(
        stream, ["conv_id", "metric"], _fill, OUT_SCHEMA, STATE_SCHEMA,
        evict_steps * step_ms,
    )
