"""Streaming CEP-lite pattern detection: the batch automaton
(operators/intervals.pattern_matches) run continuously with FOUR
integers of carried state per live key — (stage, t0_us, last_ts_us,
last_idx).

Why this is exactly the batch answer: the automaton is a deterministic
function of the processed step-event sequence, and the carried
(stage, t0) replays the identical integer transitions across
micro-batch boundaries — matches are bit-equal to batch on any split
(asserted in tests/test_pattern_stream.py).

Ordering, replay cutoff and eviction: see `streaming.scan`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "key string, start_ts timestamp, end_ts timestamp,"
    " duration_s double"
)
STATE_SCHEMA = "last_ts_us long, last_idx long, stage int, t0_us long"


def stream_pattern(stream: DataFrame, steps: list[str],
                   within_seconds: int = 3600,
                   evict_seconds: int = 86400) -> DataFrame:
    """stream (key, event_type, ts, tie) with a watermark on ts →
    append stream of completed pattern matches per key."""
    step_list = [str(s) for s in steps]
    win_us = int(within_seconds) * 1_000_000

    def _scan(key, pdf, st):
        (key_val,) = key
        lt, li, stage, t0 = st or (None, None, 0, 0)
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        sts = pdf["event_type"].astype(str).to_numpy()[pos]
        out_s, out_e = [], []
        for t, ev in zip(ts_us, sts):
            if ev not in step_list:
                continue
            if stage > 0 and t - t0 > win_us:
                stage = 0
            if ev == step_list[stage]:
                if stage == 0:
                    t0 = int(t)
                stage += 1
                if stage == len(step_list):
                    out_s.append(t0)
                    out_e.append(int(t))
                    stage = 0
        new = (int(ts_us[-1]), int(idx[-1]), int(stage), int(t0))
        if not out_s:
            return new, None
        return new, pd.DataFrame(
            {
                "key": key_val,
                "start_ts": pd.Series(out_s, dtype="int64")
                .astype("datetime64[us]"),
                "end_ts": pd.Series(out_e, dtype="int64")
                .astype("datetime64[us]"),
                "duration_s": [(e - s) / 1e6 for s, e in zip(out_s, out_e)],
            }
        )

    return stateful_scan(
        stream, ["key"], _scan, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
