"""Streaming per-conversation sequence DQ: the batch counters
(operators/dq.dq_sequence) maintained continuously with one small
state tuple per live conversation — (last_ts_us, last_idx, last_tp,
and the four running counts).

Why this is exactly the batch answer: every dq_sequence counter is a
sum over ADJACENT pairs in the (ts, turn_idx) total order, and the
carried (last_ts, last_idx, last_tp) is precisely the left element of
the next adjacent pair — so replaying the same ordered turn sequence
across any micro-batch split produces identical counts (asserted
batch-equal in tests/test_fdr_incremental.py).

Output mode is "update": each batch re-emits the current totals for
every conversation that received turns (even when all of them are
late), so the sink always holds the latest verdict per conversation
(the DQ-on-ingest dashboard shape).

Ordering, replay cutoff and eviction: see `streaming.scan` (an evicted
conversation's final emitted totals remain in the sink).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "conv_id string, n_turns long, n_same_adjacent long,"
    " n_time_ties long, n_idx_inversions long, is_clean boolean"
)
STATE_SCHEMA = (
    "last_ts_us long, last_idx long, last_tp string, n_turns long,"
    " n_same long, n_ties long, n_inv long"
)


def stream_dq_sequence(stream: DataFrame,
                       evict_seconds: int = 86400) -> DataFrame:
    """stream (conv_id, ts, turn_idx, metric) with a watermark on ts →
    update stream of current per-conversation DQ counters."""

    def _scan(key, pdf, st):
        (conv,) = key
        lt, li, ltp, n_turns, n_same, n_ties, n_inv = (
            st or (None, None, None, 0, 0, 0, 0)
        )
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        tps = pdf["metric"].astype(str).to_numpy()[pos]
        for t, i, tp in zip(ts_us, idx, tps):
            if ltp is not None:
                n_same += int(tp == ltp)
                n_ties += int(t == lt)
                n_inv += int(t > lt and i < li)
            n_turns += 1
            lt, li, ltp = int(t), int(i), tp
        new = (lt, li, ltp, int(n_turns), int(n_same), int(n_ties),
               int(n_inv))
        return new, pd.DataFrame(
            {
                "conv_id": [conv],
                "n_turns": [n_turns],
                "n_same_adjacent": [n_same],
                "n_time_ties": [n_ties],
                "n_idx_inversions": [n_inv],
                "is_clean": [n_same + n_ties + n_inv == 0],
            }
        )

    return stateful_scan(
        stream, ["conv_id"], _scan, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000, mode="update",
    )
