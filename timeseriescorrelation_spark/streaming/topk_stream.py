"""Streaming Misra-Gries heavy hitters: top items per key group over
an unbounded stream with k counters of carried state — the
bounded-memory regime where exact groupBy top-k (token_topk) would
grow state with distinct items.

Why this is exactly the batch answer: the MG summary is a
deterministic function of the PROCESSED SEQUENCE, and the carried
counter map replays the identical integer updates the batch operator
(sketches.heavy_hitters_mg) performs over the same (ts, tie) order —
asserted bit-equal across micro-batch splits in
tests/test_topk_stream.py.  Integer counters cannot drift.

Emission contract: each micro-batch APPENDS a snapshot of the
group's current counters (audit-log style; n_seen stamps the
snapshot, so "latest" = max n_seen per key).  Appended rows are
never retracted, which is what keeps the file sink usable; a true
update sink (e.g. foreachBatch upsert) can key on (key, item).

Ordering, replay cutoff and eviction: see `streaming.scan`.  State is
O(k) per live group regardless of history length or distinct-item
count (the whole point).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.streaming.scan import (
    ordered_live,
    stateful_scan,
)

OUT_SCHEMA = (
    "key string, item string, mg_count long, n_seen long"
)
STATE_SCHEMA = (
    "last_ts_us long, last_idx long, n long,"
    " items array<string>, counts array<long>"
)


def stream_heavy_hitters(stream: DataFrame, k: int = 8,
                         evict_seconds: int = 86400) -> DataFrame:
    """stream (key, item, ts, tie) with a watermark on ts → append
    stream of per-batch MG counter snapshots per key."""
    kk = int(k)

    def _mg(key, pdf, st):
        (key_val,) = key
        if st is not None:
            lt, li, n, items, counts = st
            counters = dict(zip(items, (int(c) for c in counts)))
        else:
            lt, li, n, counters = None, None, 0, {}
        ts_us, idx, pos = ordered_live(pdf, lt, li)
        if not len(pos):
            return None, None
        for it in pdf["item"].astype(str).to_numpy()[pos]:
            n += 1
            if it in counters:
                counters[it] += 1
            elif len(counters) < kk:
                counters[it] = 1
            else:
                dead = [key2 for key2, c in counters.items() if c == 1]
                for key2 in counters:
                    counters[key2] -= 1
                for key2 in dead:
                    del counters[key2]
        items = list(counters.keys())
        counts = [int(c) for c in counters.values()]
        new = (int(ts_us[-1]), int(idx[-1]), int(n), items, counts)
        if not counters:  # a wipe round can empty the summary
            return new, None
        return new, pd.DataFrame(
            {"key": key_val, "item": items, "mg_count": counts,
             "n_seen": int(n)}
        )

    return stateful_scan(
        stream, ["key"], _mg, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
