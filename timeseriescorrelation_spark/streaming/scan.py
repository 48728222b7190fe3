"""One stateful-scan kernel under the streaming twins.

Every event-time stateful twin in this package (corr, cusum, dq, ewma,
pattern, ph, psi, rate, stateful_fill, topk, zscore) is a per-key
``step`` over one micro-batch; `stateful_scan` is the single
`applyInPandasWithState` call that runs it, and this docstring is the
single statement of the contract they share.

Ordering/late-data contract: within a micro-batch a twin processes its
rows in (ts, tie) order — `ordered_live` lexsorts on (ts, turn_idx).
A row at or before the state's last processed
(ts, tie) is late past emission and is dropped: emitted values are
never retracted.  Run with a watermark at least the expected disorder.
The bucketed twins (psi, corr, stateful_fill) order by their own hour /
grid bucket and apply the same rule at that grain: a row under an
already-emitted (or already-open) bucket is dropped.

Replay cutoff: a row is live iff it is the strict lexicographic
successor of the state's last (ts, tie) — ``ts > last_ts`` or
``ts == last_ts and tie > last_idx``.  An at-least-once source that
re-delivers an already-processed file therefore contributes nothing,
while a genuinely new row that shares the last timestamp (a higher
tie) is still emitted.

Eviction: field 0 of every twin's state is its eviction anchor in epoch
µs (its last processed ts, open hour or last grid bucket).  After each
step the kernel sets the EventTimeTimeout to
``max(watermark + 1 ms, anchor + evict_ms)``; once the watermark
passes it, Spark calls the kernel with ``hasTimedOut`` and the state is
removed without emitting.  State is therefore O(live keys), and a key
that reappears after eviction restarts from empty state (a new
segment).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def micros(col: pd.Series) -> np.ndarray:
    """Timestamp column → int64 epoch microseconds."""
    return col.to_numpy().astype("datetime64[us]").view(np.int64)


def ordered_live(pdf: pd.DataFrame, last_ts: int | None,
                 last_idx: int | None):
    """(ts, turn_idx)-ordered rows of ``pdf`` past the replay cutoff →
    (ts_us, turn_idx, pos), where ``pos`` indexes the surviving rows of
    ``pdf`` in processing order."""
    ts_us = micros(pdf["ts"])
    idx = pdf["turn_idx"].to_numpy().astype(np.int64)
    pos = np.lexsort((idx, ts_us))
    ts_us, idx = ts_us[pos], idx[pos]
    if last_ts is not None:
        live = (ts_us > last_ts) | ((ts_us == last_ts) & (idx > last_idx))
        ts_us, idx, pos = ts_us[live], idx[live], pos[live]
    return ts_us, idx, pos


def stateful_scan(stream: DataFrame, keys: list[str], step: Callable,
                  out_schema: str, state_schema: str, evict_ms: int,
                  mode: str = "append") -> DataFrame:
    """Group ``stream`` by ``keys`` and run ``step(key, pdf, state)``
    per key and micro-batch under EventTimeTimeout.

    ``pdf`` is the batch's non-empty parts concatenated (a key with no
    rows is not stepped); ``state`` is the stored tuple or None.  The
    step returns ``(new_state, out)``: a None ``new_state`` keeps the
    stored one, a None ``out`` emits nothing."""

    def _run(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        parts = [p for p in pdfs if len(p)]
        out = None
        if parts:
            new, out = step(
                key,
                pd.concat(parts, ignore_index=True),
                state.get if state.exists else None,
            )
            if new is not None:
                state.update(new)
        if state.exists:
            state.setTimeoutTimestamp(
                max(state.getCurrentWatermarkMs() + 1,
                    state.get[0] // 1_000 + evict_ms)
            )
        if out is not None:
            yield out

    return stream.groupBy(*keys).applyInPandasWithState(
        _run, out_schema, state_schema, mode, "EventTimeTimeout"
    )
