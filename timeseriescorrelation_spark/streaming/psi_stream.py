"""Streaming population-stability (PSI) drift monitor against a fixed
reference histogram: one row per (key, closed hour) scoring ALL values
seen so far, with B+1 integers of carried state per live key.

Why this is exactly the batch answer: `drift.psi_fixed_hourly` derives
each hour's PSI from the cumulative per-bin counts — exact int64s.
Carrying (closed-hour cumulative bins, open-hour bins, open hour) as
integers across micro-batches replays the identical per-bin micro-snap
+ 10-term integer sum, so emitted rows are BIT-EQUAL to batch on any
split (asserted in tests/test_psi_stream.py).

Emission contract: an hour emits when a LATER-hour event of the same
key arrives (hour closure) — identical to the batch operator's
"hours with data" rows minus each key's final (never-closed) hour.
Events under an already-closed hour are late and dropped; ordering
and eviction (anchored on the open hour): see `streaming.scan`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    snap_np,
)
from timeseriescorrelation_spark.streaming.scan import micros, stateful_scan

OUT_SCHEMA = "metric string, hour_ts timestamp, n_total long, psi double"
HOUR_US = 3_600_000_000


def _state_schema(b_n: int) -> str:
    cols = ", ".join(f"c{i} long" for i in range(1, b_n + 1))
    opens = ", ".join(f"o{i} long" for i in range(1, b_n + 1))
    return f"open_hour_us long, {cols}, {opens}"


def _psi_from_counts(counts, b_n):
    n = int(counts.sum())
    u = 0
    for c in counts:
        cp = float(max(int(c), 1))
        t = ((b_n * cp - n) / (b_n * n)) * math.log(b_n * cp / n)
        x = t * 1e6
        # half-away-from-zero, matching Spark F.round
        u += int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))
    return n, u / 1e6


def stream_psi(stream: DataFrame, edges: list[float],
               evict_seconds: int = 7 * 86400) -> DataFrame:
    """stream (metric, ts, value) with a watermark on ts → append
    stream of (metric, hour_ts, n_total, psi) rows at hour closures."""
    edges_c = np.array([int(round(e * SCALE)) for e in edges],
                       dtype=np.int64)
    b_n = len(edges) + 1

    def _drift(key, pdf, st):
        (metric,) = key
        if st is not None:
            open_h = st[0]
            closed = np.array(st[1:1 + b_n], dtype=np.int64)
            opened = np.array(st[1 + b_n:1 + 2 * b_n], dtype=np.int64)
        else:
            open_h, closed = None, np.zeros(b_n, dtype=np.int64)
            opened = np.zeros(b_n, dtype=np.int64)

        rows = []
        ts_us = micros(pdf["ts"])
        vals = pdf["value"].to_numpy(dtype=np.float64)
        order = np.argsort(ts_us, kind="stable")
        ts_us, vals = ts_us[order], vals[order]
        hours = (ts_us // HOUR_US) * HOUR_US
        if open_h is not None:
            live = hours >= open_h
            hours, vals = hours[live], vals[live]
        bins = np.searchsorted(
            edges_c, snap_np(vals, VALUE_DECIMALS), side="left"
        )
        for h in np.unique(hours):
            if open_h is not None and h > open_h:
                closed += opened
                opened[:] = 0
                n, psi = _psi_from_counts(closed, b_n)
                rows.append((open_h, n, psi))
                open_h = int(h)
            elif open_h is None:
                open_h = int(h)
            bc = np.bincount(bins[hours == h], minlength=b_n)
            opened += bc.astype(np.int64)

        new = (
            int(open_h), *[int(c) for c in closed],
            *[int(c) for c in opened],
        )
        if not rows:
            return new, None
        return new, pd.DataFrame(
            {
                "metric": metric,
                "hour_ts": np.array([r[0] for r in rows], dtype=np.int64)
                .astype("datetime64[us]"),
                "n_total": [r[1] for r in rows],
                "psi": [r[2] for r in rows],
            }
        )

    return stateful_scan(
        stream, ["metric"], _drift, OUT_SCHEMA, _state_schema(b_n),
        evict_seconds * 1_000,
    )
