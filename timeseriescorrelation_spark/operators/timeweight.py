"""Time-integral aggregates over irregular event-time series: the
time-weighted average, heartbeat/liveness coverage, and state-duration
timeline (the TimescaleDB-toolkit `time_weight` / `heartbeat_agg` /
`state_agg` hyperfunction family, re-expressed as one-shuffle Spark
window+agg plans).

Plain `avg` over an irregular series over-weights bursts: ten readings
in one minute and one reading for the rest of the hour average as if
the burst lasted 10/11 of the hour.  The time-weighted forms weight
each observation by how long it HELD (LOCF segment length), which is
the correct aggregate for gauge metrics sampled on change.

Segment semantics (shared by all three operators): each point's value
holds from its timestamp until the next point in the same partition
key, CLAMPED to the end of the point's own bucket.  A gap that crosses
a bucket boundary contributes only up to that boundary — no carry-in
to later buckets (consistent with the engine's bounded gap-fill
philosophy: `gapfill.make_grid_bounded`).  Buckets with no points emit
no row.  The last point of a series holds until its bucket ends
(heartbeat additionally caps every segment at the heartbeat interval).

Cross-engine determinism: all segment arithmetic is integer epoch
microseconds, and `time_weighted_avg(value_decimals=k)` snaps values
to integers (`round(v*10^k)`) so the weighted sum is an exact BIGINT
in both Spark and DuckDB — both engines then divide IDENTICAL numbers
and the final 6dp rounding cannot flip (same hazard class as
`analytics._anomaly_moments`; see the round-2 midpoint-rounding
lesson).  With `value_decimals=None` the sum is floating and rounded
to 6dp best-effort.

Scale notes (100 TB): one window pass partitioned by the series key =
one shuffle; the following groupBy keys are a SUPERSET of the window
partition keys, so the window's hash partitioning already satisfies
the aggregation's clustering and Catalyst plans NO second exchange
(asserted in tests/test_plans.py).  Memory per task is O(1) — `lead`
needs a single-row lookahead, no frame buffer.  Skewed conversations
shard by the same salting guidance as every per-conv window
(operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap
from timeseriescorrelation_spark.functions.timeutil import epoch_us
from timeseriescorrelation_spark.operators.rollup import TRUNC_US


def _bucket_end_us(ts: Column, trunc: str) -> Column:
    """Exclusive end of `ts`'s trunc bucket, in epoch microseconds.

    Fixed-width buckets in the session's UTC timezone (timestamps are
    TIMESTAMP_NTZ; a civil-time/DST-aware variant would use the
    calendar stepping of operators/intervals.py instead).
    """
    return epoch_us(F.date_trunc(trunc, ts)) + F.lit(TRUNC_US[trunc])


def _with_segment(df: DataFrame, part_keys: list[str], trunc: str,
                  order_tiebreak: str = "turn_idx") -> DataFrame:
    """Append ts_us / seg_end_us: LOCF segment clamped to bucket end.

    seg_end = min(next point's ts within the partition, end of this
    point's bucket); duplicate timestamps get a zero-length segment
    for the earlier row (deterministic via the tiebreak column, which
    both engines order by).
    """
    w = Window.partitionBy(*part_keys).orderBy(
        epoch_us(F.col("ts")), order_tiebreak
    )
    ts_us = epoch_us(F.col("ts"))
    end = _bucket_end_us(F.col("ts"), trunc)
    nxt = F.lead(ts_us).over(w)
    return df.select(
        "*",
        ts_us.alias("_ts_us"),
        F.least(F.coalesce(nxt, end), end).alias("_seg_end_us"),
    )


def time_weighted_avg(series: DataFrame, trunc: str = "hour",
                      value_decimals: int | None = None) -> DataFrame:
    """Per (conv_id, metric, bucket): LOCF time-weighted mean of value.

    Output: conv_id, metric, bucket_ts, n_pts, dur_s (total held time
    in the bucket, seconds), twa (6dp).  `dur_s` < bucket width when
    the first point arrives mid-bucket (no carry-in).

    value_decimals=k makes the weighted sum exact: values snap to
    round(v*10^k) BIGINT, so sum(v_i*dt) is integer arithmetic and
    bit-identical across engines (int64-safe while
    max|v|*10^k * bucket_us < 2^63: at k=2 and hourly buckets that is
    |v| < ~2.5e7, far above any metric here).
    """
    seg = _with_segment(series, ["conv_id", "metric"], trunc)
    dt = F.col("_seg_end_us") - F.col("_ts_us")
    if value_decimals is None:
        num = F.sum(F.col("value") * dt)
        den = F.sum(dt)
        twa = F.round(num / den, 6)
    else:
        scale = 10 ** value_decimals
        v_i = snap("value", value_decimals)
        num = F.sum(v_i * dt)
        den = F.sum(dt)
        twa = F.round(num / (F.lit(float(scale)) * den), 6)
    return (
        seg.groupBy(
            "conv_id", "metric",
            F.date_trunc(trunc, F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count("*").alias("n_pts"),
            F.round(F.sum(dt) / 1e6, 6).alias("dur_s"),
            twa.alias("twa"),
        )
    )


def heartbeat_coverage(beats: DataFrame, interval_seconds: int,
                       trunc: str = "day") -> DataFrame:
    """Liveness coverage from heartbeat events (`heartbeat_agg`).

    A beat at t proves liveness over [t, t+interval).  Per (conv_id,
    bucket): covered_s = union length of those windows inside the
    bucket = sum of min(next beat - t, interval, bucket end - t) —
    overlapping windows never double-count because each segment is
    truncated at the next beat.  uptime_pct is covered / bucket width.

    Input needs (conv_id, ts, turn_idx); all arithmetic is integer µs,
    so the output is bit-identical across engines.
    """
    interval_us = int(interval_seconds) * 1_000_000
    seg = _with_segment(beats, ["conv_id"], trunc)
    covered = F.least(
        F.col("_seg_end_us") - F.col("_ts_us"), F.lit(interval_us)
    )
    width = TRUNC_US[trunc]
    return (
        seg.groupBy(
            "conv_id", F.date_trunc(trunc, F.col("ts")).alias("bucket_ts")
        )
        .agg(
            F.count("*").alias("n_beats"),
            F.round(F.sum(covered) / 1e6, 6).alias("covered_s"),
            F.round(F.sum(covered) * 100.0 / F.lit(float(width)), 6).alias(
                "uptime_pct"
            ),
        )
    )


def state_durations(events: DataFrame, trunc: str = "day") -> DataFrame:
    """Time spent in each `state` per conversation (`state_agg`).

    The state holds from its event until the next event of the SAME
    conversation (any state), clamped to the event's bucket end.  Per
    (conv_id, state): total_s = held time summed across the whole
    series, n_entries = number of runs (transitions INTO the state,
    counting the first event), n_events = rows.  Integer-µs exact.
    """
    w = Window.partitionBy("conv_id").orderBy(
        epoch_us(F.col("ts")), "turn_idx"
    )
    seg = _with_segment(events, ["conv_id"], trunc)
    prev_state = F.lag("state").over(w)
    entry = F.when(
        prev_state.isNull() | (prev_state != F.col("state")), 1
    ).otherwise(0)
    seg = seg.select("*", entry.alias("_entry"))
    dt = F.col("_seg_end_us") - F.col("_ts_us")
    return (
        seg.groupBy("conv_id", "state")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_entry").cast("long").alias("n_entries"),
            F.round(F.sum(dt) / 1e6, 6).alias("total_s"),
        )
    )
