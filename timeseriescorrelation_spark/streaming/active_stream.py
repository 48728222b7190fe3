"""Streaming trailing-window distinct actives — the continuous form of
operators/activity.trailing_distinct (exact, not sketched).

Shape: each arriving event explodes into the ≤W hourly buckets its
actor-activity covers (the batch operator's collapse-then-explode,
applied per event), then TWO chained stateful operators finish it:

1. ``dropDuplicatesWithinWatermark`` on (keys, actor, bucket) — the
   first event that makes an actor active in a bucket wins; replays
   and further activity inside the same bucket add nothing.  State is
   one key per (actor, covered bucket) inside the watermark horizon.
2. a windowed ``count(*)`` per (keys, bucket) over those first-arrival
   rows — count of DISTINCT actors by construction (no streaming
   count-distinct needed, which Spark does not support).

The watermark rides on the EXPLODED bucket timestamp: a bucket trails
its event by up to W−1 hours, so accepting events up to
``lateness_hours`` late needs a bucket-time delay of
lateness + W − 1 hours (derived in stream_trailing_active).  Spark 4
propagates that watermark through the dedup into the aggregation, so
append mode emits each bucket's final count exactly once, when the
watermark passes bucket end.

Scale notes: state and shuffle are both keyed by (keys, actor,
bucket) — W× the active-actor cardinality inside the horizon,
independent of event rate (duplicates die at the dedup).  The count
aggregation's state is |buckets in horizon| rows.  Unlike the batch
operator there is no global-max clip: a stream has no "max ts"; a
future bucket's trailing window fills as its hours arrive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_trailing_active(stream: DataFrame, keys: list[str] | None = None,
                           window_hours: int = 24,
                           lateness_hours: int = 2) -> DataFrame:
    """Watermarked event stream → (keys..., bucket_ts, n_active) with
    n_active = exact distinct actors active in (bucket − W, bucket].

    Append-mode ready: rows emit once per closed bucket.  Events later
    than ``lateness_hours`` may undercount their buckets — the
    standard streaming-exactness trade; the batch operator is the
    backfill."""
    keys = keys or ["metric"]
    hour = F.date_trunc("hour", F.col("ts"))
    covered = stream.select(
        *keys, F.col("conv_id").alias("_actor"),
        F.explode(
            F.sequence(
                hour,
                hour + F.expr(f"INTERVAL {window_hours - 1} HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket_ts"),
    )
    delay = int(lateness_hours) + int(window_hours) - 1
    firsts = covered.withWatermark(
        "bucket_ts", f"{delay} hours"
    ).dropDuplicatesWithinWatermark([*keys, "_actor", "bucket_ts"])
    return (
        firsts.groupBy(*keys, F.window("bucket_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(*keys, F.col("window.start").alias("bucket_ts"),
                "n_active")
    )
