"""Structured Streaming surface (SURVEY §2.9, tier-2): the 1m tier as a
streaming windowed aggregate with watermarked late-data handling, plus
conversation sessionization via session_window (works in batch too).

The streaming 1m tier is the SAME fold as the batch `rollup_raw`
(`operators.rollup.tier_fold`) — `min_by/max_by` on the packed
(ts, turn_idx) key keep first/last deterministic under out-of-order
arrival, exactly like the batch path.  Higher tiers re-aggregate
closed 1m buckets (`streaming/cascade_stream.py`).

Scale notes: state per key = one running aggregate per
(conv_id, metric, window); the watermark bounds state retention —
windows older than (max event time - delay) are finalized and evicted.
Skewed conversations do not skew state (state is per window, not per
turn).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SERIES_SCHEMA = (
    "conv_id string, metric string, ts timestamp, "
    "turn_idx int, value double"
)


def read_series_stream(spark: SparkSession, src_dir: str,
                       max_files: int = 16) -> DataFrame:
    """File-source stream of series parquet (conv_id, metric, ts,
    turn_idx, value) — the test/demo source; production would be Kafka
    or an Iceberg incremental read behind the same schema."""
    return (
        spark.readStream.schema(SERIES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def stream_rollup_1m(stream: DataFrame,
                     watermark: str = "10 minutes") -> DataFrame:
    """Streaming 1-minute tier: watermarked tumbling-window aggregate
    with the batch tier's exact output schema."""
    from timeseriescorrelation_spark.operators.rollup import (
        packed_order_key,
        tier_fold,
    )

    return tier_fold(stream.withWatermark("ts", watermark), "1 minute",
                     packed_order_key("minute"))


def run_available_now(result: DataFrame, out_dir: str,
                      checkpoint_dir: str, mode: str = "append") -> None:
    """Drain all currently-available input through the streaming query
    into parquet and stop (Trigger.AvailableNow) — batch-like semantics
    with real streaming state + watermark eviction."""
    q = (
        result.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize(df: DataFrame, gap: str = "30 minutes",
               key_cols: tuple = ("conv_id",)) -> DataFrame:
    """Gap-based sessions per key (session_window; batch + streaming).

    Output: (key..., session_start, session_end_ts, n_events) where
    session_end_ts is the LAST EVENT's ts (not start+gap), so the same
    sessions are expressible as a gaps-and-islands SQL oracle.  An
    event at exactly prev_ts + gap opens a new session (session_window
    spans are half-open [ts, ts+gap))."""
    return (
        df.groupBy(*key_cols, F.session_window("ts", gap).alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end_ts"),
            F.count("*").alias("n_events"),
        )
        .drop("sw")
    )
