"""End-to-end streaming pipeline (SURVEY §2.9; VERDICT r02 #9): ingest
dedup → 1m tier → stateful LOCF as THREE chained AvailableNow stages
with durable checkpoints and parquet hand-offs — the bronze/silver/gold
shape a production deployment runs, not a single-query toy.

Why three queries, not one: Spark disallows arbitrary stateful-operator
chains in one streaming query (flatMapGroupsWithState cannot follow an
aggregation), and the staged form is what survives operations anyway —
each stage has its OWN offsets + state checkpoint, so a kill between
any two stages resumes exactly where it stopped, and each intermediate
table is independently queryable/backfillable.

Resume contract (asserted in tests/test_pipeline_e2e.py): running the
pipeline, killing it (simulated by a partial file drop), dropping more
input, and running it again produces byte-identical gold output to one
batch pipeline over the full input — dedup state, window state, and
LOCF carry state all persist in the checkpoints.

Watermark discipline: one delay drives all three stages.  Stage 1's
watermark bounds the replay-dedup horizon, stage 2's closes 1m windows
(append mode emits only finalized buckets), stage 3's drives LOCF
state eviction.  A caller who needs every window closed at drain time
appends a sentinel row past max(ts) + delay (the tests do exactly
that).

Scale notes: every stage shuffles once on its key — dedup on
(conv_id, metric, turn_idx), the tier on (conv_id, metric, window),
the fill on (conv_id, metric); state sizes are horizon-bounded
(dedup), window-bounded (tier), and O(live series) (fill).  The
parquet hand-offs are bucket-grain after stage 2 (~60× smaller than
raw), so the gold stage reads tiers, never raw turns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriescorrelation_spark.schemas import tier_schema
from timeseriescorrelation_spark.streaming.dedup_stream import stream_dedup
from timeseriescorrelation_spark.streaming.rollup_stream import (
    SERIES_SCHEMA,
    run_available_now,
    stream_rollup_1m,
)
from timeseriescorrelation_spark.streaming.stateful_fill import (
    stream_fill_locf,
)

DEDUP_KEYS = ("conv_id", "metric", "turn_idx")


def tier_to_series(tier: DataFrame) -> DataFrame:
    """1m-tier buckets → the series shape the LOCF fill consumes: the
    bucket's LAST value observed at the bucket timestamp (turn_idx 0 —
    the tier grain has one row per bucket, no intra-ts tie to break)."""
    return tier.select(
        "conv_id",
        "metric",
        F.col("bucket_ts").alias("ts"),
        F.lit(0).alias("turn_idx"),
        F.col("last").alias("value"),
    )


def _bronze_silver(spark: SparkSession, src_dir: str, work_dir: str,
                   watermark: str, silver: bool = True) -> None:
    """Stage 1 (bronze: ingest dedup, replay horizon = watermark) and,
    unless ``silver`` is false, stage 2 (silver: the streaming 1m tier,
    finalized buckets only), each draining under ``work_dir/ckpt``."""
    bronze = os.path.join(work_dir, "bronze")
    ck = os.path.join(work_dir, "ckpt")
    raw = (
        spark.readStream.schema(SERIES_SCHEMA)
        .parquet(src_dir)
        .withWatermark("ts", watermark)
    )
    run_available_now(
        stream_dedup(raw, DEDUP_KEYS), bronze, os.path.join(ck, "bronze")
    )
    if silver:
        deduped = spark.readStream.schema(SERIES_SCHEMA).parquet(bronze)
        run_available_now(
            stream_rollup_1m(deduped, watermark),
            os.path.join(work_dir, "silver"),
            os.path.join(ck, "silver"),
        )


def run_pipeline_once(spark: SparkSession, src_dir: str, work_dir: str,
                      watermark: str = "10 minutes",
                      fill_step: str = "1h") -> dict[str, str]:
    """Drain all currently-available input through the three stages
    (each Trigger.AvailableNow, each with durable offsets under
    ``work_dir``).  Safe to call repeatedly: new source files are
    processed incrementally, previously-emitted rows are never
    re-emitted.  Returns the stage output paths."""
    paths = {n: os.path.join(work_dir, n)
             for n in ("bronze", "silver", "gold")}
    _bronze_silver(spark, src_dir, work_dir, watermark)
    tier = (
        spark.readStream.schema(tier_schema())
        .parquet(paths["silver"])
        .transform(tier_to_series)
        .withWatermark("ts", watermark)
    )
    run_available_now(
        stream_fill_locf(tier, fill_step), paths["gold"],
        os.path.join(work_dir, "ckpt", "gold"),
    )
    return paths


def run_full_pipeline_once(spark: SparkSession, src_dir: str,
                           work_dir: str,
                           watermark: str = "10 minutes",
                           stop_after_stage: int | None = None,
                           ) -> dict[str, str]:
    """The COMPLETE four-stage production pipeline, one drain:

        1. bronze  — ingest dedup (replay horizon = watermark)
        2. silver  — streaming 1m tier (finalized buckets only)
        3. gold 1h — cascade fold silver → materialized 1h tier
        4. gold 1d — cascade fold silver → materialized 1d tier

    Stages 3 and 4 are siblings over the append-only silver tier, not
    a chain, so a stage-3 replay can never reach stage 4.  Each stage
    owns its checkpoint under ``work_dir``, so the pipeline resumes
    exactly where it stopped after a crash BETWEEN stages —
    ``stop_after_stage`` simulates that crash for the chaos test
    (r4 verdict task #8): a run killed after stage j leaves stages
    j+1.. lagging, and the next call must catch them up with no
    double-counts (the stage-3/4 folds are ledger-idempotent) and no
    losses.  The cascade stages are looked up on their module at call
    time, so a caller may wrap them (perfbench traces each as a span).
    Returns the stage output paths."""
    from timeseriescorrelation_spark.streaming import cascade_stream as cs

    paths = {n: os.path.join(work_dir, n)
             for n in ("bronze", "silver", "gold_1h", "gold_1d")}
    ck = os.path.join(work_dir, "ckpt")
    _bronze_silver(spark, src_dir, work_dir, watermark,
                   silver=stop_after_stage != 1)
    if stop_after_stage in (1, 2):
        return paths

    cs.stream_cascade_1h(
        spark, paths["silver"], paths["gold_1h"], os.path.join(ck, "gold_1h")
    )
    if stop_after_stage == 3:
        return paths

    cs.stream_cascade_1d(
        spark, paths["silver"], paths["gold_1d"], os.path.join(ck, "gold_1d")
    )
    return paths
