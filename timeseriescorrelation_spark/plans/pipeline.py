"""Full engine DAG (SURVEY §3.2): transcripts → series → gap-fill →
chunks ∥ tier cascade → correlation report, every stage check-pointed
through the manifest for idempotent mid-tier resume.

Stage order & storage layout under ``root``:

    series/      (conv_id, metric, ts, turn_idx, value)      [stage series]
    filled_1m/   dense 1-minute LOCF grid                    [stage filled_1m]
    agg_1m/ agg_1h/ agg_1d/  tier tables                     [stages agg_*]
    chunks/      Gorilla blobs per (conv_id, metric, day)    [stage chunks]
    manifest/    lineage + metrics checkpoint

Cross-conversation correlation aligns series on RELATIVE time
(minutes/hours since each conversation's first turn): conversations are
disjoint in wall-clock, so correlating their dynamics only makes sense
on a shared relative grid.  ``align_relative`` produces exactly-m-step
vectors for every conversation that lasted ≥ m steps.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.chunks import encode_chunks
from timeseriescorrelation_spark.operators.correlation import corr_report
from timeseriescorrelation_spark.operators.gapfill import fill_locf
from timeseriescorrelation_spark.operators.manifest import run_stage
from timeseriescorrelation_spark.operators.rollup import rollup_raw, rollup_tier
from timeseriescorrelation_spark.operators.series import derive_series


FILL_STEP = "1m"
CHUNK = "day"
CORR_METRIC = "token_len"
CORR_THETA = 0.9
CORR_STEPS = 64  # relative grid length m


@dataclass
class PipelineConfig:
    run_id: str = "run0"
    n_parts: int = 64
    stages: tuple = ("series", "filled_1m", "agg_1m", "agg_1h", "agg_1d", "chunks")


def align_relative(
    filled: DataFrame, metric: str, m: int, step_seconds: int
) -> DataFrame:
    """Dense filled grid → relative-time aligned vectors input: for each
    conv with ≥ m grid steps, keep exactly steps 0..m-1 since its first
    grid point.  Output (series_id, grid_ts, value) where grid_ts is the
    synthetic relative step index as a timestamp base-2000 epoch (any
    shared monotone axis works — build_vectors only sorts by it)."""
    s = filled.where(F.col("metric") == metric)
    w = Window.partitionBy("conv_id")
    first_ts = F.min("grid_ts").over(w)
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    idx = (
        (epoch_us(F.col("grid_ts")) - epoch_us(first_ts))
        / F.lit(int(step_seconds * 1e6))
    ).cast("long")
    s = s.withColumn("step", idx).where(F.col("step") < m)
    counts = s.groupBy("conv_id").agg(F.count("*").alias("n"))
    full = counts.where(F.col("n") == m).select("conv_id")
    return (
        s.join(full, "conv_id", "left_semi")
        .select(
            F.col("conv_id").alias("series_id"),
            F.timestamp_seconds(F.lit(946684800) + F.col("step") * 60).alias(
                "grid_ts"
            ),
            "value",
        )
    )


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline; returns stage outputs."""
    cfg = cfg or PipelineConfig()
    out: dict[str, DataFrame] = {}

    def stage(name: str, input_df: DataFrame, fn) -> DataFrame:
        return run_stage(
            spark, root, cfg.run_id, name, input_df, fn,
            n_parts=cfg.n_parts,
        )

    def dep(name: str) -> DataFrame:
        """Upstream input for a stage: this run's output if the stage
        ran, else the previously-materialized stage directory — so a
        --stages subset (the resume use-case: re-run only downstream
        tiers) works without recomputing upstream."""
        if name in out:
            return out[name]
        import os

        path = os.path.join(root, name)
        try:
            return spark.read.parquet(path).drop("part_key")
        except Exception as e:  # path missing -> actionable message
            raise ValueError(
                f"stage subset {cfg.stages} needs upstream '{name}', "
                f"which neither ran this invocation nor exists at "
                f"{path}; include '{name}' in --stages or point --root "
                f"at a run that materialized it"
            ) from e

    if "series" in cfg.stages:
        out["series"] = stage("series", transcripts, derive_series)

    if "filled_1m" in cfg.stages:
        out["filled_1m"] = stage(
            "filled_1m", dep("series"),
            lambda df: fill_locf(df, FILL_STEP),
        )

    if "agg_1m" in cfg.stages:
        out["agg_1m"] = stage(
            "agg_1m", dep("series"), lambda df: rollup_raw(df, "1m")
        )
    if "agg_1h" in cfg.stages:
        out["agg_1h"] = stage(
            "agg_1h", dep("agg_1m"), lambda df: rollup_tier(df, "1h")
        )
    if "agg_1d" in cfg.stages:
        out["agg_1d"] = stage(
            "agg_1d", dep("agg_1h"), lambda df: rollup_tier(df, "1d")
        )

    if "chunks" in cfg.stages:
        out["chunks"] = stage(
            "chunks", dep("series"), lambda df: encode_chunks(df, CHUNK)
        )

    if "corr" in cfg.stages:
        aligned = align_relative(
            dep("filled_1m"), CORR_METRIC, CORR_STEPS, 60
        )
        report, counters = corr_report(aligned, CORR_THETA)
        out["corr"] = report
        out["corr_counters"] = counters  # type: ignore[assignment]

    return out
