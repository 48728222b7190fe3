from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.manifest import ManifestStore
from timeseriescorrelation_spark.plans.pipeline import PipelineConfig, run
from timeseriescorrelation_spark.schemas import manifest_schema


def delete_stage_parts(store: ManifestStore, run_id: str, stage: str,
                       keep_frac: float) -> None:
    """Simulate a crash mid-stage: keep only a fraction of (run_id,
    stage)'s manifest rows.  The kept rows are collected before the
    overwrite deletes the files they were read from."""
    k = max(2, round(1.0 / max(keep_frac, 1e-9)))
    kept = store.read().where(
        ~((F.col("run_id") == run_id) & (F.col("stage") == stage))
        | (F.pmod(F.col("part_key").cast("long"), F.lit(k)) == 0)
    ).collect()
    store.spark.createDataFrame(kept, manifest_schema()).write.mode(
        "overwrite"
    ).parquet(store.path)


def _tier_pdf(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )


def test_pipeline_and_resume(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "warehouse")
    cfg = PipelineConfig(run_id="r1", n_parts=16)

    out1 = run(spark, tiny_transcripts, root, cfg)
    golden = {t: _tier_pdf(out1[t]) for t in ("agg_1m", "agg_1h", "agg_1d")}
    store = ManifestStore(spark, root)
    m1 = store.read().toPandas()
    assert set(m1["stage"]) == set(cfg.stages)
    assert (m1["output_rows"] > 0).any()

    # --- simulate a crash mid-tier: drop half of agg_1h's manifest rows
    delete_stage_parts(store, "r1", "agg_1h", keep_frac=0.5)
    n_after_delete = len(store.read().toPandas())
    assert n_after_delete < len(m1)

    out2 = run(spark, tiny_transcripts, root, cfg)
    for t in ("agg_1m", "agg_1h", "agg_1d"):
        redone = _tier_pdf(out2[t])
        pd.testing.assert_frame_equal(redone, golden[t], check_dtype=False)

    # --- complete manifest → zero new work: manifest row count stable
    m2 = store.read().toPandas()
    m3_before = len(m2)
    run(spark, tiny_transcripts, root, cfg)
    m3 = store.read().toPandas()
    assert len(m3) == m3_before


def test_manifest_lineage_content(spark, tiny_transcripts, tmp_path):
    root = str(tmp_path / "wh2")
    cfg = PipelineConfig(run_id="rX", n_parts=8, stages=("series", "agg_1m"))
    run(spark, tiny_transcripts, root, cfg)
    m = ManifestStore(spark, root).read().toPandas()
    series_rows = m[m.stage == "series"]
    # lineage: input rows per part equal transcripts rows per part
    assert series_rows["input_rows"].sum() == tiny_transcripts.count()
    assert (series_rows["content_hash"].str.len() > 0).all()
    assert all(r["points_out"] == o for r, o in
               zip(series_rows["metrics"], series_rows["output_rows"]))
