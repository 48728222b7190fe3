"""spark-submit job entry for the full engine DAG (BASELINE.json:14
"runs via spark-submit --py-files on multi-executor clusters").

Local smoke (single JVM):
    python scripts/run_pipeline.py --input /root/testdata/sf0.001 \
        --root /tmp/tsc_run --stages series,agg_1m,agg_1h,agg_1d

Cluster (see scripts/submit_example.sh for the packaging step):
    spark-submit --py-files /tmp/tsc_spark.zip scripts/run_pipeline.py \
        --input ice.transcripts --root s3://bucket/tsc --run-id prod1

``--input`` is either a directory containing transcripts/events parquet
(the sandbox layout) or a catalog-qualified Iceberg table name — the
TableIO seam resolves it.  Re-running with the same --root/--run-id
resumes idempotently from the checkpoint manifest (the driver reads
the completed part_keys and filters them out of the stage input).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load_transcripts(spark, inp: str):
    import re

    from pyspark.sql import functions as F

    # catalog-qualified table name (ice.transcripts, cat.db.tbl): a
    # strict identifier match, so a typo'd PATH (which also contains
    # dots) still falls through to the filesystem branch and fails with
    # file-not-found instead of a confusing catalog error.  TableIO
    # (sources/tableio.py) is the seam for engine code; this CLI keeps
    # the same routing for its single free-form --input argument.
    if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)+", inp):
        return spark.read.table(inp)
    t = os.path.join(inp, "transcripts.parquet")
    if os.path.exists(t):
        return spark.read.parquet(t)
    # sandbox fallback: derive the transcript shape from events.parquet
    # exactly like the driver queries do (FIXTURES.md §5)
    from pyspark.sql import Window

    e = spark.read.parquet(os.path.join(inp, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.col("event_type"),
            F.expr("repeat(' tok', cast(pmod(event_id, 5) as int))"),
        ).alias("text"),
        F.when(F.col("event_type") == "error", F.lit("bash")).alias("tool"),
        F.col("ts"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet dir or Iceberg table of transcripts")
    ap.add_argument("--root", required=True,
                    help="output/checkpoint root (stage dirs + manifest)")
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--n-parts", type=int, default=64)
    ap.add_argument(
        "--stages",
        default="series,filled_1m,agg_1m,agg_1h,agg_1d,chunks",
        help="comma-separated stage subset, in dependency order",
    )
    args = ap.parse_args()

    from timeseriescorrelation_spark.plans.pipeline import (
        PipelineConfig,
        run,
    )
    from timeseriescorrelation_spark.session import get_spark

    spark = get_spark(app_name=f"tsc-pipeline-{args.run_id}")
    cfg = PipelineConfig(
        run_id=args.run_id,
        n_parts=args.n_parts,
        stages=tuple(s.strip() for s in args.stages.split(",") if s.strip()),
    )
    out = run(spark, _load_transcripts(spark, args.input), args.root, cfg)
    for name in cfg.stages:
        if name in out:
            print(f"stage {name}: {out[name].count()} rows", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
