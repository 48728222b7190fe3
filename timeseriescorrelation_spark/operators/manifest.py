"""Checkpoint manifest: per-partition lineage + metrics, idempotent
resume mid-tier (SURVEY S5/J6, BASELINE.json:6 "every stage emits
per-partition lineage + metrics to a checkpoint manifest so runs resume
idempotently mid-retention-tier").

Design:

- ``part_key`` is a *stable logical partition*: pmod(xxhash64(conv_id),
  n_parts) — independent of Spark's physical partitioning, so resume
  survives cluster-size changes (N vs 4N executors).
- Stage outputs are written parquet ``partitionBy(part_key)`` with
  dynamic partition overwrite: re-running a part overwrites exactly its
  directory with identical bytes → crash between data-write and
  manifest-append is safe (the re-run converges, never duplicates).
- ``content_hash`` is an order-insensitive bit_xor of xxhash64 over all
  output columns — cheap, associative, shuffle-order independent.  A
  part whose input rows all map to no output row is still recorded, as
  ``output_rows = 0`` with ``content_hash = "0"``, so resume skips it.
- Resume: the driver collects the manifest's completed part keys for
  (run_id, stage) as a list of ints (one small job) and filters the
  input with ``part_key NOT IN (...)`` (J6) — no join, no broadcast.
- Every read names its schema (the manifest's, or the stage plan's),
  so no read runs a schema-inference job.  The manifest rows of one
  stage call are built on the driver and appended as one file.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriescorrelation_spark.schemas import manifest_schema

MANIFEST_TABLE = "manifest"


def with_part_key(df: DataFrame, n_parts: int = 64) -> DataFrame:
    return df.withColumn(
        "part_key",
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_parts)).cast("int"),
    )


def content_hash(df: DataFrame, group_cols: list[str]) -> DataFrame:
    data_cols = [c for c in df.columns if c not in group_cols]
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in data_cols])
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("output_rows"),
        F.bit_xor(row_hash).alias("_h"),
    ).withColumn("content_hash", F.conv(F.col("_h").cast("string"), 10, 16)).drop("_h")


class ManifestStore:
    """Parquet/Iceberg-backed manifest of completed (run_id, stage,
    part_key) units."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, MANIFEST_TABLE)

    def _exists(self) -> bool:
        """Scheme-agnostic existence probe via the Hadoop FileSystem API
        — NOT os.path.exists, which is always False for s3://, hdfs://,
        abfs:// roots on a real cluster and would make resume silently
        never engage (every run recomputing and re-appending all
        parts).  No Spark job; one namenode/object-store HEAD."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()  # type: ignore[union-attr]
        )
        return bool(fs.exists(hpath))

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], manifest_schema())
        return self.spark.read.schema(manifest_schema()).parquet(self.path)

    def done_parts(self, run_id: str, stage: str) -> list[int]:
        """Completed part keys of (run_id, stage), sorted: one small job
        (the manifest holds one row per committed part), none before
        the first commit."""
        if not self._exists():
            return []
        rows = (
            self.read()
            .where((F.col("run_id") == run_id) & (F.col("stage") == stage))
            .select("part_key")
            .collect()
        )
        return sorted({int(r["part_key"]) for r in rows})

    def append(self, rows: list[tuple]) -> None:
        """Append manifest rows (``manifest_schema`` order) as one file:
        a local DataFrame has one partition per core, and every later
        stage call re-reads each tiny file it would leave."""
        (
            self.spark.createDataFrame(rows, manifest_schema())
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )


def run_stage(
    spark: SparkSession,
    root: str,
    run_id: str,
    stage: str,
    input_df: DataFrame,
    fn,
    n_parts: int = 64,
) -> DataFrame:
    """Run ``fn(todo_df) -> DataFrame`` over the not-yet-done logical
    partitions, write output partitioned by part_key (dynamic
    overwrite), append manifest rows.  Returns the full stage output
    (done + new) read back from storage."""
    store = ManifestStore(spark, root)
    out_path = os.path.join(root, stage)

    inp = with_part_key(input_df, n_parts)
    todo = inp.where(~F.col("part_key").isin(store.done_parts(run_id, stage)))
    out = with_part_key(fn(todo.drop("part_key")), n_parts)
    # Built lazily: its schema comes from analysis alone and pins every
    # read of the stage directory below (no schema-inference job).
    schema = out.schema

    # One job gives the per-part input counts (<= n_parts rows) and
    # answers "anything left to do?": a fully resumed stage stops here.
    input_rows = {
        r["part_key"]: r["count"]
        for r in todo.groupBy("part_key").count().collect()
    }
    if input_rows:
        (
            out.repartition("part_key")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_key")
            .parquet(out_path)
        )
        written = spark.read.schema(schema).parquet(out_path).where(
            F.col("part_key").isin(list(input_rows))
        )
        hashes = {
            r["part_key"]: (r["output_rows"], r["content_hash"])
            for r in content_hash(written, ["part_key"]).collect()
        }
        now = datetime.now()
        rows = []
        for part, n_in in sorted(input_rows.items()):
            # a part whose rows all map to no output is done too
            n_out, h = hashes.get(part, (0, "0"))
            rows.append((run_id, stage, str(part), n_in, n_out, h,
                         {"points_out": n_out}, now))
        store.append(rows)

    return spark.read.schema(schema).parquet(out_path).drop("part_key")
