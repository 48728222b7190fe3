"""Materialized-tier refresh: fold a late-arriving delta into an
on-disk tier table, rewriting ONLY the partitions the delta touches.

This is the storage half of exact incremental maintenance
(`rollup.tier_merge` is the compute half): the tier lives as
day-partitioned parquet in upsertable form (standard tier columns +
fkey/lkey packed order keys), and a refresh is

    delta partials  →  touched-day pruned read of the stored tier
                    →  tier_merge  →  dynamic partition overwrite

so a late day of transcripts costs O(delta + touched partitions), not
O(history).  With `partitionOverwriteMode=dynamic`, set on each write
rather than on the shared session conf, Spark replaces exactly the
partitions present in the written DataFrame — untouched day
directories are not rewritten (asserted by file-identity in
tests/test_refresh.py).  On Iceberg the same shape is
`MERGE INTO`/`overwritePartitions` with the manifest pruning the read;
day-partitioned parquet is the jar-free equivalent this sandbox can
execute, and the operator keeps that seam explicit.

The touched-day list is collected to the driver: it is PARTITION
VALUES (≤ a few thousand strings for years of days), the same
metadata any table format's planner materializes — not data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.rollup import (
    rollup_raw_upsertable,
    tier_merge,
)

PART_COL = "day_pt"


def _with_part(tier_df: DataFrame) -> DataFrame:
    return tier_df.withColumn(
        PART_COL, F.date_format("bucket_ts", "yyyy-MM-dd")
    )


def write_tier(series: DataFrame, path: str, tier: str = "1h") -> None:
    """Initial materialization: upsertable tier partials, partitioned
    by day so later refreshes and retention sweeps prune on read."""
    _with_part(rollup_raw_upsertable(series, tier)).write.partitionBy(
        PART_COL
    ).mode("overwrite").parquet(path)


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


_LEDGER_DIR = "_batch_ledger"


def _ledger_path(spark: SparkSession, path: str, batch_id: int):
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.hadoop.fs.Path(
        path, f"{_LEDGER_DIR}/{int(batch_id)}"
    )


def _ledger_has(spark: SparkSession, path: str, batch_id: int) -> bool:
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = _ledger_path(spark, path, batch_id)
    return p.getFileSystem(conf).exists(p)


def _ledger_mark(spark: SparkSession, path: str, batch_id: int) -> None:
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = _ledger_path(spark, path, batch_id)
    fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent())
    fs.create(p, True).close()


def refresh_partials(spark: SparkSession, path: str,
                     partials: DataFrame,
                     batch_id: int | None = None) -> list[str]:
    """Fold UPSERTABLE same-grain partials (standard tier columns +
    fkey/lkey) into the stored tier at `path`, rewriting only the
    touched day partitions — the storage half shared by the batch
    late-delta refresh (refresh_tier) and the streaming
    continuous-aggregate stage (streaming/cascade_stream.py's
    foreachBatch calls this per micro-batch).  A missing path is the
    initial materialization (plain partitioned write).

    `batch_id` (the streaming callers pass their foreachBatch id) arms
    a sink-side ledger: the merge is ADDITIVE, so an at-least-once
    replay of an already-applied batch would double-count it — ids
    recorded under `<path>/_batch_ledger/` are skipped instead.  The
    marker lands after the data rewrite, which narrows the replay
    window to a crash between those two writes on plain parquet; on
    Iceberg/Delta the same ledger rides the snapshot commit itself
    (Delta's txnAppId/txnVersion), making the pair atomic — this keeps
    that seam explicit the way TableIO does for the catalog."""
    if batch_id is not None and _ledger_has(spark, path, batch_id):
        return []
    up = _with_part(partials)
    days = sorted(r[0] for r in up.select(PART_COL).distinct().collect())
    if _path_exists(spark, path):
        if not days:
            return []
        existing = spark.read.parquet(path).where(F.col(PART_COL).isin(days))
        up = _with_part(tier_merge(existing.drop(PART_COL), up.drop(PART_COL)))
    up.write.partitionBy(PART_COL).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    if batch_id is not None:
        _ledger_mark(spark, path, batch_id)
    return days


def refresh_tier(spark: SparkSession, path: str, delta: DataFrame,
                 tier: str = "1h") -> list[str]:
    """Fold `delta` (raw series rows) into the tier at `path`.

    Returns the list of day-partition values rewritten.  Exactness:
    read-back equals the direct rollup of (original ∪ delta) — the
    tier_merge invariant, asserted end-to-end in tests."""
    return refresh_partials(
        spark, path, rollup_raw_upsertable(delta, tier)
    )


def retention_sweep(spark: SparkSession, tier_paths: dict[str, str],
                    ttl_days: dict[str, int | None],
                    frontier_day: str,
                    execute: bool = True) -> list[dict]:
    """Tiered TTL enforcement — the RETENTION half of the retention
    engine: each tier keeps only the trailing `ttl_days[tier]` days
    behind `frontier_day` (None = keep forever), so raw ages out
    first, 1m next, and the 1d tier can live indefinitely — the
    classic hypertable retention ladder.  Returns one report row per
    tier:

        {tier, n_partitions, dropped: [days...], kept_oldest}

    The decision is PARTITION METADATA only: day-partition directory
    names (the same strings any table format's planner materializes),
    never data rows — a sweep over years of history reads zero
    parquet.  Deletion is per-partition directory removal (the
    dynamic-overwrite granularity write_tier/refresh_tier established)
    through the Hadoop FileSystem API, so it works on any FS Spark
    can write.  Idempotent by construction: a second sweep with the
    same frontier finds nothing to drop (asserted in pytest).  On
    Iceberg the same ladder is `expireSnapshots` + partition-predicate
    `DELETE FROM`; this is the jar-free equivalent with the seam
    explicit."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    reports = []
    for tier, path in tier_paths.items():
        ttl = ttl_days.get(tier)
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            reports.append({"tier": tier, "n_partitions": 0,
                            "dropped": [], "kept_oldest": None})
            continue
        days = sorted(
            st.getPath().getName().split("=", 1)[1]
            for st in fs.listStatus(p)
            if st.isDirectory()
            and st.getPath().getName().startswith(PART_COL + "=")
        )
        if ttl is None:
            cut = None
            drop = []
        else:
            import datetime as _dt

            f = _dt.date.fromisoformat(frontier_day)
            cut = (f - _dt.timedelta(days=int(ttl))).isoformat()
            drop = [d for d in days if d < cut]
        if execute:
            for d in drop:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(
                        path, f"{PART_COL}={d}"
                    ),
                    True,
                )
        kept = [d for d in days if d not in set(drop)]
        reports.append({
            "tier": tier,
            "n_partitions": len(days),
            "dropped": drop,
            "kept_oldest": kept[0] if kept else None,
        })
    return reports
