"""Small-file compaction for snapshot tables — the maintenance job
that keeps a 100 TB tier store scannable.

Streaming tiers append minute-grain commits all day; after a week the
1m table is thousands of kilobyte-sized parquet files and every scan
pays one task + one footer read per file.  ``rewrite_data_files`` is
the snapshot-store analogue of Iceberg's procedure of the same name:
read the current version's undersized files, rewrite them as
~target-sized files in ONE distributed job, and commit a new version
that references (untouched big files + rewritten files).  Rows are
bit-identical (pure read→write, no transformation); old versions stay
readable until ``expire_snapshots`` reclaims them — so a mid-compact
crash is invisible (no manifest committed) and a re-run is idempotent
on content.

``plan_compaction`` is the metadata-only planner (first-fit-decreasing
bin packing) — use it to REPORT what a rewrite would do (bins, bytes)
without touching data; the rewrite itself sizes output files by
``repartition(ceil(small_bytes/target))``, which is how distributed
compaction actually packs (per-bin single-file writes would serialize
the job driver-side).

Scale notes: listing + planning is O(|files|) driver metadata; the
rewrite is one Spark job whose shuffle moves only the undersized
files' bytes (the big files never move).  Run it per partition-window
(e.g. yesterday's day-partition) in production so the rewrite job is
bounded regardless of table age.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from timeseriescorrelation_spark.sources.snapshots import (
    _align,
    _fs,
    _manifest,
    _read_files,
    _versions,
    snapshot_write,
)


def plan_compaction(file_sizes: list[tuple[str, int]], target_bytes: int,
                    small_ratio: float = 0.5) -> dict:
    """First-fit-decreasing pack of undersized files into ≤target bins.

    Returns {"bins": [[path, ...], ...], "keep": [path, ...],
    "small_bytes": n}.  Files ≥ small_ratio·target are kept as-is
    (rewriting a nearly-full file buys nothing).  Deterministic:
    files sort by (size desc, path asc); bins fill first-fit."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    thresh = target_bytes * small_ratio
    small = sorted(
        ((p, s) for p, s in file_sizes if s < thresh),
        key=lambda x: (-x[1], x[0]),
    )
    keep = sorted(p for p, s in file_sizes if s >= thresh)
    bins: list[list[str]] = []
    fill: list[int] = []
    for p, s in small:
        for i in range(len(bins)):
            if fill[i] + s <= target_bytes:
                bins[i].append(p)
                fill[i] += s
                break
        else:
            bins.append([p])
            fill.append(s)
    return {
        "bins": bins,
        "keep": keep,
        "small_bytes": sum(s for _, s in small),
    }


def rewrite_data_files(spark: SparkSession, table_path: str,
                       target_bytes: int = 128 * 1024 * 1024,
                       small_ratio: float = 0.5) -> dict:
    """Compact the LATEST version's undersized files into ~target-sized
    ones and commit the result as a new snapshot (operation recorded
    as "overwrite" — the file set changed, the rows did not).

    Returns {"version": new or current, "rewrote": n_small,
    "kept": n_big, "out_files": n}.  No-op (no new version) when
    fewer than two undersized files exist."""
    jvm, fs, _ = _fs(spark, table_path)
    versions = _versions(jvm, fs, table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    cur = versions[-1]
    m = _manifest(jvm, fs, table_path, cur)
    files = m["files"]
    sizes = [
        (f, fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen())
        for f in files
    ]
    plan = plan_compaction(sizes, target_bytes, small_ratio)
    small = [p for b in plan["bins"] for p in b]
    if len(small) < 2:
        return {"version": cur, "rewrote": 0, "kept": len(files),
                "out_files": 0}
    n_out = max(1, math.ceil(plan["small_bytes"] / target_bytes))
    # honor partition specs + schema: partition-directory values must
    # ride INTO the rewritten (flat) files as data columns, or the
    # compaction silently drops them
    packed = _read_files(spark, small, m.get("specs") or {})
    if m.get("schema"):
        from pyspark.sql.types import StructType

        packed = _align(packed, StructType.fromJson(m["schema"]))
    packed = packed.repartition(n_out)
    big = plan["keep"]
    # splice commit: rewrite ONLY the small files; the full-sized ones
    # are carried into the new manifest by reference, never moved
    new_v = snapshot_write(
        packed, table_path, "overwrite", carry_files=big
    )
    out_n = _manifest(jvm, fs, table_path, new_v)["added_files"]
    return {
        "version": new_v,
        "rewrote": len(small),
        "kept": len(big),
        "out_files": out_n,
    }
