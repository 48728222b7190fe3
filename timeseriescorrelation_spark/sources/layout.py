"""Z-order clustered file layout (Morton curve) — multi-column data
skipping for the lake tables.

Partitioning prunes on ONE leading dimension; a 100 TB scan filtered
on BOTH conv_id and day (the resume/backfill shape: "re-read one
conversation's one day") still touches every file of that day's
partition.  Z-ordering interleaves the bits of several columns into
one Morton key and range-partitions + sorts the write by it, so rows
close in EVERY dimension land in the SAME few files; the parquet
row-group/file min-max stats then skip the rest of the scan.  This is
exactly what Delta's `OPTIMIZE ... ZORDER BY` and Iceberg's
`sort_order(z-order)` do on the production stack; this module is the
jar-free, plain-parquet equivalent the sandbox can execute and assert.

Bit budget: each column contributes its value's low `bits` bits
(columns must be pre-scaled to a small ordinal domain — e.g. day
number, bucketed id); interleave is LSB-first so the key preserves
locality at every prefix length.  The key is a plain int64 column
holding at most 63 bits total: 16 bits × up to 3 columns at the
default; 4 columns need bits ≤ 15 (zorder_key rejects
n_cols × bits > 63).

Scale notes (100 TB): the write costs ONE repartitionByRange shuffle
(range boundaries from Spark's reservoir sample of the key) +
in-partition sort — the same price as any sorted write; reads get
multi-dimension file pruning forever after.  The clustering assertion
in tests/test_layout.py measures it directly: a (conv, day) point
predicate touches 1 file z-ordered vs most files in arrival order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.session import local_frame


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton-interleave the low `bits` bits of each ordinal column
    into one int64 (LSB-first round-robin).  Columns are masked into
    [0, 2^bits) first — callers pass small ordinals (day numbers,
    modulo-bucketed ids), not raw hashes, so range predicates keep
    their locality."""
    n = len(cols)
    if not 1 <= n <= 4 or n * bits > 63:
        raise ValueError("zorder_key: need 1..4 columns, n*bits <= 63")
    mask = (1 << bits) - 1
    vals = [c.cast("long").bitwiseAND(F.lit(mask)) for c in cols]
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, v in enumerate(vals):
            bit = F.shiftright(v, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def write_zordered(df: DataFrame, path: str, cols: list[str | Column],
                   num_files: int = 16, bits: int = 16) -> None:
    """Write `df` as parquet clustered on the Morton key of `cols`.

    repartitionByRange gives contiguous, balanced key ranges per file
    (reservoir-sampled boundaries); sortWithinPartitions tightens each
    file's min-max stats to its own range."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    (
        df.withColumn("_zkey", zorder_key(cs, bits))
        .repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def zone_map_report(spark, path: str, column: str):
    """One-row DataFrame (n_files, n_row_groups, global_min,
    global_max, avg_overlap_frac, point_hit_frac): how PRUNABLE a
    parquet dataset is on `column`, read straight from the footer
    min/max statistics (the zone maps every engine — Spark, Trino,
    DuckDB — consults before touching data).

    - avg_overlap_frac: mean over row groups of the fraction of OTHER
      row groups whose [min, max] range overlaps it — 0 on perfectly
      sorted/z-ordered data (disjoint ranges), → 1 on arrival-order
      writes where every group spans the whole domain;
    - point_hit_frac: Σ group_width / (n_groups · global_width) — the
      expected fraction of row groups a uniform equality predicate
      must read; the direct cost model for data skipping.

    Driver-side METADATA only (O(row groups) footer reads, zero data
    bytes) — the same class as refresh.py's partition listing.  Both
    fractions are exact integer-ratio computations on the collected
    stats; numbers assume an orderable numeric/temporal column."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    ranges: list[tuple[int, int]] = []
    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"),
                   recursive=True)
    )
    for f in files:
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == column and col.statistics:
                    st = col.statistics
                    if st.has_min_max:
                        ranges.append((st.min, st.max))
    n = len(ranges)
    if n == 0:
        return local_frame(
            spark, [(len(files), 0, None, None, None, None)],
            "n_files long, n_row_groups long, global_min double, "
            "global_max double, avg_overlap_frac double, "
            "point_hit_frac double",
        )
    gmin = min(lo for lo, _ in ranges)
    gmax = max(hi for _, hi in ranges)
    overlaps = 0
    for i, (lo, hi) in enumerate(ranges):
        for j, (lo2, hi2) in enumerate(ranges):
            if i != j and lo <= hi2 and lo2 <= hi:
                overlaps += 1
    avg_overlap = (
        overlaps / (n * (n - 1)) if n > 1 else 0.0
    )
    width = float(gmax - gmin) if gmax > gmin else 0.0
    point_hit = (
        sum(float(hi - lo) for lo, hi in ranges) / (n * width)
        if width > 0 else 1.0
    )
    return local_frame(
        spark,
        [(len(files), n, float(gmin), float(gmax),
          round(avg_overlap, 6), round(point_hit, 6))],
        "n_files long, n_row_groups long, global_min double, "
        "global_max double, avg_overlap_frac double, "
        "point_hit_frac double",
    )
