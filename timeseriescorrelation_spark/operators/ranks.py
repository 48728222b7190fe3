"""Distributed global ranking — row_number / ntile over a total order
WITHOUT the single-partition WindowExec.

`Window.orderBy(...)` with no partitionBy moves EVERY row to one task:
the classic Spark scale cliff (and the warning the bench treats as a
defect).  The standard distributed answer is the two-pass rank:

1. `repartitionByRange` on the order columns — Spark's range
   partitioner (reservoir sample of the keys) gives sorted,
   roughly-equal partitions;
2. sortWithinPartitions + row_number PER PARTITION (parallel, no
   global window);
3. add each partition's cumulative row-count offset — a P-row
   (P = partition count) driver-paced collect, the same bookkeeping
   class as refresh.py's partition listing: bytes moved to the driver
   are O(P), never O(rows).

ntile is then pure integer arithmetic on (rank, total): with
q = total div n and r = total mod n, SQL ntile gives the first r
buckets q+1 rows and the rest q, so

    bucket(rank) = (rank-1) div (q+1) + 1                 if rank <= r*(q+1)
                   r + (rank - r*(q+1) - 1) div q + 1     otherwise

— bit-identical to the window ntile for any total order, asserted by
tests/test_ranks.py against Spark's own ntile on the same frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.session import local_frame


def global_row_number(df: DataFrame, order_cols: list,
                      out_col: str = "rn",
                      num_partitions: int | None = None):
    """(df + a global 1-based row number over `order_cols`, total row
    count).  `order_cols` is a list of Column or name; include a
    unique tie-break column for a total order.  Two-pass distributed
    rank — no single-partition window.  The total comes free from the
    offset pass (callers feeding ntile_expr need it)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), *cols
    ).sortWithinPartitions(*cols)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # localCheckpoint: the pid->offset map below must be computed on
    # the SAME physical partitioning the row_number runs on (a replan
    # between the two jobs could resample range boundaries)
    with_pid = with_pid.localCheckpoint(eager=True)
    # O(P) driver round-trip: partition sizes -> cumulative offsets.
    sizes = {
        r["_pid"]: r["n"]
        for r in with_pid.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    # offsets ride back as a BROADCAST join, not a P-branch CASE
    # expression — at thousands of partitions the expression tree
    # would dwarf the plan; the join stays O(P) rows
    off_df = local_frame(
        df.sparkSession, offsets or [(0, 0)], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        with_pid.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            out_col,
            F.row_number().over(w) + F.coalesce("_off", F.lit(0)),
        )
        .drop("_pid", "_off")
    )
    return out, acc


def ntile_expr(rank_col, total: int, n: int):
    """SQL-ntile bucket (1..n) from a 1-based global rank and the total
    row count — exact integer remainder handling, no window.  Integer
    division is floor() over longs (exact below 2^53 rows — and a rank
    table beyond that has bigger problems than ntile)."""
    q, r = divmod(int(total), int(n))
    rank = F.col(rank_col) if isinstance(rank_col, str) else rank_col
    if q == 0:
        # fewer rows than buckets: bucket = rank (SQL ntile semantics)
        return rank.cast("int")
    head = F.lit(r * (q + 1))
    return (
        F.when(
            rank <= head, F.floor((rank - F.lit(1)) / F.lit(q + 1))
        )
        .otherwise(
            F.lit(r) + F.floor((rank - head - F.lit(1)) / F.lit(q))
        )
        + F.lit(1)
    ).cast("int")
