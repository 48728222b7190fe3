"""Slowly-changing-dimension (type 2) history build from a change log —
the standard warehouse derivation: collapse each key's CONSECUTIVE runs
of equal attribute values into validity intervals

    (keys..., attrs..., valid_from, valid_to, is_current, n_rows)

with valid_to = the next version's valid_from (half-open intervals that
tile the key's timeline exactly) and NULL/is_current on the last one.

Shape: one shuffle keyed by the dimension key; two cumulative windows
on the SAME (keys, ts, tie) sort (change flag via lag, version id via
running sum) → one hash-agg per version → one lead window on the
collapsed table (|versions| rows, far smaller than the log).  No
self-joins, no driver round-trips.

Scale notes (100 TB): everything is partitioned by the dimension key —
group sizes are per-entity change counts.  NULL-safe change detection
(eqNullSafe) means NULL attribute values form runs like any other
value instead of splitting on every row.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import wide


def scd2_history(log: DataFrame, keys: list[str], attr_cols: list[str],
                 tie_col: str | None = None) -> DataFrame:
    """Collapse a change log into SCD2 validity intervals.

    `tie_col` breaks timestamp ties deterministically (pass the event
    id / turn index); without a total order the run boundaries on tied
    timestamps would be engine-dependent."""
    order = [F.col("ts")] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    same_as_prev = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.lag(F.col(c)).over(w)) for c in attr_cols],
    )
    chg = F.when(
        (F.row_number().over(w) == 1) | ~same_as_prev, F.lit(1)
    ).otherwise(F.lit(0))
    versioned = log.select(
        *keys, *attr_cols, "ts",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_ver"),
    )
    runs = versioned.groupBy(*keys, "_ver", *attr_cols).agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    # order the collapsed table by the version id, not valid_from:
    # two consecutive versions can share a timestamp (state flipping
    # within one microsecond under the tie order), and _ver is the
    # true sequence
    w2 = Window.partitionBy(*keys).orderBy("_ver")
    return runs.select(
        *keys, *attr_cols, "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
        "n_rows",
    )


def cdc_snapshot(changes: DataFrame) -> DataFrame:
    """Materialize the current snapshot from a CDC changelog — the
    MERGE-INTO semantics every lakehouse table maintenance job needs,
    re-expressed as two hash-aggs with ZERO window sorts:

        (key, last_ts, last_op payload..., n_changes)

    Last-wins by (ts, seq); a key whose LAST change is a delete ('D')
    leaves the snapshot entirely (its tombstone wins).  The decisive
    trick is the ordering key: (epoch-µs, seq) packs into ONE exact
    decimal(38,0) as µs·10¹⁹ + seq — hash-aggregable max (a struct
    max_by would degrade every aggregate to SortAggregate, the
    rollup.packed_order_key lesson, and bigint would overflow at
    µs·2¹¹ for full-width seqs).  max(pk) per key, one equi-join back
    to the winning row — no row_number window over the full log.

    Idempotent-upsert invariant (the tier_upsert discipline), proven
    in pytest: snapshot(A ∪ B) == apply(snapshot(A), B) — so daily
    incremental maintenance equals the from-scratch rebuild.

    Scale notes (100 TB): both aggs and the join shuffle once on the
    key; per-key state is one row.  Changelog compaction falls out:
    writing the snapshot back IS the compacted table."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    ten19 = wide(F.lit("10000000000000000000"))
    pk = wide(epoch_us(F.col("ts"))) * ten19 + wide("event_id")
    ch = changes.withColumn("_pk", pk)
    latest = ch.groupBy("user_id").agg(
        F.max("_pk").alias("_mx"),
        F.count(F.lit(1)).alias("n_changes"),
    ).withColumnRenamed("user_id", "_k")
    won = ch.join(
        latest,
        (F.col("user_id") == F.col("_k")) & (F.col("_pk") == F.col("_mx")),
    )
    return (
        won.where(F.col("op") != F.lit("D"))
        .drop("_pk", "_mx", "_k")
        .withColumnRenamed("ts", "last_ts")
    )
