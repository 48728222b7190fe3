"""Continuous-aggregate maintenance: the streaming 1m tier cascades
into MATERIALIZED 1h and 1d tiers via foreachBatch MERGE — stages 3
and 4 of the production pipeline (bronze dedup → silver 1m → THESE →
gold analytics read the 1h/1d tiers, never raw turns).

The two stages are siblings over silver, not a chain: each reads the
silver 1m tier with its own checkpoint, and each micro-batch of
finalized 1m buckets folds straight into its stored tier through
`refresh.refresh_partials` (touched-day pruned read → tier_merge →
dynamic partition overwrite).  Silver is written by Spark's file sink,
so it is append-only, and a file source reads only the files in its
`_spark_metadata` commit log: a stage's micro-batch is a fixed file
set, replayed identically after a crash.  Maintaining a tier costs
O(batch + touched partitions) forever — the continuous-aggregate
contract at the storage layer, with the exactness carried by the
tier_merge invariant (merge(rollup(A), rollup(B)) == rollup(A ∪ B)).

First/last discipline: 1m rows arrive WITHOUT packed keys (the
streaming tier emits plain buckets), but within one hour the minute
buckets are totally ordered by bucket_ts and append mode emits each
finalized bucket exactly once — so each bucket's order key is its
hour-grain packed key with turn component 0 (`operators.rollup` states
the fold and the key layout once), comparable across micro-batches of
the same hour.  The 1d stage still folds 1m → 1h → 1d, so its float
sums keep the chain's addition order.

Resume: foreachBatch is at-least-once, and the tier merge is ADDITIVE
— so exactly-once is engineered, not assumed: both folds consult the
sink-side ``_batch_ledger`` in refresh_partials, skipping batch ids
already applied.  Asserted in tests/test_cascade_stream.py: two
incremental drains == one batch rollup of everything, a replayed fold
with the same batch id is a no-op, and a 1h-stage replay after the 1d
stage has drained leaves both tiers unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.timeutil import epoch_us
from timeseriescorrelation_spark.operators.refresh import (
    refresh_partials,
)
from timeseriescorrelation_spark.operators.rollup import (
    TIER_COLS,
    TRUNC_US,
    idx_bits,
    pack_key,
    packed_order_key,
    tier_fold,
)
from timeseriescorrelation_spark.schemas import tier_schema


def partials_1h_from_1m(tier_1m: DataFrame) -> DataFrame:
    """Plain 1m tier rows → upsertable 1h partials (tier columns +
    fkey/lkey), keyed by the minute bucket's hour-grain packed key."""
    # project the hour and the key once; the fold reads the key 4 times
    pre = tier_1m.select(
        "conv_id", "metric", F.date_trunc("hour", "bucket_ts").alias("h"),
        packed_order_key("hour", ts="bucket_ts", idx=F.lit(0)).alias("k"),
        *TIER_COLS,
    )
    return tier_fold(pre, F.col("h"), F.col("k"), keyed=True)


def partials_1d_from_1h(p1h: DataFrame) -> DataFrame:
    """Upsertable 1h partials → upsertable 1d partials: re-key each
    hour partial's fkey/lkey from the hour-grain to the day-grain
    packed key and fold.  The re-keying is exact: the day offset is
    the hour's offset-in-day plus the key's in-hour offset, and the
    turn component re-clamps to the day's idx bits exactly as the
    batch path clamps turn_idx — so a chained 1m→1h→1d fold emits the
    same tier VALUES as rollup_raw_upsertable(series, "1d") (asserted
    in tests/test_cascade_stream.py; the key columns carry turn
    component 0 when fed from the plain silver tier).  The chain map
    is monotone within an hour, so min/max distribute and merges stay
    associative across micro-batches."""
    day = F.date_trunc("day", "bucket_ts")
    hour_off = epoch_us(F.col("bucket_ts")) - epoch_us(day)
    h_bits, d_bits = idx_bits(TRUNC_US["hour"]), idx_bits(TRUNC_US["day"])

    def chain(key: str):
        k = F.col(key)
        return pack_key(hour_off + F.shiftright(k, h_bits),
                        k.bitwiseAND(F.lit((1 << h_bits) - 1)), d_bits)

    return tier_fold(p1h, day, chain("fkey"), chain("lkey"), keyed=True)


def partials_1d_from_1m(tier_1m: DataFrame) -> DataFrame:
    """Plain 1m tier rows → upsertable 1d partials, through the hour
    partials."""
    return partials_1d_from_1h(partials_1h_from_1m(tier_1m))


def fold_batch(batch: DataFrame, batch_id: int, gold_dir: str,
               to_partials: Callable[[DataFrame], DataFrame]) -> None:
    """One micro-batch fold: 1m rows → ``to_partials`` → gold tier
    merge, skipped when the tier's ledger already holds ``batch_id``.
    Module-level (not a closure) so the replay test can invoke the
    exact production fold twice with the same batch id."""
    if batch.isEmpty():
        return
    refresh_partials(
        batch.sparkSession, gold_dir, to_partials(batch),
        batch_id=int(batch_id),
    )


def _drain(spark: SparkSession, silver_dir: str, gold_dir: str,
           ck_dir: str,
           to_partials: Callable[[DataFrame], DataFrame]) -> None:
    """Fold all currently-available silver (1m tier) files into the
    tier at `gold_dir` (Trigger.AvailableNow, durable offsets under
    `ck_dir`)."""
    q = (
        spark.readStream.schema(tier_schema()).parquet(silver_dir)
        .writeStream.foreachBatch(
            lambda batch, bid: fold_batch(batch, bid, gold_dir, to_partials)
        )
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cascade_1h(spark: SparkSession, silver_dir: str,
                      gold_dir: str, ck_dir: str) -> None:
    """Stage 3: drain silver into the materialized 1h tier."""
    _drain(spark, silver_dir, gold_dir, ck_dir, partials_1h_from_1m)


def stream_cascade_1d(spark: SparkSession, silver_dir: str,
                      gold_dir: str, ck_dir: str) -> None:
    """Stage 4: drain silver into the materialized 1d tier (own
    checkpoint, so the 1h and 1d stages resume independently)."""
    _drain(spark, silver_dir, gold_dir, ck_dir, partials_1d_from_1m)
