"""Continuous-aggregate maintenance: the streaming 1m tier cascades
into a MATERIALIZED 1h tier via foreachBatch MERGE — the fourth stage
of the production pipeline (bronze dedup → silver 1m → THIS → gold
analytics read the 1h tier, never raw turns) — and, round 4, onward
into a 1d tier: stage 1 also appends its 1h partials to an
append-only inter-stage log, and a second independently-checkpointed
stream folds that log into the materialized 1d tier
(stream_cascade_1h_1d).

Each micro-batch of finalized 1m buckets aggregates to upsertable 1h
partials and folds into the stored tier through
`refresh.refresh_partials` (touched-day pruned read → tier_merge →
dynamic partition overwrite), so maintaining the hour tier costs
O(batch + touched partitions) forever — the continuous-aggregate
contract at the storage layer, with the exactness carried by the
tier_merge invariant (merge(rollup(A), rollup(B)) == rollup(A ∪ B)).

First/last discipline: 1m rows arrive WITHOUT packed keys (the
streaming tier emits plain buckets), but within one hour the minute
buckets are totally ordered by bucket_ts and append mode emits each
finalized bucket exactly once — so each bucket's order key is its
hour-grain packed key with turn component 0 (`operators.rollup` states
the fold and the key layout once), comparable across micro-batches of
the same hour.

Resume: foreachBatch is at-least-once, and the tier merge is ADDITIVE
— so exactly-once is engineered, not assumed: the inter-stage partials
log is overwrite-by-batch-id (a replayed batch rewrites its own
``batch_id=<id>`` partition to the same deterministic contents), and
both gold folds consult the sink-side ``_batch_ledger`` in
refresh_partials, skipping batch ids already applied.  Asserted in
tests/test_cascade_stream.py: two incremental drains == one batch
rollup of everything, and a replayed fold with the same batch id is a
no-op.
"""

from __future__ import annotations

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


def fold_1m_batch(batch: DataFrame, batch_id: int, gold_dir: str,
                  partials_dir: str | None) -> None:
    """One stage-1 micro-batch fold: 1m rows → 1h partials → gold tier
    merge, with the partials optionally logged to the inter-stage feed
    under a ``batch_id=<id>`` partition via dynamic partition
    overwrite.  Module-level (not a closure) so the replay test can
    invoke the exact production fold twice with the same batch id and
    assert the log stays duplicate-free — foreachBatch is
    at-least-once, and this overwrite-by-batch-id (plus the gold
    tier's refresh ledger) is the idempotency mechanism."""
    if batch.isEmpty():
        return
    p1h = partials_1h_from_1m(batch)
    if partials_dir is not None:
        p1h = p1h.localCheckpoint()  # compute once, feed both sinks
        p1h.withColumn("batch_id", F.lit(int(batch_id))).write.partitionBy(
            "batch_id"
        ).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(partials_dir)
    refresh_partials(
        batch.sparkSession, gold_dir, p1h, batch_id=int(batch_id)
    )


def stream_cascade_1h(spark: SparkSession, silver_dir: str,
                      gold_dir: str, ck_dir: str,
                      partials_dir: str | None = None) -> None:
    """Drain all currently-available silver (1m tier) files into the
    materialized 1h tier at `gold_dir` (Trigger.AvailableNow, durable
    offsets under `ck_dir`).

    If `partials_dir` is given, each micro-batch's 1h partials are
    ALSO written there (parquet log partitioned by batch_id, fkey/lkey
    kept) — the inter-stage feed of the 1h→1d cascade stage.  An
    append-only-semantics log is load-bearing: the materialized gold
    dir is partition-REWRITTEN on refold, and a file-source stream
    over it would re-emit whole rewritten partitions into the next
    stage, double counting them; the partials log instead carries each
    batch's delta exactly once.  foreachBatch is at-least-once, so a
    blind `mode("append")` would NOT deliver that contract: a driver
    crash between the append and the checkpoint commit replays the
    batch and duplicates its partials forever.  Each batch therefore
    writes its own `batch_id=<id>` partition with DYNAMIC partition
    overwrite — a replayed batch rewrites the same partition to the
    same deterministic contents, keeping the log idempotent at the
    batch boundary (same discipline refresh_partials applies to the
    gold tiers)."""
    tier = spark.readStream.schema(tier_schema()).parquet(silver_dir)

    q = (
        tier.writeStream.foreachBatch(
            lambda batch, bid: fold_1m_batch(
                batch, bid, gold_dir, partials_dir
            )
        )
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cascade_1d(spark: SparkSession, partials_1h_dir: str,
                      gold_1d_dir: str, ck_dir: str) -> None:
    """Second cascade stage: drain the batch_id-partitioned 1h-partials
    log into the materialized 1d tier (own checkpoint, so the 1h and 1d
    stages resume independently).  The log's batch_id partition column
    is a stage-1 idempotency key only — dropped here before folding."""
    schema = tier_schema().add("fkey", "long").add("lkey", "long").add(
        "batch_id", "long"
    )
    feed = spark.readStream.schema(schema).parquet(partials_1h_dir).drop(
        "batch_id"
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        refresh_partials(
            batch.sparkSession, gold_1d_dir, partials_1d_from_1h(batch),
            batch_id=int(batch_id),
        )

    q = (
        feed.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_cascade_1h_1d(spark: SparkSession, silver_dir: str,
                         gold_1h_dir: str, partials_1h_dir: str,
                         gold_1d_dir: str, ck_root: str) -> None:
    """Full 1m→1h→1d continuous-aggregate cascade, one drain: stage 1
    folds silver into the 1h tier and appends its partials to the
    inter-stage log; stage 2 folds that log into the 1d tier.  Each
    stage owns its checkpoint under `ck_root` (round-3 verdict task
    #4's per-stage checkpoints)."""
    stream_cascade_1h(
        spark, silver_dir, gold_1h_dir, f"{ck_root}/ck_1h",
        partials_dir=partials_1h_dir,
    )
    stream_cascade_1d(
        spark, partials_1h_dir, gold_1d_dir, f"{ck_root}/ck_1d"
    )
