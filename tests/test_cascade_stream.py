"""Streaming 1m→1h→1d continuous aggregate: incremental drains of
the silver tier produce materialized hour and day tiers identical to
one batch rollup of everything, and replayed batches are no-ops."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.rollup import (
    rollup_raw_upsertable,
)
from timeseriescorrelation_spark.streaming.cascade_stream import (
    fold_batch,
    partials_1d_from_1m,
    partials_1h_from_1m,
    stream_cascade_1d,
    stream_cascade_1h,
)
from timeseriescorrelation_spark.streaming.pipeline import (
    run_full_pipeline_once,
)

T0 = dt.datetime(2026, 2, 2, 0, 0, 0)
SERIES_SCHEMA = (
    "conv_id string, metric string, ts timestamp, "
    "turn_idx int, value double"
)

STD = ["conv_id", "metric", "bucket_ts", "cnt", "sum", "min", "max",
       "first", "last"]


def _series_rows(minutes):
    rows = []
    for i, m in enumerate(minutes):
        rows.append(("c1", "rate", T0 + dt.timedelta(minutes=m), i,
                     float(10 + (m % 7))))
        rows.append(("c1", "rate",
                     T0 + dt.timedelta(minutes=m, seconds=30),
                     1000 + i, float(m % 5)))
    return rows


def _silver(spark, rows):
    """Batch equivalent of the streaming 1m tier: plain bucket rows."""
    df = spark.createDataFrame(rows, SERIES_SCHEMA)
    return rollup_raw_upsertable(df, "1m").drop("fkey", "lkey")


def _norm(df):
    return sorted(
        (r["conv_id"], r["metric"], r["bucket_ts"], r["cnt"],
         round(r["sum"], 6), r["min"], r["max"], r["first"], r["last"])
        for r in df.select(*STD).collect()
    )


def test_incremental_cascade_equals_batch(spark):
    work = tempfile.mkdtemp(prefix="cascade_")
    try:
        silver = f"{work}/silver"
        gold = f"{work}/gold"
        ck = f"{work}/ck"
        # chunk 1: minutes 0..89 (hours 0 and part of 1);
        # chunk 2: minutes 90..200 -- split on a minute boundary so
        # each 1m bucket lives in exactly one chunk (append-mode
        # semantics of the real silver stage)
        all_minutes = list(range(0, 201, 3))
        c1 = [m for m in all_minutes if m < 90]
        c2 = [m for m in all_minutes if m >= 90]

        _silver(spark, _series_rows(c1)).write.mode("append").parquet(
            silver
        )
        stream_cascade_1h(spark, silver, gold, ck)
        got1 = spark.read.parquet(gold)
        # after drain 1 only chunk-1 hours exist
        assert got1.agg(F.max("bucket_ts")).collect()[0][0] \
            == T0 + dt.timedelta(hours=1)

        _silver(spark, _series_rows(c2)).write.mode("append").parquet(
            silver
        )
        stream_cascade_1h(spark, silver, gold, ck)

        want = rollup_raw_upsertable(
            spark.createDataFrame(_series_rows(all_minutes),
                                  SERIES_SCHEMA),
            "1h",
        )
        assert _norm(spark.read.parquet(gold)) == _norm(want)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cascade_second_drain_without_new_input_is_noop(spark):
    work = tempfile.mkdtemp(prefix="cascade_")
    try:
        silver = f"{work}/silver"
        gold = f"{work}/gold"
        ck = f"{work}/ck"
        rows = _series_rows(list(range(0, 60, 5)))
        _silver(spark, rows).write.mode("append").parquet(silver)
        stream_cascade_1h(spark, silver, gold, ck)
        before = _norm(spark.read.parquet(gold))
        stream_cascade_1h(spark, silver, gold, ck)  # nothing new
        assert _norm(spark.read.parquet(gold)) == before
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cascade_late_chunk_refolds_existing_hours(spark):
    # chunks arrive OUT OF ORDER: the late chunk carries EARLIER
    # minutes, so its fold must merge into hour partitions that the
    # first drain already materialized -- the continuous-aggregate
    # late-data contract (tier_merge exactness at the storage layer)
    work = tempfile.mkdtemp(prefix="cascade_")
    try:
        silver = f"{work}/silver"
        gold = f"{work}/gold"
        ck = f"{work}/ck"
        all_minutes = list(range(0, 121, 3))
        late = [m for m in all_minutes if m % 2 == 1]   # odd minutes
        first = [m for m in all_minutes if m % 2 == 0]  # even minutes

        _silver(spark, _series_rows(first)).write.mode("append").parquet(
            silver
        )
        stream_cascade_1h(spark, silver, gold, ck)
        _silver(spark, _series_rows(late)).write.mode("append").parquet(
            silver
        )
        stream_cascade_1h(spark, silver, gold, ck)

        want = rollup_raw_upsertable(
            spark.createDataFrame(_series_rows(all_minutes),
                                  SERIES_SCHEMA),
            "1h",
        )
        assert _norm(spark.read.parquet(gold)) == _norm(want)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _cascade_1h_1d(spark, work):
    """Stages 3 and 4 of the pipeline: both fold silver, each into its
    own tier under its own checkpoint."""
    stream_cascade_1h(spark, f"{work}/silver", f"{work}/gold1h",
                      f"{work}/ck_1h")
    stream_cascade_1d(spark, f"{work}/silver", f"{work}/gold1d",
                      f"{work}/ck_1d")


def test_cascade_1d_two_drains_equal_batch_with_day_refold(spark):
    """Full 1m->1h->1d cascade (per-stage checkpoints): drain 1 covers
    most of day 1 plus the start of day 2; drain 2 delivers LATE
    minutes that refold hours of day 1 — so the 1d stage must merge
    into a day partition it already materialized.  Result must equal
    one batch 1d rollup of everything (and the 1h tier must equal the
    batch 1h rollup)."""
    work = tempfile.mkdtemp(prefix="cascade1d_")
    try:
        silver = f"{work}/silver"
        gold1h = f"{work}/gold1h"
        gold1d = f"{work}/gold1d"

        # minutes spanning two days: 0..1500 (day 1 = 0..1439,
        # day 2 starts at 1440)
        all_minutes = list(range(0, 1501, 7))
        late = [m for m in all_minutes if m < 1200 and m % 3 == 1]
        first = [m for m in all_minutes if m not in late]

        _silver(spark, _series_rows(first)).write.mode(
            "append"
        ).parquet(silver)
        _cascade_1h_1d(spark, work)
        # day 2 already exists after drain 1
        assert spark.read.parquet(gold1d).where(
            F.col("bucket_ts") == T0 + dt.timedelta(days=1)
        ).count() == 1

        _silver(spark, _series_rows(late)).write.mode(
            "append"
        ).parquet(silver)
        _cascade_1h_1d(spark, work)

        everything = spark.createDataFrame(
            _series_rows(all_minutes), SERIES_SCHEMA
        )
        want1h = rollup_raw_upsertable(everything, "1h")
        want1d = rollup_raw_upsertable(everything, "1d")
        assert _norm(spark.read.parquet(gold1h)) == _norm(want1h)
        assert _norm(spark.read.parquet(gold1d)) == _norm(want1d)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cascade_1d_drain_without_new_input_is_noop(spark):
    work = tempfile.mkdtemp(prefix="cascade1d_")
    try:
        rows = _series_rows(list(range(0, 120, 5)))
        _silver(spark, rows).write.mode("append").parquet(f"{work}/silver")
        _cascade_1h_1d(spark, work)
        before = _norm(spark.read.parquet(f"{work}/gold1d"))
        _cascade_1h_1d(spark, work)
        assert _norm(spark.read.parquet(f"{work}/gold1d")) == before
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fold_replay_same_batch_id_is_idempotent(spark):
    """foreachBatch is at-least-once (ADVICE r4): a driver crash
    between the gold write and the checkpoint commit replays the batch
    with the SAME batch id.  The production fold (fold_batch, the
    exact function both cascade stages register) must leave the 1h
    and 1d tiers unchanged on replay — the merge is additive, so a
    blind refold would permanently double-count the batch."""
    work = tempfile.mkdtemp(prefix="cascade_replay_")
    try:
        tiers = ((f"{work}/gold1h", partials_1h_from_1m),
                 (f"{work}/gold1d", partials_1d_from_1m))
        batch = _silver(spark, _series_rows(list(range(0, 120, 5))))

        for gold, to_partials in tiers:
            fold_batch(batch, 0, gold, to_partials)
        once = [_norm(spark.read.parquet(gold)) for gold, _ in tiers]

        # replay: same batch contents, same batch id
        for gold, to_partials in tiers:
            fold_batch(batch, 0, gold, to_partials)
        assert [_norm(spark.read.parquet(g)) for g, _ in tiers] == once

        # a genuinely NEW batch still lands (idempotency is keyed by
        # batch id)
        late = _silver(spark, _series_rows(list(range(120, 180, 5))))
        for gold, to_partials in tiers:
            fold_batch(late, 1, gold, to_partials)
        everything = spark.createDataFrame(
            _series_rows(list(range(0, 120, 5)))
            + _series_rows(list(range(120, 180, 5))), SERIES_SCHEMA
        )
        assert [_norm(spark.read.parquet(g)) for g, _ in tiers] == [
            _norm(rollup_raw_upsertable(everything, t)) for t in ("1h", "1d")
        ]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_stage3_replay_after_stage4_drained_changes_nothing(spark, tmp_path):
    """Stage 3 crashes after its gold write but before its checkpoint
    commit, while stage 4 has already drained the same silver files:
    deleting stage 3's last commit file makes the next run replay that
    batch.  The replay must leave BOTH tiers unchanged — the 1h fold
    through its ledger, and the 1d tier because stage 4 never sees
    stage 3's output."""
    rows = [("c1", "m", T0 + dt.timedelta(minutes=m), i, float(m % 13))
            for i, m in enumerate(range(0, 2 * 24 * 60, 17))]
    rows.append(("zz_sentinel", "m", T0 + dt.timedelta(days=4), 0, 0.0))
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SERIES_SCHEMA).coalesce(1).write.parquet(src)
    work = str(tmp_path / "work")
    out = run_full_pipeline_once(spark, src, work)
    before = [_norm(spark.read.parquet(out[t])) for t in ("gold_1h", "gold_1d")]

    commits = tmp_path / "work" / "ckpt" / "gold_1h" / "commits"
    last = max((f for f in commits.iterdir() if f.name.isdigit()),
               key=lambda f: int(f.name))
    last.unlink()
    (commits / f".{last.name}.crc").unlink(missing_ok=True)

    run_full_pipeline_once(spark, src, work)
    assert [_norm(spark.read.parquet(out[t]))
            for t in ("gold_1h", "gold_1d")] == before
