"""Snapshot store contract: isolation, atomicity (no half-commits
visible), time travel, and retention expiry."""

from __future__ import annotations

import pytest

from timeseriescorrelation_spark.sources.snapshots import (
    expire_snapshots,
    snapshot_log,
    snapshot_read,
    snapshot_write,
)


def _vals(df):
    return sorted(r.v for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tier_1h")
    v1 = snapshot_write(spark.range(3).selectExpr("id AS v"), t, "append")
    v2 = snapshot_write(
        spark.range(3, 5).selectExpr("id AS v"), t, "append"
    )
    v3 = snapshot_write(
        spark.range(100, 102).selectExpr("id AS v"), t, "overwrite"
    )
    assert (v1, v2, v3) == (1, 2, 3)
    assert _vals(snapshot_read(spark, t)) == [100, 101]
    assert _vals(snapshot_read(spark, t, version=2)) == [0, 1, 2, 3, 4]
    assert _vals(snapshot_read(spark, t, version=1)) == [0, 1, 2]
    log = snapshot_log(spark, t)
    assert [e["version"] for e in log] == [1, 2, 3]
    assert log[2]["operation"] == "overwrite"
    assert log[1]["parent"] == 1 and log[0]["parent"] is None


def test_pinned_reader_survives_concurrent_overwrite(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(4).selectExpr("id AS v"), t, "append")
    pinned = snapshot_read(spark, t, version=1)  # plan built at v1
    snapshot_write(
        spark.range(50, 51).selectExpr("id AS v"), t, "overwrite"
    )
    # the pinned plan still reads exactly v1's files
    assert _vals(pinned) == [0, 1, 2, 3]
    assert _vals(snapshot_read(spark, t)) == [50]


def test_crashed_writer_leaves_no_visible_commit(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(2).selectExpr("id AS v"), t, "append")
    # simulate a crash AFTER data files land but BEFORE the manifest
    # commit: write a data dir directly, no manifest
    spark.range(900, 950).selectExpr("id AS v").write.parquet(
        f"{t}/data/commit-99-deadbeef"
    )
    assert _vals(snapshot_read(spark, t)) == [0, 1]
    assert [e["version"] for e in snapshot_log(spark, t)] == [1]
    # the re-run commits normally and sees only its own rows appended
    snapshot_write(spark.range(2, 3).selectExpr("id AS v"), t, "append")
    assert _vals(snapshot_read(spark, t)) == [0, 1, 2]


def test_expire_deletes_only_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS v"), t, "append")
    snapshot_write(spark.range(3, 6).selectExpr("id AS v"), t, "append")
    snapshot_write(
        spark.range(10, 12).selectExpr("id AS v"), t, "overwrite"
    )
    snapshot_write(spark.range(12, 13).selectExpr("id AS v"), t, "append")
    r = expire_snapshots(spark, t, keep_last=2)
    assert r["expired_versions"] == [1, 2]
    # v1/v2's files (ids 0..5) are referenced by NO kept version ->
    # physically gone; kept versions still read fine
    assert _vals(snapshot_read(spark, t)) == [10, 11, 12]
    assert _vals(snapshot_read(spark, t, version=3)) == [10, 11]
    assert r["deleted_files"] > 0
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=1)


def test_expire_keeps_files_shared_with_kept_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS v"), t, "append")
    snapshot_write(spark.range(3, 5).selectExpr("id AS v"), t, "append")
    # v2 (kept) references v1's files via the append chain: expiring
    # v1 must delete NOTHING
    r = expire_snapshots(spark, t, keep_last=1)
    assert r["expired_versions"] == [1]
    assert r["deleted_files"] == 0
    assert _vals(snapshot_read(spark, t)) == [0, 1, 2, 3, 4]


def test_tier_cascade_publishes_compacts_and_survives_expiry(
    spark, tmp_path
):
    """Integration: rollup cascade -> per-tier snapshot commits ->
    small-file compaction -> retention expiry; tier contents identical
    at every step."""
    import datetime as dt

    from pyspark.sql import functions as F

    from timeseriescorrelation_spark.operators.rollup import (
        rollup_cascade_fused,
    )
    from timeseriescorrelation_spark.sources.compaction import (
        rewrite_data_files,
    )

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (f"c{i % 3}", "m", t0 + dt.timedelta(minutes=7 * i), i,
         float(i % 11))
        for i in range(400)
    ]
    series = spark.createDataFrame(
        rows,
        "conv_id string, metric string, ts timestamp, "
        "turn_idx int, value double",
    )
    tiers = rollup_cascade_fused(series)

    def canon(df):
        return sorted(
            (r.conv_id, r.metric, r.bucket_ts, r.cnt, round(r.sum, 6))
            for r in df.select(
                "conv_id", "metric", "bucket_ts", "cnt", "sum"
            ).collect()
        )

    want = {k: canon(v) for k, v in tiers.items()}
    paths = {}
    for k, df in tiers.items():
        p = str(tmp_path / f"tier_{k}")
        paths[k] = p
        # publish in two appends to force multiple small files
        snapshot_write(df.where(F.col("conv_id") == "c0"), p, "append")
        snapshot_write(df.where(F.col("conv_id") != "c0"), p, "append")
        assert canon(snapshot_read(spark, p)) == want[k]
        rewrite_data_files(spark, p, target_bytes=64 * 1024 * 1024)
        assert canon(snapshot_read(spark, p)) == want[k]
        expire_snapshots(spark, p, keep_last=1)
        assert canon(snapshot_read(spark, p)) == want[k]


def test_merge_rewrites_only_affected_files(spark, tmp_path):
    """Copy-on-write MERGE: matched rows replaced, new keys inserted,
    files without a matched key carried by REFERENCE (path identity
    asserted), old versions untouched."""
    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_log,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    # two commits -> at least two data files with disjoint key ranges
    snapshot_write(
        spark.range(0, 5).selectExpr("id AS k", "id * 10 AS v")
        .coalesce(1), t, "append",
    )
    snapshot_write(
        spark.range(5, 10).selectExpr("id AS k", "id * 10 AS v")
        .coalesce(1), t, "append",
    )
    before = snapshot_read(spark, t)
    files_before = sorted(
        r["_f"] for r in before.selectExpr("input_file_name() AS _f")
        .distinct().collect()
    )
    upd = spark.createDataFrame([(7, 777), (42, 4200)], ["k", "v"])
    stats = snapshot_merge(upd, t, key_cols=["k"])
    assert stats["files_rewritten"] == 1      # only the 5-9 file
    assert stats["files_carried"] == len(files_before) - 1
    after = {r["k"]: r["v"] for r in snapshot_read(spark, t).collect()}
    assert after[7] == 777 and after[42] == 4200 and after[3] == 30
    assert len(after) == 11
    # time travel: the pre-merge version still shows the old row
    old = {
        r["k"]: r["v"]
        for r in snapshot_read(spark, t, version=2).collect()
    }
    assert old[7] == 70 and 42 not in old
    assert snapshot_log(spark, t)[-1]["operation"] == "overwrite"


def test_snapshot_diff_cdc(spark, tmp_path):
    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_diff,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1),
        t, "append",
    )
    snapshot_merge(
        spark.createDataFrame([(2, 99), (9, 9)], ["k", "v"]), t, ["k"]
    )
    ch = {
        (r["k"], r["v"], r["_change_type"])
        for r in snapshot_diff(spark, t, 1, 2).collect()
    }
    assert ch == {(2, 2, "delete"), (2, 99, "insert"), (9, 9, "insert")}


def test_mor_delete_sequence_semantics(spark, tmp_path):
    """Equality deletes apply only to OLDER data commits: delete k=2
    at v2, re-insert k=2 at v3 -> visible again; appends carry the
    delete file forward; a pure overwrite drops it (fully applied)."""
    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_delete_mor,
        snapshot_read_mor,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 4).selectExpr("id AS k", "id AS v").coalesce(1),
        t, "append",
    )
    snapshot_delete_mor(
        spark.createDataFrame([(2,), (3,)], ["k"]), t, ["k"]
    )
    after_del = {r["k"] for r in snapshot_read_mor(spark, t).collect()}
    assert after_del == {0, 1}
    # re-insert k=2 at v3: the v2 delete must NOT suppress it
    snapshot_write(
        spark.createDataFrame([(2, 99)], ["k", "v"]).coalesce(1),
        t, "append",
    )
    rows = {
        r["k"]: r["v"] for r in snapshot_read_mor(spark, t).collect()
    }
    assert rows == {0: 0, 1: 1, 2: 99}
    # time travel still sees the pre-delete world
    assert {
        r["k"] for r in snapshot_read_mor(spark, t, version=1).collect()
    } == {0, 1, 2, 3}


def test_mor_expire_keeps_live_delete_files(spark, tmp_path):
    from timeseriescorrelation_spark.sources.snapshots import (
        expire_snapshots,
        snapshot_delete_mor,
        snapshot_read_mor,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 3).selectExpr("id AS k", "id AS v").coalesce(1),
        t, "append",
    )
    snapshot_delete_mor(spark.createDataFrame([(1,)], ["k"]), t, ["k"])
    snapshot_write(
        spark.createDataFrame([(7, 7)], ["k", "v"]).coalesce(1),
        t, "append",
    )
    expire_snapshots(spark, t, keep_last=1)
    assert {
        r["k"] for r in snapshot_read_mor(spark, t).collect()
    } == {0, 2, 7}


def test_rollback_commits_new_version(spark, tmp_path):
    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_rollback,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(3).selectExpr("id AS v"), t, "append")
    snapshot_write(
        spark.range(900, 902).selectExpr("id AS v"), t, "overwrite"
    )
    v3 = snapshot_rollback(spark, t, 1)
    assert v3 == 3
    # head shows v1's data again; the bad v2 stays time-travelable
    assert _vals(snapshot_read(spark, t)) == [0, 1, 2]
    assert _vals(snapshot_read(spark, t, version=2)) == [900, 901]
    log = snapshot_log(spark, t)
    assert log[2]["operation"] == "rollback"
    assert log[2]["rolled_back_to"] == 1 and log[2]["parent"] == 2
    # rolling back to the current head is a no-op
    assert snapshot_rollback(spark, t, 3) == 3
    # expiry keeps the re-referenced v1 files alive through v3
    expire_snapshots(spark, t, keep_last=1)
    assert _vals(snapshot_read(spark, t)) == [0, 1, 2]


def test_rollback_resolves_named_ref_and_validates(spark, tmp_path):
    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_rollback,
        snapshot_tag,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(2).selectExpr("id AS v"), t, "append")
    snapshot_tag(spark, t, "good", 1)
    snapshot_write(
        spark.range(50, 53).selectExpr("id AS v"), t, "overwrite"
    )
    assert snapshot_rollback(spark, t, "good") == 3
    assert _vals(snapshot_read(spark, t)) == [0, 1]
    with pytest.raises(ValueError):
        snapshot_rollback(spark, t, 99)
    with pytest.raises(KeyError):
        snapshot_rollback(spark, t, "nope")


def test_remove_orphans_spares_staged_and_referenced(spark, tmp_path):
    import os

    from timeseriescorrelation_spark.sources.snapshots import (
        publish_staged,
        remove_orphan_files,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(spark.range(4).selectExpr("id AS v"), t, "append")
    handle = snapshot_write(
        spark.range(10, 12).selectExpr("id AS v"), t, "append",
        staged=True,
    )
    # simulate a crashed write: a commit dir with data but no manifest
    stray_dir = tmp_path / "tbl" / "data" / "commit-99-deadbeef"
    stray_dir.mkdir(parents=True)
    stray = stray_dir / "part-00000-junk.parquet"
    spark.range(1).write.mode("overwrite").parquet(str(stray_dir / "x"))
    # move the real parquet up as the stray file
    inner = [f for f in os.listdir(stray_dir / "x")
             if f.endswith(".parquet")][0]
    os.rename(stray_dir / "x" / inner, stray)

    dry = remove_orphan_files(spark, t, dry_run=True)
    assert dry["deleted"] == 0
    assert any("commit-99-deadbeef" in f for f in dry["orphans"])
    # the dry run also flags the helper dir's leftovers; the committed
    # and staged files must NOT appear
    assert not any("commit-1-" in f for f in dry["orphans"])

    got = remove_orphan_files(spark, t)
    assert got["deleted"] >= 1
    assert not stray.exists()
    # table and staged commit both still intact
    assert _vals(snapshot_read(spark, t)) == [0, 1, 2, 3]
    v2 = publish_staged(spark, t, handle)
    assert _vals(snapshot_read(spark, t, version=v2)) == [0, 1, 2, 3, 10, 11]


def test_merge_cdc_nets_log_and_deletes_in_one_commit(spark, tmp_path):
    """CDC MERGE: the changelog nets per key (last op wins), deletes
    drop the key, upserts replace/insert — one atomic commit, files
    without a touched key carried by reference, old version intact."""
    import datetime as dt

    from timeseriescorrelation_spark.sources.snapshots import (
        snapshot_merge_cdc,
    )

    t = str(tmp_path / "tbl")
    snapshot_write(
        spark.range(0, 5).selectExpr("id AS k", "id * 10 AS v")
        .coalesce(1), t, "append",
    )
    snapshot_write(
        spark.range(5, 10).selectExpr("id AS k", "id * 10 AS v")
        .coalesce(1), t, "append",
    )
    T = dt.datetime(2024, 1, 1)

    def ts(n):
        return T + dt.timedelta(seconds=n)

    log = spark.createDataFrame(
        [
            (3, 333, "U", ts(1), 1),    # plain update
            (4, 444, "U", ts(1), 2),    # updated...
            (4, None, "D", ts(2), 3),   # ...then deleted -> nets to D
            (6, None, "D", ts(1), 4),   # deleted...
            (6, 666, "U", ts(2), 5),    # ...then re-upserted -> nets to U
            (42, 4200, "I", ts(1), 6),  # brand-new key
            (99, None, "D", ts(1), 7),  # delete of absent key: no-op
        ],
        "k long, v long, op string, ts timestamp, seq long",
    )
    stats = snapshot_merge_cdc(
        log, t, key_cols=["k"], tie_col="seq",
    )
    # changelog rows carry (k, v, op, ts, seq); op is dropped on apply
    after = {r["k"]: r["v"] for r in snapshot_read(spark, t).collect()}
    assert after[3] == 333
    assert 4 not in after            # U then D nets to delete
    assert after[6] == 666           # D then U nets to upsert
    assert after[42] == 4200
    assert 99 not in after
    assert after[0] == 0 and after[9] == 90
    assert len(after) == 10          # 10 original - (4) + 42, 6 replaced
    assert stats["files_rewritten"] == 2   # keys 3,4 and 6 span both
    assert stats["files_carried"] == 0
    assert stats["keys_deleted"] == 2      # netted deletes: 4 and 99
    assert stats["rows_upserted"] == 3     # keys 3, 6, 42
    # time travel: pre-CDC version unchanged
    old = {
        r["k"]: r["v"]
        for r in snapshot_read(spark, t, version=2).collect()
    }
    assert old[4] == 40 and 42 not in old
