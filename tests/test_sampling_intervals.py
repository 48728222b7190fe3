"""Deterministic sampling/split + binned interval join unit tests."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.intervals import (
    interval_join_binned,
)
from timeseriescorrelation_spark.operators.sampling import (
    assign_split,
    hash_bucket,
    sample_fraction,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def test_split_is_deterministic_and_partitions(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split for r in assign_split(df).collect()}
    s2 = {r.doc_id: r.split for r in assign_split(df).collect()}
    assert s1 == s2                      # pure function of the id
    counts = {"train": 0, "val": 0, "test": 0}
    for v in s1.values():
        counts[v] += 1
    assert sum(counts.values()) == 2000
    # md5 buckets are uniform: 80/10/10 within a loose tolerance
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    assert 0.06 <= counts["val"] / 2000 <= 0.14
    assert 0.06 <= counts["test"] / 2000 <= 0.14


def test_sample_is_subset_and_stable_under_union(spark):
    """A unit sampled in a small corpus stays sampled in a bigger one —
    the property RNG sampling cannot give."""
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s_small = {r.doc_id for r in sample_fraction(small, 0.1).collect()}
    s_big = {r.doc_id for r in sample_fraction(big, 0.1).collect()}
    assert s_small == {d for d in s_big if d < 500}
    assert 0.05 <= len(s_big) / 5000 <= 0.15


def test_hash_bucket_range(spark):
    rows = spark.range(0, 1000).select(
        hash_bucket("id").alias("b")
    ).agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= rows[0] and rows[1] < (1 << 16)


def test_asof_join_edge_cases(spark):
    """Union+window as-of join: same-ts right row IS visible (>=),
    left rows before any right row carry nulls, and the LATEST prior
    right row wins across gaps."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            ("u", 1, T0 + dt.timedelta(minutes=0)),    # before any right
            ("u", 2, T0 + dt.timedelta(minutes=10)),   # == right ts
            ("u", 3, T0 + dt.timedelta(minutes=25)),   # between rights
            ("u", 4, T0 + dt.timedelta(minutes=40)),   # after second
            ("v", 5, T0 + dt.timedelta(minutes=5)),    # key with no rights
        ],
        "user_id string, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", T0 + dt.timedelta(minutes=10), 1.0),
            ("u", T0 + dt.timedelta(minutes=30), 2.0),
        ],
        "user_id string, ts timestamp, rv double",
    )
    got = {
        r.event_id: r.rv_asof
        for r in asof_join(left, right, ["user_id"], payload=["rv"])
        .collect()
    }
    assert got == {1: None, 2: 1.0, 3: 1.0, 4: 2.0, 5: None}


def test_asof_join_null_payload_is_atomic(spark):
    """A NULL field in the most recent right row must come through as
    NULL — not resurrect the previous row's value (torn result).  Rows
    are carried atomically as one struct."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 1, T0 + dt.timedelta(minutes=30))],
        "user_id string, event_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", T0 + dt.timedelta(minutes=10), 5.0, "first"),
            ("u", T0 + dt.timedelta(minutes=20), None, "second"),
        ],
        "user_id string, ts timestamp, rv double, tag string",
    )
    row = asof_join(left, right, ["user_id"], payload=["rv", "tag"]) \
        .collect()[0]
    assert row.tag_asof == "second"
    assert row.rv_asof is None  # NOT 5.0 from the older row


def test_asof_join_plan_has_no_join_node(spark):
    """The as-of operator is a union + one window pass — the physical
    plan must contain NO join operator of any kind."""
    import __spark_entry__ as em

    df = em.queries()["asof_last_error"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_interval_join_matches_naive_range_join(spark):
    """Binned equi-join == the naive non-equi range join, including
    span-boundary events, bucket-boundary spans, multi-bucket spans,
    overlapping spans (two matches), and unmatched events."""
    events = spark.createDataFrame(
        [
            ("a", 1, T0 + dt.timedelta(minutes=5)),
            ("a", 2, T0 + dt.timedelta(minutes=90)),     # second bucket
            ("a", 3, T0 + dt.timedelta(hours=5)),        # no span
            ("a", 4, T0 + dt.timedelta(hours=2)),        # == span end
            ("b", 5, T0 + dt.timedelta(minutes=30)),     # overlapping spans
        ],
        "conv_id string, event_id long, ts timestamp",
    )
    spans = spark.createDataFrame(
        [
            ("a", T0, T0 + dt.timedelta(hours=2), "s1"),
            ("b", T0, T0 + dt.timedelta(hours=1), "s2"),
            ("b", T0 + dt.timedelta(minutes=15),
             T0 + dt.timedelta(minutes=45), "s3"),
        ],
        "conv_id string, start_ts timestamp, end_ts timestamp, tag string",
    )
    got = sorted(
        (r.event_id, r.tag)
        for r in interval_join_binned(
            events, spans, ["conv_id"], "hour"
        ).collect()
    )
    naive = sorted(
        (r.event_id, r.tag)
        for r in events.join(
            spans,
            (events.conv_id == spans.conv_id)
            & events.ts.between(spans.start_ts, spans.end_ts),
        ).collect()
    )
    assert got == naive
    assert got == [(1, "s1"), (2, "s1"), (4, "s1"), (5, "s2"), (5, "s3")]


def test_interval_overlap_join_hand_cases(spark):
    """Nested, partial, touching, disjoint, and multi-day pairs: one
    output row per overlapping pair (first-shared-bucket dedup even
    when the pair shares several day buckets), exact µs overlap."""
    import datetime as dt

    from timeseriescorrelation_spark.operators.intervals import (
        interval_overlap_join,
    )

    t = lambda d, h=0, m=0: dt.datetime(2024, 1, d, h, m)  # noqa: E731
    left = spark.createDataFrame(
        [
            ("L1", t(1, 10), t(1, 12)),        # partial with R1
            ("L2", t(2, 3), t(2, 4)),          # nested inside R2
            ("L3", t(3, 0), t(3, 1)),          # touches R3 at a point
            ("L4", t(4, 0), t(4, 1)),          # disjoint from all
            ("L5", t(5, 12), t(7, 12)),        # spans 3 days, R5 too
        ],
        "lid string, start_l timestamp, end_l timestamp",
    )
    right = spark.createDataFrame(
        [
            ("R1", t(1, 11), t(1, 14)),
            ("R2", t(2, 0), t(2, 23)),
            ("R3", t(3, 1), t(3, 2)),
            ("R5", t(6, 0), t(8, 0)),          # overlaps L5 on 2 shared days
        ],
        "rid string, start_r timestamp, end_r timestamp",
    )
    got = {
        (r.lid, r.rid): r.overlap_us
        for r in interval_overlap_join(left, right).collect()
    }
    hour = 3_600_000_000
    assert got == {
        ("L1", "R1"): 1 * hour,
        ("L2", "R2"): 1 * hour,
        ("L3", "R3"): 0,                      # touching -> 0 µs overlap
        ("L5", "R5"): 36 * hour,              # exactly once, not per day
    }


def test_asof_join_tolerance(spark):
    """Matches older than the bound are nulled; equal-age and fresher
    matches survive (inclusive bound)."""
    import datetime as dt

    from timeseriescorrelation_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [("u", 1, t0 + dt.timedelta(seconds=100)),
         ("u", 2, t0 + dt.timedelta(seconds=160)),
         ("u", 3, t0 + dt.timedelta(seconds=161))],
        "user_id string, eid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", t0 + dt.timedelta(seconds=100), 7.0)],
        "user_id string, ts timestamp, rv double",
    )
    got = {
        r.eid: r.rv_asof
        for r in asof_join(
            left, right, ["user_id"], payload=["rv"],
            tolerance_seconds=60,
        ).collect()
    }
    assert got == {1: 7.0, 2: 7.0, 3: None}  # 61s stale -> null


def test_asof_join_forward_and_nearest(spark):
    """direction='forward' picks the earliest right row at-or-after
    (equal ts IS visible); 'nearest' picks the smaller exact-us
    distance and resolves exact ties to the backward row."""
    import datetime as dt

    from timeseriescorrelation_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    left = spark.createDataFrame(
        [
            ("u", 1, ts(100)),  # between rights at 90 and 105
            ("u", 2, ts(50)),   # equidistant: rights at 40 and 60
            ("u", 3, ts(90)),   # exactly ON a right row
            ("u", 4, ts(5)),    # before every right row
            ("u", 5, ts(500)),  # after every right row
        ],
        "user_id string, event_id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", ts(40), 40.0), ("u", ts(60), 60.0),
         ("u", ts(90), 90.0), ("u", ts(105), 105.0)],
        "user_id string, ts timestamp, rv double",
    )

    fwd = {
        r.event_id: r.rv_asof
        for r in asof_join(left, right, ["user_id"], payload=["rv"],
                           direction="forward").collect()
    }
    assert fwd[1] == 105.0
    assert fwd[3] == 90.0      # equal ts visible forward too
    assert fwd[4] == 40.0
    assert fwd[5] is None      # nothing after

    near = {
        r.event_id: r.rv_asof
        for r in asof_join(left, right, ["user_id"], payload=["rv"],
                           direction="nearest").collect()
    }
    assert near[1] == 105.0    # |100-105| < |100-90|
    assert near[2] == 40.0     # exact tie -> backward (earlier) row
    assert near[3] == 90.0
    assert near[4] == 40.0     # only forward side exists
    assert near[5] == 105.0    # only backward side exists


def test_asof_nearest_tolerance_applies_both_sides(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame(
        [("u", 1, t0 + dt.timedelta(seconds=1000))],
        "user_id string, event_id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", t0, 0.0),
         ("u", t0 + dt.timedelta(seconds=2500), 25.0)],
        "user_id string, ts timestamp, rv double",
    )
    row = asof_join(left, right, ["user_id"], payload=["rv"],
                    direction="nearest", tolerance_seconds=900
                    ).collect()[0]
    # nearest is the backward row at distance 1000s; the 900s bound
    # nulls it rather than falling through to the farther forward row
    assert row.rv_asof is None


def test_sessions_capped_gap_and_cap_rules(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.intervals import (
        sessions_capped,
    )

    T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def m(minutes):
        return T0 + dt.timedelta(minutes=minutes)

    # u1: events every 20 min for 3h -> ONE gap-session, split into
    # slices by the 1h cap at offsets 0/60/120 from session start
    rows = [("u1", m(20 * i)) for i in range(10)]
    # u2: two gap-sessions (idle 40 min > 30), neither capped
    rows += [("u2", m(0)), ("u2", m(10)), ("u2", m(50)), ("u2", m(55))]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = sorted(
        sessions_capped(
            df, keys=["conv_id"], gap_minutes=30, cap_hours=1
        ).collect(),
        key=lambda r: (r.conv_id, r.session_start),
    )
    u1 = [r for r in got if r.conv_id == "u1"]
    u2 = [r for r in got if r.conv_id == "u2"]
    # u1 slices: [0,20,40], [60,80,100], [120,140,160], [180]
    assert [(r.n_events, r.capped) for r in u1] == [
        (3, False), (3, True), (3, True), (1, True)
    ]
    assert u1[1].session_start == m(60)
    # u2: plain gap split, no caps
    assert [(r.n_events, r.capped) for r in u2] == [(2, False), (2, False)]


def test_clip_to_buckets_hand_cases(spark):
    from timeseriescorrelation_spark.operators.intervals import (
        clip_to_buckets,
    )

    DAY = 86_400_000_000
    rows = [
        # fully inside day 0
        (1, 1_000, 2_000),
        # crosses one midnight: two pieces, lengths 100 and 50
        (2, DAY - 100, DAY + 50),
        # spans three days entirely
        (3, DAY - 10, 3 * DAY + 7),
        # ends exactly on a boundary: NO empty piece in the next day
        (4, DAY // 2, DAY),
        # zero-length: one zero-length piece in its own day
        (5, 2 * DAY + 5, 2 * DAY + 5),
    ]
    df = spark.createDataFrame(rows, "id long, s_us long, e_us long")
    out = clip_to_buckets(df, bucket="day").collect()
    got = sorted(
        (r.id, r.bucket_ts.day - 1, r.e_us - r.s_us) for r in out
    )
    assert got == [
        (1, 0, 1_000),
        (2, 0, 100), (2, 1, 50),
        (3, 0, 10), (3, 1, DAY), (3, 2, DAY), (3, 3, 7),
        (4, 0, DAY // 2),
        (5, 2, 0),
    ]
    # pieces tile the original span exactly: per-id length sum matches
    back = {}
    for r in out:
        back[r.id] = back.get(r.id, 0) + (r.e_us - r.s_us)
    for i, s, e in rows:
        assert back[i] == e - s


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    """CI from the Poisson-multiplier bootstrap must bracket the point
    mean on a well-behaved sample, have lo < hi, and be bit-identical
    across two invocations (pure function of ids)."""
    import datetime as dt

    from timeseriescorrelation_spark.operators.sampling import (
        bootstrap_mean_ci,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        ("c", "m", base + dt.timedelta(minutes=i), i,
         float(50 + (i * 37 % 41) - 20))
        for i in range(400)
    ]
    s = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, "
              "turn_idx int, value double")
    a = bootstrap_mean_ci(s).collect()
    assert len(a) == 1
    r = a[0]
    assert r.boot_lo < r.mean_amt < r.boot_hi
    assert (r.boot_hi - r.boot_lo) < 10.0   # tight at n=400
    b = bootstrap_mean_ci(s).collect()
    assert a == b
