"""Time-integral aggregates (timeweight.py): hand-built fixtures with
known segment geometry — mid-bucket arrival, cross-bucket gap clamp,
equal-ts duplicates, heartbeat overlap/truncation, state runs."""

from __future__ import annotations

import datetime as dt

from timeseriescorrelation_spark.operators.timeweight import (
    heartbeat_coverage,
    state_durations,
    time_weighted_avg,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(sec):
    return T0 + dt.timedelta(seconds=sec)


def _series(spark, rows):
    return spark.createDataFrame(
        [("c1", "m", _ts(s), i, float(v)) for i, (s, v) in enumerate(rows)],
        "conv_id string, metric string, ts timestamp, turn_idx int, "
        "value double",
    )


def test_twa_weights_by_held_time(spark):
    # hour bucket 0: v=10 holds 600s (t=0..600), v=40 holds to bucket
    # end (600..3600 = 3000s)  ->  twa = (10*600 + 40*3000)/3600 = 35
    # hour bucket 1: single point arriving mid-bucket (t=3700), holds
    # to bucket end: dur = 7200-3700 = 3500s, twa = its own value
    df = _series(spark, [(0, 10.0), (600, 40.0), (3700, 7.0)])
    out = {
        r["bucket_ts"]: r
        for r in time_weighted_avg(df, "hour", value_decimals=2).collect()
    }
    b0 = out[_ts(0)]
    assert b0["n_pts"] == 2 and b0["dur_s"] == 3600.0
    assert abs(b0["twa"] - 35.0) < 1e-9
    b1 = out[_ts(3600)]
    assert b1["n_pts"] == 1 and b1["dur_s"] == 3500.0
    assert abs(b1["twa"] - 7.0) < 1e-9


def test_twa_burst_not_overweighted(spark):
    # ten samples of 100 in the first 10s, then 0 for the rest of the
    # hour: plain avg = 90.9, time-weighted = ~0.28 — the operator's
    # whole point
    rows = [(i, 100.0) for i in range(10)] + [(10, 0.0)]
    out = time_weighted_avg(_series(spark, rows), "hour",
                            value_decimals=2).collect()
    assert len(out) == 1
    assert out[0]["twa"] < 0.3


def test_twa_equal_ts_duplicate_gets_zero_weight(spark):
    # two points at t=0 (tie-broken by turn_idx): the first holds 0s,
    # the second holds the whole hour
    df = _series(spark, [(0, 999.0), (0, 5.0)])
    out = time_weighted_avg(df, "hour", value_decimals=2).collect()
    assert len(out) == 1
    assert abs(out[0]["twa"] - 5.0) < 1e-9


def _beats(spark, rows):
    return spark.createDataFrame(
        [("c1", _ts(s), i) for i, s in enumerate(rows)],
        "conv_id string, ts timestamp, turn_idx int",
    )


def test_heartbeat_overlap_and_truncation(spark):
    # interval 900s: beats at 0 and 60 overlap (the first contributes
    # only 60s, up to the next beat), the second runs its full 900s;
    # an isolated beat at 10000 adds another 900  ->  1860s covered
    out = heartbeat_coverage(_beats(spark, [0, 60, 10000]), 900,
                             "day").collect()
    assert len(out) == 1
    assert out[0]["n_beats"] == 3
    assert out[0]["covered_s"] == 60.0 + 900.0 + 900.0
    assert abs(out[0]["uptime_pct"] - 1860.0 * 100 / 86400) < 1e-6


def test_heartbeat_clamped_at_day_end(spark):
    # beat 5 minutes before midnight: only 300s of its 900s window
    # fall inside the day
    out = heartbeat_coverage(_beats(spark, [86400 - 300]), 900,
                             "day").collect()
    assert len(out) == 1 and out[0]["covered_s"] == 300.0


def _events(spark, rows):
    return spark.createDataFrame(
        [("c1", st, _ts(s), i) for i, (s, st) in enumerate(rows)],
        "conv_id string, state string, ts timestamp, turn_idx int",
    )


def test_state_durations_runs_and_totals(spark):
    # A(0..100) A(100..250) B(250..400) A(400..day end): A has 2 runs,
    # 3 events, 250 + (86400-400) s; B has 1 run, 150 s
    df = _events(spark, [(0, "A"), (100, "A"), (250, "B"), (400, "A")])
    out = {r["state"]: r for r in state_durations(df, "day").collect()}
    assert out["A"]["n_events"] == 3 and out["A"]["n_entries"] == 2
    assert out["A"]["total_s"] == 250.0 + (86400.0 - 400.0)
    assert out["B"]["n_events"] == 1 and out["B"]["n_entries"] == 1
    assert out["B"]["total_s"] == 150.0
