"""Edge-case tests for operators/activity.py — the cases the DuckDB
oracle gate can't see: window clipping, zero-gap streams, weight-rule boundaries, motif census linearity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.activity import (
    burstiness_daily,
    sax_motifs,
    trailing_distinct,
    weighted_median,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "metric string, conv_id string, ts timestamp, "
              "turn_idx int, value double")


def test_trailing_distinct_counts_and_clip(spark):
    # conv A active hour 0; conv B active hours 0 and 2; max hour = 2.
    df = _ev(spark, [
        ("m", "A", T0, 0, 1.0),
        ("m", "B", T0, 1, 1.0),
        ("m", "B", T0 + dt.timedelta(hours=2), 2, 1.0),
    ])
    out = {r["bucket_ts"]: r["n_active"]
           for r in trailing_distinct(df, window_hours=24).collect()}
    # Every bucket from hour 0..2 sees both actors (A's hour-0 activity
    # covers the whole trailing day); nothing past max hour 2 exists.
    assert out == {T0: 2,
                   T0 + dt.timedelta(hours=1): 2,
                   T0 + dt.timedelta(hours=2): 2}


def test_trailing_distinct_window_expiry(spark):
    # With a 2-hour window, A's hour-0 activity covers buckets 0-1 only.
    df = _ev(spark, [
        ("m", "A", T0, 0, 1.0),
        ("m", "B", T0 + dt.timedelta(hours=3), 1, 1.0),
    ])
    out = {r["bucket_ts"]: r["n_active"]
           for r in trailing_distinct(df, window_hours=2).collect()}
    assert out == {T0: 1, T0 + dt.timedelta(hours=1): 1,
                   T0 + dt.timedelta(hours=3): 1}
    # hour 2: A expired, B not yet active -> bucket absent entirely
    assert T0 + dt.timedelta(hours=2) not in out


def test_burstiness_metronome_and_zero_gaps(spark):
    # Metronome: constant gaps -> sigma=0 -> B = -1, cv = 0.
    rows = [("m", "A", T0 + dt.timedelta(seconds=10 * i), i, 1.0)
            for i in range(5)]
    # Zero-gap stream: all events same microsecond -> mu=0 -> NULLs.
    rows += [("z", "B", T0, i, 1.0) for i in range(3)]
    out = {r["metric"]: r for r in burstiness_daily(_ev(spark, rows)).collect()}
    m = out["m"]
    assert m["n_gaps"] == 4
    assert m["mean_gap_s"] == pytest.approx(10.0)
    assert m["burstiness"] == pytest.approx(-1.0)
    assert m["cv"] == pytest.approx(0.0)
    z = out["z"]
    assert z["n_gaps"] == 2
    assert z["burstiness"] is None and z["cv"] is None


def test_weighted_median_rule_boundary(spark):
    # values 1,2,3 with weights 1,1,2: W=4, cum at v=2 is 2 -> 2*2>=4
    # holds AT the boundary -> w_median = 2 (not 3).
    df = spark.createDataFrame(
        [("m", "a", 1.0, 1), ("m", "b", 2.0, 1), ("m", "c", 3.0, 2)],
        "metric string, conv_id string, v double, w long")
    row = weighted_median(df, ["metric"], "v", "w").collect()[0]
    assert (row["n_items"], row["total_w"]) == (3, 4)
    assert row["w_median"] == pytest.approx(2.0)


def test_weighted_median_dominant_weight(spark):
    # One heavy item dominates: w_median is that value regardless of
    # how many light items sort before it.
    df = spark.createDataFrame(
        [("m", c, float(i), 1) for i, c in enumerate("abcde")]
        + [("m", "z", 99.0, 100)],
        "metric string, conv_id string, v double, w long")
    row = weighted_median(df, ["metric"], "v", "w").collect()[0]
    assert row["w_median"] == pytest.approx(99.0)


def test_sax_motifs_census_is_linear_not_pairwise(spark):
    # Three identical-shape days + one different -> exactly one motif
    # word with n_occ=3 (census), never 3 pair rows.
    rows = []
    for d in range(3):
        for seg in range(6):
            rows.append(("m", "A", T0 + dt.timedelta(days=d, hours=4 * seg),
                         d * 10 + seg, float(seg % 2) * 10))
    for seg in range(6):  # strictly increasing day: different word
        rows.append(("m", "A", T0 + dt.timedelta(days=5, hours=4 * seg),
                     100 + seg, float(seg) * 7))
    from timeseriescorrelation_spark.operators.sax import sax_daily

    out = sax_motifs(sax_daily(_ev(spark, rows), segment_hours=4),
                     min_len=6).collect()
    assert len(out) == 1
    assert out[0]["n_occ"] == 3 and out[0]["n_series"] == 1
    assert out[0]["first_day"] == T0
    assert out[0]["last_day"] == T0 + dt.timedelta(days=2)


def test_sax_daily_segment_hours_backcompat(spark):
    # segment_hours=1 must reproduce the original hourly behavior.
    from timeseriescorrelation_spark.operators.sax import sax_daily

    rows = [("m", "A", T0 + dt.timedelta(hours=h), h, float(h))
            for h in range(24)]
    w1 = sax_daily(_ev(spark, rows)).collect()[0]
    assert w1["n_hours"] == 24 and len(w1["sax_word"]) == 24
    w4 = sax_daily(_ev(spark, rows), segment_hours=4).collect()[0]
    # linear ramp 0..23, day sigma=6.922: segment-mean z-scores are
    # -1.44,-.87,-.29,+.29,+.87,+1.44 -> symbols a,a,b,c,d,d
    assert w4["n_hours"] == 6 and w4["sax_word"] == "aabcdd"


def test_decayed_leaderboard_half_life_weights(spark):
    from timeseriescorrelation_spark.operators.activity import (
        decayed_leaderboard,
    )

    # conv A: 100 at "now"; conv B: 150 exactly one half-life earlier
    # -> decayed 75 < 100, so A ranks first despite the smaller raw sum
    df = _ev(spark, [
        ("m", "A", T0 + dt.timedelta(days=1), 0, 100.0),
        ("m", "B", T0, 1, 150.0),
    ])
    out = decayed_leaderboard(df, half_life_s=86400.0, top_k=10).collect()
    got = [(r["rank"], r["series"], r["score"]) for r in
           sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, "A", 100.0), (2, "B", 75.0)]


def test_decayed_leaderboard_top_k_cut(spark):
    from timeseriescorrelation_spark.operators.activity import (
        decayed_leaderboard,
    )

    df = _ev(spark, [("m", f"c{i:02d}", T0, i, float(i)) for i in range(9)])
    out = decayed_leaderboard(df, top_k=3).collect()
    assert len(out) == 3
    assert [r["series"] for r in sorted(out, key=lambda r: r["rank"])] \
        == ["c08", "c07", "c06"]


def test_kanon_report_counts(spark):
    from timeseriescorrelation_spark.operators.privacy import kanon_report

    # QI groups: (a: 3 rows), (b: 1 row) -> k=2: group b below (1 row);
    # k=5: both below (4 rows)
    df = spark.createDataFrame(
        [("a",)] * 3 + [("b",)], "qi string")
    out = {r["k"]: r for r in kanon_report(df, ["qi"], ks=[2, 5]).collect()}
    assert out[2]["n_groups"] == 2
    assert out[2]["n_groups_below"] == 1
    assert out[2]["n_rows_below"] == 1
    assert out[2]["pct_rows_below"] == pytest.approx(0.25)
    assert out[5]["n_groups_below"] == 2
    assert out[5]["n_rows_below"] == 4
    assert out[5]["pct_rows_below"] == pytest.approx(1.0)


def test_conformal_pvalue_exact_ranks(spark):
    from timeseriescorrelation_spark.operators.activity import (
        conformal_pvalue,
    )

    # daily means: d0=1, d1=5, d2=3.  d0: no prior -> p=1.
    # d1: prior {1}, n_ge=0 -> p=1/2.  d2: prior {1,5}, n_ge=1 -> p=2/3.
    rows = [("m", "A", T0 + dt.timedelta(days=d, hours=1), d, float(v))
            for d, v in [(0, 1), (1, 5), (2, 3)]]
    out = {r["day_ts"].day: r for r in
           conformal_pvalue(_ev(spark, rows)).collect()}
    assert out[1]["n_prior"] == 0 and out[1]["p_value"] == 1.0
    assert out[2]["n_prior"] == 1 and out[2]["p_value"] == 0.5
    assert out[3]["n_prior"] == 2 and out[3]["p_value"] == pytest.approx(
        round(2 / 3, 6))
    assert not out[3]["is_anomalous"]


def test_conformal_window_bound(spark):
    from timeseriescorrelation_spark.operators.activity import (
        conformal_pvalue,
    )

    # a day 40 days back must NOT count toward a 28-day window
    rows = [("m", "A", T0, 0, 9.0),
            ("m", "A", T0 + dt.timedelta(days=40), 1, 1.0)]
    out = {r["day_ts"]: r for r in
           conformal_pvalue(_ev(spark, rows)).collect()}
    assert out[T0 + dt.timedelta(days=40)]["n_prior"] == 0


def test_centroid_drift_identical_batches_zero(spark):
    from timeseriescorrelation_spark.operators.similarity import (
        centroid_drift,
    )

    # batches 0 and 1 share the same centroid -> cos 1, drift 0;
    # batch 2 is orthogonal -> cos 0, drift 1.
    rows = ([(i, [1.0, 0.0]) for i in range(4)]          # batch 0
            + [(4 + i, [1.0, 0.0]) for i in range(4)]    # batch 1
            + [(8 + i, [0.0, 2.0]) for i in range(4)])   # batch 2
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["batch"]: r for r in centroid_drift(df, batch_size=4).collect()}
    assert set(out) == {1, 2}
    assert out[1]["cos_prev"] == pytest.approx(1.0)
    assert out[1]["drift"] == pytest.approx(0.0)
    assert out[2]["cos_prev"] == pytest.approx(0.0)
    assert out[2]["drift"] == pytest.approx(1.0)
    assert out[1]["n_vecs"] == 4


def test_gini_even_whale_and_singleton(spark):
    import datetime as dt

    from timeseriescorrelation_spark.operators.activity import (
        gini_concentration,
    )

    T0 = dt.datetime(2024, 5, 1)
    rows = []
    # day 1: four actors with equal counts -> G = 0 exactly
    for a in "abcd":
        for i in range(5):
            rows.append((a, "m", T0 + dt.timedelta(minutes=i), i, 1.0))
    # day 2: whale -- counts (1, 99) -> G = 98/200 = 0.49 exactly
    d2 = T0 + dt.timedelta(days=1)
    rows.append(("small", "m", d2, 0, 1.0))
    for i in range(99):
        rows.append(("whale", "m", d2 + dt.timedelta(minutes=i), i, 1.0))
    # day 3: a single actor -> G = 0 by the n = 1 degenerate rule
    d3 = T0 + dt.timedelta(days=2)
    rows.append(("solo", "m", d3, 0, 1.0))
    df = spark.createDataFrame(
        rows, "conv_id string, metric string, ts timestamp, "
              "turn_idx int, value double"
    )
    got = {r.bucket_ts.day: r for r in gini_concentration(df).collect()}
    assert got[1].gini == 0.0 and got[1].n_actors == 4
    assert got[2].gini == 0.49 and got[2].n_events == 100
    assert got[3].gini == 0.0 and got[3].n_actors == 1


def test_growth_accounting_hand_case(spark):
    from timeseriescorrelation_spark.operators.activity import (
        growth_accounting,
    )

    def d(n, h=9):
        return T0 + dt.timedelta(days=n, hours=h)

    # u1: days 0,1,3  (new, retained, resurrected; churn counted on 2)
    # u2: days 0,2    (new, resurrected; churn on 1 and 3)
    # u3: day 1       (new; churn on 2)
    rows = [("u1", d(0)), ("u1", d(1)), ("u1", d(1, 12)), ("u1", d(3)),
            ("u2", d(0)), ("u2", d(2)), ("u3", d(1))]
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp")
    got = {
        r.day_ts.day: r
        for r in growth_accounting(df).collect()
    }
    assert (got[1].n_active, got[1].n_new, got[1].n_retained,
            got[1].n_resurrected, got[1].n_churned) == (2, 2, 0, 0, 0)
    assert (got[2].n_active, got[2].n_new, got[2].n_retained,
            got[2].n_resurrected, got[2].n_churned) == (2, 1, 1, 0, 1)
    assert (got[3].n_active, got[3].n_resurrected,
            got[3].n_churned) == (1, 1, 2)
    # Jan 4: u1 resurrects; of Jan-3 actives ({u2}) none retained
    assert (got[4].n_resurrected, got[4].n_churned) == (1, 1)
    # telescoping ledger: active(d) - active(d-1) = new + res - churn
    days = sorted(got)
    for a, b in zip(days, days[1:]):
        if b - a == 1:
            assert (got[b].n_active - got[a].n_active
                    == got[b].n_new + got[b].n_resurrected
                    - got[b].n_churned)


EV_SCHEMA = ("event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string")


def _theil_rows(cells):
    # cells: list of (user_id, event_type, value) all on one day
    return [
        (i, T0 + dt.timedelta(minutes=i), u, g, float(v), "{}")
        for i, (u, g, v) in enumerate(cells)
    ]


def test_theil_equal_cells_is_zero(spark):
    from timeseriescorrelation_spark.operators.activity import (
        theil_index_daily,
    )

    cells = [(u, g, 25.0) for u in range(6) for g in ("a", "b")]
    df = spark.createDataFrame(_theil_rows(cells), EV_SCHEMA)
    r = theil_index_daily(df, min_cells=1).collect()[0]
    assert r["theil_total"] == pytest.approx(0.0, abs=1e-6)
    assert r["theil_between"] == pytest.approx(0.0, abs=1e-6)
    assert r["theil_within"] == pytest.approx(0.0, abs=1e-6)


def test_theil_decomposition_additivity_and_between_only(spark):
    from timeseriescorrelation_spark.operators.activity import (
        theil_index_daily,
    )
    import math

    # groups internally equal but different across groups:
    # ALL inequality is between-group
    cells = [(u, "a", 10.0) for u in range(5)] + [
        (u + 10, "b", 40.0) for u in range(5)
    ]
    df = spark.createDataFrame(_theil_rows(cells), EV_SCHEMA)
    r = theil_index_daily(df, min_cells=1).collect()[0]
    assert r["theil_within"] == pytest.approx(0.0, abs=1e-6)
    assert r["theil_total"] == pytest.approx(r["theil_between"], abs=2e-6)
    # closed form: shares 0.2/0.8 over cell shares 0.5/0.5
    exp = 0.2 * math.log(0.2 / 0.5) + 0.8 * math.log(0.8 / 0.5)
    assert r["theil_total"] == pytest.approx(exp, abs=1e-5)

    # arbitrary mixed case: additivity is an identity
    vals = [3, 7, 11, 2, 9, 5, 13, 1, 6, 8]
    cells2 = [
        (i, "a" if i % 2 else "b", float(v)) for i, v in enumerate(vals)
    ]
    r2 = theil_index_daily(
        spark.createDataFrame(_theil_rows(cells2), EV_SCHEMA), min_cells=1
    ).collect()[0]
    assert r2["theil_total"] == pytest.approx(
        r2["theil_between"] + r2["theil_within"], abs=3e-6
    )
    assert r2["theil_total"] > 0
