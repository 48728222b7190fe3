"""Nonparametric/contingency tests (operators/nptests, plus
acf.ljung_box and tsdiag.record_counts): hand-built fixtures with
closed-form answers — zero-chi2 independence, perfect 2x2 association
(chi2 = N), two-group Kruskal-Wallis by hand, all-wins sign test,
monotone record counts, and a Ljung-Box consistency check against the
engine's own ACF rows."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from timeseriescorrelation_spark.operators.acf import (
    acf_spectrum,
    ljung_box,
)
from timeseriescorrelation_spark.operators.nptests import (
    chi2_independence,
    kruskal_wallis,
    sign_test_dod,
)
from timeseriescorrelation_spark.operators.tsdiag import record_counts

T0 = dt.datetime(2024, 3, 4, 0, 0, 0)  # a Monday

SERIES_SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int, value double"
)
EVENTS_SCHEMA = "event_type string, ts timestamp"


def _series(spark, rows):
    return spark.createDataFrame(rows, SERIES_SCHEMA)


def test_chi2_zero_when_independent(spark):
    # row shares identical across two weekdays -> N*O == R*C exactly
    rows = []
    for day, mult in ((0, 1), (1, 2)):
        ts = T0 + dt.timedelta(days=day)
        rows += [("A", ts)] * (20 * mult) + [("B", ts)] * (10 * mult)
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    r = chi2_independence(df).collect()
    assert len(r) == 1
    assert r[0].n_events == 90 and r[0].df == 1
    assert r[0].chi2 == 0.0


def test_chi2_perfect_association_equals_n(spark):
    # 2x2 diagonal table -> chi2 == N (phi coefficient 1)
    rows = (
        [("A", T0)] * 10
        + [("B", T0 + dt.timedelta(days=1))] * 10
    )
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    r = chi2_independence(df).collect()[0]
    assert r.n_events == 20 and r.n_rows == 2 and r.n_cols == 2
    assert r.chi2 == pytest.approx(20.0, abs=2e-6)


def test_kruskal_two_groups_hand_math(spark):
    # Monday values rank 1-5, Tuesday 6-10, no ties:
    # H = 12/(10*11) * (15^2/5 + 40^2/5) - 3*11
    rows = []
    for i in range(5):
        rows.append(("c", "m", T0 + dt.timedelta(hours=i), i, 1.0 + i))
    for i in range(5):
        rows.append(
            ("c", "m", T0 + dt.timedelta(days=1, hours=i), i, 6.0 + i)
        )
    r = kruskal_wallis(_series(spark, rows)).collect()
    assert len(r) == 1
    row = r[0]
    assert row.n_hours == 10 and row.k_groups == 2 and row.tie_sum == 0
    expected = 12.0 * 365.0 / 110.0 - 33.0
    assert row.h == pytest.approx(expected, abs=2e-6)


def test_kruskal_all_tied_null(spark):
    # every value identical -> tie correction hits 0 -> NULL H
    rows = [
        ("c", "m", T0 + dt.timedelta(days=d, hours=i), i, 5.0)
        for d in range(2) for i in range(5)
    ]
    r = kruskal_wallis(_series(spark, rows)).collect()
    assert len(r) == 1 and r[0].h is None
    assert r[0].tie_sum == 10 ** 3 - 10


def test_sign_test_all_wins(spark):
    rows = []
    for i in range(8):
        rows.append(("c", "m", T0 + dt.timedelta(hours=i), i, 1.0))
        rows.append(
            ("c", "m", T0 + dt.timedelta(days=1, hours=i), i, 2.0)
        )
    r = sign_test_dod(_series(spark, rows)).collect()
    assert len(r) == 1
    row = r[0]
    assert row.wins == 8 and row.losses == 0 and row.n_pairs == 8
    assert row.z == pytest.approx(8.0 / math.sqrt(8.0), abs=2e-6)


def test_sign_test_ties_dropped(spark):
    # 2 of 8 hours equal -> they contribute to neither side
    rows = []
    for i in range(8):
        rows.append(("c", "m", T0 + dt.timedelta(hours=i), i, 1.0))
        v2 = 1.0 if i < 2 else 2.0
        rows.append(
            ("c", "m", T0 + dt.timedelta(days=1, hours=i), i, v2)
        )
    r = sign_test_dod(_series(spark, rows)).collect()
    assert len(r) == 1
    assert r[0].n_pairs == 6 and r[0].wins == 6 and r[0].losses == 0


def test_sign_test_min_pairs_filters(spark):
    rows = []
    for i in range(5):  # only 5 pairs < min_pairs=6
        rows.append(("c", "m", T0 + dt.timedelta(hours=i), i, 1.0))
        rows.append(
            ("c", "m", T0 + dt.timedelta(days=1, hours=i), i, 2.0)
        )
    assert sign_test_dod(_series(spark, rows)).count() == 0


def test_record_counts_monotone(spark):
    rows = [
        ("c", "m", T0 + dt.timedelta(hours=i), i, float(i + 1))
        for i in range(10)
    ]
    r = record_counts(_series(spark, rows)).collect()
    assert len(r) == 1
    row = r[0]
    assert row.n_hours == 10
    assert row.up_records == 10 and row.down_records == 1
    h_u = sum(1_000_000 // k for k in range(1, 11))
    assert row.expected_records == pytest.approx(h_u / 1e6, abs=2e-6)


def test_record_counts_retouch_not_record(spark):
    # 1, 3, 3, 2, 3 -> ups at t0 (first) and t1 only: re-touching the
    # running max (t2, t4) is not a record
    vals = [1.0, 3.0, 3.0, 2.0, 3.0]
    rows = [
        ("c", "m", T0 + dt.timedelta(hours=i), i, v)
        for i, v in enumerate(vals)
    ]
    r = record_counts(_series(spark, rows)).collect()[0]
    assert r.up_records == 2 and r.down_records == 1


def test_ljung_box_consistent_with_acf(spark):
    # alternating event counts (2 per even hour, 1 per odd) over 30 h
    # -> strong negative lag-1 ACF; Q must equal the hand-assembled
    # portmanteau over the engine's own ACF rows (same pico-snap)
    rows = []
    for i in range(30):
        n = 2 if i % 2 == 0 else 1
        for j in range(n):
            rows.append(
                ("c", "m", T0 + dt.timedelta(hours=i), i * 10 + j, 1.0)
            )
    df = _series(spark, rows)
    acf_rows = acf_spectrum(df).collect()
    n_grid = max(r.n_pairs + r.lag_h for r in acf_rows)
    s_u = sum(
        int(r.acf * r.acf / r.n_pairs * 1e12 + 0.5)
        for r in acf_rows if r.acf is not None
    )
    expected = n_grid * (n_grid + 2.0) * (s_u / 1e12)
    out = ljung_box(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n_hours == 30 == n_grid
    assert row.k_used == sum(1 for r in acf_rows if r.acf is not None)
    assert row.q_lb == pytest.approx(expected, abs=2e-6)
    assert row.q_lb > 10.0  # alternation is real serial structure


def test_ljung_box_degenerate_constant(spark):
    # constant counts -> zero variance at every lag -> no terms
    rows = [
        ("c", "m", T0 + dt.timedelta(hours=i), i, 1.0) for i in range(30)
    ]
    r = ljung_box(_series(spark, rows)).collect()
    assert len(r) == 1 and r[0].k_used == 0 and r[0].q_lb is None


def test_wilcoxon_positive_ramp_hand_value(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        wilcoxon_signed,
    )

    # week2 - week1 diffs = +1, +2, +3 cents: ranks 1,2,3 all positive
    # -> W+ = 6, n = 3, z = (6 - 3)/sqrt(3.5) = 1.603567
    rows = []
    for i, (v1, v2) in enumerate(((1.00, 1.01), (1.00, 1.02),
                                  (1.00, 1.03))):
        rows.append(("c", "m", T0 + dt.timedelta(days=i), 0, v1))
        rows.append(("c", "m", T0 + dt.timedelta(days=7 + i), 0, v2))
    r = wilcoxon_signed(_series(spark, rows), min_pairs=1).collect()
    assert len(r) == 1
    assert r[0].n_pairs == 3 and r[0].w2_plus == 12
    assert r[0].tie_sum == 0
    assert r[0].z == pytest.approx(3.0 / math.sqrt(3.5), abs=2e-6)


def test_wilcoxon_ties_and_mixed_sign(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        wilcoxon_signed,
    )

    # diffs +1, -1, +2: |d| ties at 1 share avg rank 1.5 (r2 = 3),
    # |2| gets rank 3 (r2 = 6); W2+ = 3 + 6 = 9, tie_sum = 2^3-2 = 6,
    # z = 1.5/sqrt(162/48) = 0.816497
    rows = []
    for i, (v1, v2) in enumerate(((1.00, 1.01), (1.00, 0.99),
                                  (1.00, 1.02))):
        rows.append(("c", "m", T0 + dt.timedelta(days=i), 0, v1))
        rows.append(("c", "m", T0 + dt.timedelta(days=7 + i), 0, v2))
    r = wilcoxon_signed(_series(spark, rows), min_pairs=1).collect()[0]
    assert r.n_pairs == 3 and r.w2_plus == 9 and r.tie_sum == 6
    assert r.z == pytest.approx(1.5 / math.sqrt(162.0 / 48.0), abs=2e-6)


def test_wilcoxon_zero_diffs_drop(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        wilcoxon_signed,
    )

    rows = []
    for i, (v1, v2) in enumerate(((1.00, 1.01), (1.00, 1.00),
                                  (1.00, 1.02), (1.00, 1.03))):
        rows.append(("c", "m", T0 + dt.timedelta(days=i), 0, v1))
        rows.append(("c", "m", T0 + dt.timedelta(days=7 + i), 0, v2))
    r = wilcoxon_signed(_series(spark, rows), min_pairs=1).collect()[0]
    assert r.n_pairs == 3  # the exactly-flat pair vanished


def test_brown_forsythe_hand_value(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        brown_forsythe_weekend,
    )

    # weekday cents {0,2,2,4}: lower med 2, z = {2,0,0,2} -> S0=4, Q0=8
    # weekend cents {0,4,4,8}: lower med 4, z = {4,0,0,4} -> S1=8, Q1=32
    # bnum = 8*(4*16+4*64) - 16*144 = 256; wnum = 8*(16*40-320) = 2560
    # F = 6*256/2560 = 0.6 exactly
    wd = [(T0 + dt.timedelta(days=i), v)
          for i, v in ((0, 0.00), (1, 0.02), (2, 0.02), (3, 0.04))]
    we = [(T0 + dt.timedelta(days=d), v)
          for d, v in ((5, 0.00), (6, 0.04), (12, 0.04), (13, 0.08))]
    rows = [("c", "m", ts, 0, v) for ts, v in wd + we]
    r = brown_forsythe_weekend(_series(spark, rows)).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_weekday == 4 and r.n_weekend == 4
    assert r.med_weekday == pytest.approx(0.02)
    assert r.med_weekend == pytest.approx(0.04)
    assert r.f_stat == pytest.approx(0.6, abs=1e-9)


def test_brown_forsythe_constant_groups_null_f(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        brown_forsythe_weekend,
    )

    rows = [("c", "m", T0 + dt.timedelta(days=i), 0, 5.00)
            for i in (0, 1, 2, 3)]
    rows += [("c", "m", T0 + dt.timedelta(days=d), 0, 7.00)
             for d in (5, 6, 12, 13)]
    r = brown_forsythe_weekend(_series(spark, rows)).collect()[0]
    assert r.med_weekday == pytest.approx(5.0)
    assert r.med_weekend == pytest.approx(7.0)
    assert r.f_stat is None  # zero within-group deviation -> no test


def test_brown_forsythe_min_days_filter(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        brown_forsythe_weekend,
    )

    # only 2 weekend days -> filtered out entirely
    rows = [("c", "m", T0 + dt.timedelta(days=i), 0, float(i))
            for i in (0, 1, 2, 3)]
    rows += [("c", "m", T0 + dt.timedelta(days=d), 0, 9.0)
             for d in (5, 6)]
    assert brown_forsythe_weekend(_series(spark, rows)).count() == 0


def test_bh_adjust_hand_values(spark):
    from timeseriescorrelation_spark.operators.nptests import bh_adjust

    # p = [.01, .02, .04, .5], m = 4: cand = [.04, .04, .053333, .5];
    # reverse running min -> adj = [.04, .04, .053333, .5]
    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.04), ("d", 0.5)],
        "metric string, p_approx double")
    r = {x.metric: x for x in bh_adjust(df).collect()}
    assert [r[k].bh_rank for k in "abcd"] == [1, 2, 3, 4]
    assert r["a"].p_adj == pytest.approx(0.04)
    assert r["b"].p_adj == pytest.approx(0.04)
    assert r["c"].p_adj == pytest.approx(0.053333, abs=1e-6)
    assert r["d"].p_adj == pytest.approx(0.5)
    assert [r[k].significant for k in "abcd"] == [1, 1, 0, 0]


def test_bh_adjust_ties_share_adj(spark):
    from timeseriescorrelation_spark.operators.nptests import bh_adjust

    # tied p at ranks 1-2 must receive identical adj regardless of
    # the row_number tiebreak; monotone non-decreasing in rank
    df = spark.createDataFrame(
        [("x", 0.03), ("y", 0.03), ("z", 0.9)],
        "metric string, p_approx double")
    r = sorted(bh_adjust(df).collect(), key=lambda x: x.bh_rank)
    assert r[0].p_adj == r[1].p_adj == pytest.approx(0.045)
    assert r[2].p_adj == pytest.approx(0.9)
    adj = [x.p_adj for x in r]
    assert adj == sorted(adj)


def test_bh_adjust_all_null_cap(spark):
    from timeseriescorrelation_spark.operators.nptests import bh_adjust

    # adj caps at 1.0 even when m*p/j exceeds it
    df = spark.createDataFrame(
        [("a", 0.8), ("b", 0.9)], "metric string, p_approx double")
    r = {x.metric: x for x in bh_adjust(df).collect()}
    assert r["a"].p_adj == pytest.approx(0.9)  # min(1.6, .9) then cap
    assert r["b"].p_adj == pytest.approx(0.9)
    assert r["a"].significant == 0 and r["b"].significant == 0


def test_bh_adjust_agrees_with_bh_fdr(spark):
    from timeseriescorrelation_spark.operators.activity import bh_fdr
    from timeseriescorrelation_spark.operators.nptests import bh_adjust

    # same inputs, q = 0.25: the adjusted-p report and the exact
    # rational step-up must reject the same set
    ps = [10, 20, 30, 40, 200, 300, 400, 500, 600, 900]
    rat = spark.createDataFrame(
        [("a", i, p, 1000) for i, p in enumerate(ps)],
        "fam string, tid long, p_num long, p_den long")
    rej = {r.tid for r in bh_fdr(rat, ["fam"],
                                 1, 4, order_cols=["tid"]).collect()
           if r.rejected}
    dbl = spark.createDataFrame(
        [(str(i), p / 1000.0) for i, p in enumerate(ps)],
        "metric string, p_approx double")
    sig = {int(r.metric) for r in bh_adjust(dbl, q=0.25).collect()
           if r.significant}
    assert sig == rej == {0, 1, 2, 3}


def test_chi2_cells_perfect_association(spark):
    from timeseriescorrelation_spark.operators.nptests import chi2_cells

    # 2x2 diagonal: O=10 cells get resid (10-5)/sqrt(5*.5*.5) =
    # 4.472136, O=0 cells the negative; V = sqrt(chi2/(N*1)) = 1
    rows = (
        [("A", T0)] * 10                              # Monday
        + [("B", T0 + dt.timedelta(days=1))] * 10     # Tuesday
    )
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    r = {(x.metric, x.dow_iso): x for x in chi2_cells(df).collect()}
    assert set(r) == {("A", 1), ("A", 2), ("B", 1), ("B", 2)}
    assert r[("A", 1)].o == 10 and r[("B", 2)].o == 10
    assert r[("A", 2)].o == 0 and r[("B", 1)].o == 0
    for k in r:
        assert r[k].e == pytest.approx(5.0)
        assert r[k].cramers_v == pytest.approx(1.0, abs=2e-6)
    assert r[("A", 1)].std_resid == pytest.approx(4.472136, abs=1e-6)
    assert r[("A", 2)].std_resid == pytest.approx(-4.472136, abs=1e-6)


def test_chi2_cells_independent_zero_resid(spark):
    from timeseriescorrelation_spark.operators.nptests import chi2_cells

    # identical mix both days -> every residual 0, V = 0
    rows = []
    for day, mult in ((0, 1), (1, 2)):
        ts = T0 + dt.timedelta(days=day)
        rows += [("A", ts)] * (20 * mult) + [("B", ts)] * (10 * mult)
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    for x in chi2_cells(df).collect():
        assert x.std_resid == pytest.approx(0.0, abs=2e-6)
        assert x.cramers_v == pytest.approx(0.0, abs=2e-6)


def test_chi2_cells_iso_weekday_labels(spark):
    from timeseriescorrelation_spark.operators.nptests import chi2_cells

    # T0 is Monday 2024-03-04 -> dow_iso 1; +5 days Saturday -> 6
    rows = [("A", T0), ("A", T0 + dt.timedelta(days=5)),
            ("B", T0), ("B", T0 + dt.timedelta(days=5))]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    assert {x.dow_iso for x in chi2_cells(df).collect()} == {1, 6}


def test_effect_sizes_hand_values(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        effect_sizes_weekend,
    )

    # weekday cents {0,200}, weekend {400,600}: pooled var = 20000,
    # d = 400/sqrt(20000) = 2*sqrt(2); J = 1 - 3/7 = 4/7;
    # delta = 4 wins / 4 pairs = 1
    wd = [(0, 0.00), (1, 2.00)]
    we = [(5, 4.00), (6, 6.00)]
    rows = [("c", "m", T0 + dt.timedelta(days=d), 0, v)
            for d, v in wd + we]
    r = effect_sizes_weekend(_series(spark, rows), min_days=2).collect()
    assert len(r) == 1
    r = r[0]
    assert r.n_weekday == 2 and r.n_weekend == 2
    assert r.cohens_d == pytest.approx(2.0 * math.sqrt(2.0), abs=1e-6)
    assert r.hedges_g == pytest.approx(8.0 * math.sqrt(2.0) / 7.0,
                                       abs=1e-6)
    assert r.cliffs_delta == pytest.approx(1.0)


def test_effect_sizes_constant_arms_null_d(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        effect_sizes_weekend,
    )

    rows = [("c", "m", T0 + dt.timedelta(days=d), 0, 5.00)
            for d in (0, 1)]
    rows += [("c", "m", T0 + dt.timedelta(days=d), 0, 7.00)
             for d in (5, 6)]
    r = effect_sizes_weekend(_series(spark, rows), min_days=2
                             ).collect()[0]
    assert r.cohens_d is None and r.hedges_g is None
    assert r.cliffs_delta == pytest.approx(1.0)  # still fully separated


def test_effect_sizes_sign_and_overlap(spark):
    from timeseriescorrelation_spark.operators.nptests import (
        effect_sizes_weekend,
    )

    # weekend BELOW weekday and interleaved: d < 0, |delta| < 1
    wd = [(0, 4.00), (1, 6.00), (2, 8.00), (3, 10.00)]
    we = [(5, 3.00), (6, 5.00), (12, 7.00), (13, 9.00)]
    rows = [("c", "m", T0 + dt.timedelta(days=d), 0, v)
            for d, v in wd + we]
    r = effect_sizes_weekend(_series(spark, rows)).collect()[0]
    assert r.cohens_d < 0
    # wins(we>wd): pairs where we value > wd value: count by hand =
    # 3+5+7+9 vs {4,6,8,10}: wins 0+1+2+3 = 6, losses 10 -> delta -0.25
    assert r.cliffs_delta == pytest.approx(-0.25)
