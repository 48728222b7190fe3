"""Sequence diagnostics over the hourly aggregate grid: AR(2)
Yule-Walker fit + one-step forecast, Lo-MacKinlay variance-ratio,
Wald-Wolfowitz runs test, turning-points randomness test, Allan
variance, and a Page-Hinkley drift scan.

All six follow the engine's aggregate-first discipline: the raw scan
collapses to |metrics|·|hours| rows in ONE map-side-combined hash
aggregation (exact integer cent sums, `exact.bucket_cents`),
and every statistic after that runs over the tiny grid — window lags
partitioned per (metric, day) are ≤24-row frames over aggregates, so
the whole family is 100-TB-safe regardless of raw turn count.

Exactness: `functions.exact` (integer division only in documented
floor-DIVs).

Sequence convention: operators that need consecutive observations
(lags, runs, turning points) operate on the SEQUENCE of observed
hourly values ordered by hour_ts — a gap in the grid splices the
neighbours together rather than injecting zeros/NULLs.  That matches
the reference's normalized-dataset view (missing hour = missing, not
zero); the dense-grid variant is one gapfill (`operators/gapfill`)
away and composes in front of any of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    co_moment,
    moments,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_us


def ar2_forecast(series: DataFrame, key: str = "metric",
                 min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, r1, r2, phi1, phi2, forecast):
    per-day AR(2) fit by Yule-Walker over each metric's hourly
    cent-sum sequence, plus the one-step-ahead forecast from the last
    two observations.  The closed form over exact integer moments:

        C_k  = n²·P_k − n·S·(A_k + B_k) + (n−k)·S²      (integer)
        r_k  = C_k / C_0
        φ1   = C_1·(C_0 − C_2) / (C_0² − C_1²)
        φ2   = (C_2·C_0 − C_1²) / (C_0² − C_1²)
        x̂    = m + φ1·(x_n − m) + φ2·(x_{n−1} − m),  m = S/n

    where P_k = Σ x_t·x_{t+k}, A_k = Σ_{t≤n−k} x_t (head sum),
    B_k = Σ_{t>k} x_t (tail sum) — the n³ scaling of the sample
    autocovariance cancels in every ratio, so the integers C_k are
    the only state.  C_k values (~10²⁰ at extreme hours) exceed 2⁵³,
    but both engines convert the SAME exact integer to double with
    round-to-nearest before the identical expression tree, so the
    6-dp rounded outputs still agree (the beta_daily precedent).

    Degenerate days (constant series → C0²=C1², or n < min_hours)
    drop out.  Scale: one hash-agg to the grid, one ≤24-row window
    per (metric, day), one hash-agg — no raw-row shuffle.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    lagged = h.select(
        F.col(key), day.alias("day_ts"), "hour_ts", "y",
        F.lag("y", 1).over(
            Window.partitionBy(key, day).orderBy("hour_ts")
        ).alias("y1"),
        F.lag("y", 2).over(
            Window.partitionBy(key, day).orderBy("hour_ts")
        ).alias("y2"),
    )
    g = lagged.groupBy(key, "day_ts").agg(
        *moments("y", names="n s p0"),
        F.sum(wide("y") * wide("y1")).alias("p1"),
        F.sum(wide("y") * wide("y2")).alias("p2"),
        F.sum(wide("y1")).alias("a1"),
        F.sum(wide(F.when(F.col("y1").isNotNull(), F.col("y")))).alias("b1"),
        F.sum(wide("y2")).alias("a2"),
        F.sum(wide(F.when(F.col("y2").isNotNull(), F.col("y")))).alias("b2"),
        F.max_by("y", "hour_ts").alias("xn"),
        F.max_by("y1", "hour_ts").alias("xn1"),
    ).where(F.col("n") >= min_hours)

    n, s = F.col("n"), F.col("s")
    c0 = (n * n * F.col("p0") - n * s * (s + s) + n * s * s).cast("double")
    c1 = (n * n * F.col("p1") - n * s * (F.col("a1") + F.col("b1"))
              + (n - 1) * s * s).cast("double")
    c2 = (n * n * F.col("p2") - n * s * (F.col("a2") + F.col("b2"))
              + (n - 2) * s * s).cast("double")
    den = c0 * c0 - c1 * c1
    phi1 = F.when(den != 0, c1 * (c0 - c2) / den)
    phi2 = F.when(den != 0, (c2 * c0 - c1 * c1) / den)
    m = s.cast("double") / n.cast("double")
    fc = (
        (m + phi1 * (F.col("xn").cast("double") - m)
         + phi2 * (F.col("xn1").cast("double") - m)) / F.lit(float(SCALE))
    )
    return g.where(c0 > 0).select(
        key, "day_ts", n.cast("long").alias("n_hours"),
        F.round(c1 / c0, 6).alias("r1"),
        F.round(c2 / c0, 6).alias("r2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(fc, 6).alias("forecast"),
    )


def variance_ratio(series: DataFrame, key: str = "metric",
                   q: int = 4, min_hours: int = 10) -> DataFrame:
    """(metric, day_ts, q, n1, nq, vr): Lo-MacKinlay variance-ratio
    test statistic per metric-day — VR(q) = Var(q-step deltas) /
    (q · Var(1-step deltas)) over overlapping windows of the hourly
    cent-sum sequence.  VR ≈ 1 for a random walk; < 1 mean-reverting;
    > 1 trending.  Population variances over exact integer deltas:

        VR = (nq·Σdq² − (Σdq)²) · n1² / (q · nq² · (n1·Σd1² − (Σd1)²))

    one double expression over decimal moments, rounded 6 dp.  Days
    with zero 1-step variance (constant series) drop out.

    Scale: identical shape to ar2_forecast — grid agg, per-(metric,
    day) ≤24-row lag window, hash-agg.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    wspec = Window.partitionBy(key, day).orderBy("hour_ts")
    d = h.select(
        F.col(key), day.alias("day_ts"),
        (F.col("y") - F.lag("y", 1).over(wspec)).alias("d1"),
        (F.col("y") - F.lag("y", int(q)).over(wspec)).alias("dq"),
    )
    g = d.groupBy(key, "day_ts").agg(
        wide(F.count("d1")).alias("n1"),
        F.sum(wide("d1")).alias("s1"),
        F.sum(wide("d1") * wide("d1")).alias("s11"),
        wide(F.count("dq")).alias("nq"),
        F.sum(wide("dq")).alias("sq"),
        F.sum(wide("dq") * wide("dq")).alias("sqq"),
    ).where(
        (F.col("n1") + 1 >= min_hours) & (F.col("nq") >= 2)
    )
    var1 = co_moment("n1", "s1", "s1", "s11").cast("double")
    varq = co_moment("nq", "sq", "sq", "sqq").cast("double")
    vr = F.when(
        var1 > 0,
        varq * F.col("n1").cast("double") * F.col("n1").cast("double")
        / (F.lit(float(q)) * F.col("nq").cast("double")
           * F.col("nq").cast("double") * var1),
    )
    return g.where(var1 > 0).select(
        key, "day_ts", F.lit(int(q)).alias("q"),
        F.col("n1").cast("long").alias("n1"),
        F.col("nq").cast("long").alias("nq"),
        F.round(vr, 6).alias("vr"),
    )


def runs_test(series: DataFrame, key: str = "metric",
              min_signs: int = 8) -> DataFrame:
    """(metric, day_ts, pos, neg, runs, z): Wald-Wolfowitz runs test
    on the SIGNS of nonzero hourly deltas per metric-day — too few
    runs means momentum/trending, too many means oscillation.  Zero
    deltas are dropped (the conditional-on-signs convention), then

        R  = 1 + Σ 1[s_t ≠ s_{t−1}]     (over the filtered sequence)
        μR = 2pm/(p+m) + 1
        σR² = 2pm(2pm−p−m) / ((p+m)²(p+m−1))
        z  = (R − μR)/σR

    p = #positive, m = #negative — all integers; z is one double
    expression, 6 dp.  Days with p=0 or m=0 (monotone) drop out.

    Scale: grid agg → two ≤24-row windows (delta, then sign-change
    over the filtered rows) → hash-agg; aggregates only.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    wspec = Window.partitionBy(key, day).orderBy("hour_ts")
    d = h.select(
        F.col(key), day.alias("day_ts"), "hour_ts",
        (F.col("y") - F.lag("y", 1).over(wspec)).alias("d"),
    ).where(F.col("d").isNotNull() & (F.col("d") != 0))
    w2 = Window.partitionBy(key, "day_ts").orderBy("hour_ts")
    signs = d.select(
        F.col(key), "day_ts",
        (F.col("d") > 0).cast("int").alias("s"),
        F.lag((F.col("d") > 0).cast("int"), 1).over(w2).alias("sp"),
    )
    g = signs.groupBy(key, "day_ts").agg(
        F.sum("s").alias("pos"),
        F.sum(1 - F.col("s")).alias("neg"),
        (1 + F.sum(
            F.when(F.col("sp").isNotNull()
                   & (F.col("s") != F.col("sp")), 1).otherwise(0)
        )).alias("runs"),
    ).where(
        (F.col("pos") > 0) & (F.col("neg") > 0)
        & (F.col("pos") + F.col("neg") >= min_signs)
    )
    p, mm, r = (F.col("pos").cast("double"), F.col("neg").cast("double"),
                F.col("runs").cast("double"))
    nn = p + mm
    mu = F.lit(2.0) * p * mm / nn + F.lit(1.0)
    var = (F.lit(2.0) * p * mm * (F.lit(2.0) * p * mm - nn)
           / (nn * nn * (nn - F.lit(1.0))))
    z = F.when(var > 0, (r - mu) / F.sqrt(var))
    return g.select(
        key, "day_ts",
        F.col("pos").cast("long").alias("pos"),
        F.col("neg").cast("long").alias("neg"),
        F.col("runs").cast("long").alias("runs"),
        F.round(z, 6).alias("z"),
    )


def turning_points(series: DataFrame, key: str = "metric",
                   min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, tp, z): turning-points randomness
    test per metric-day — count strict local extrema of the hourly
    sequence (sign flip between the backward and forward delta) and
    z-score against the i.i.d. expectation

        E[T] = 2(n−2)/3,   Var[T] = (16n − 29)/90.

    Ties (a zero delta on either side) do not count as turning
    points — the strict-extremum convention, deterministic in both
    engines.  Counts are integers; z is one double expression, 6 dp.

    Scale: grid agg → one ≤24-row lag/lead window → hash-agg.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    wspec = Window.partitionBy(key, day).orderBy("hour_ts")
    d = h.select(
        F.col(key), day.alias("day_ts"),
        (F.col("y") - F.lag("y", 1).over(wspec)).alias("db"),
        (F.lead("y", 1).over(wspec) - F.col("y")).alias("df"),
    )
    g = d.groupBy(key, "day_ts").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(
            F.when(
                ((F.col("db") > 0) & (F.col("df") < 0))
                | ((F.col("db") < 0) & (F.col("df") > 0)), 1
            ).otherwise(0)
        ).alias("tp"),
    ).where(F.col("n_hours") >= min_hours)
    nd, td = F.col("n_hours").cast("double"), F.col("tp").cast("double")
    mu = F.lit(2.0) * (nd - F.lit(2.0)) / F.lit(3.0)
    var = (F.lit(16.0) * nd - F.lit(29.0)) / F.lit(90.0)
    return g.select(
        key, "day_ts", F.col("n_hours").cast("long").alias("n_hours"),
        F.col("tp").cast("long").alias("tp"),
        F.round((td - mu) / F.sqrt(var), 6).alias("z"),
    )


def allan_variance(series: DataFrame, key: str = "metric",
                   taus: tuple[int, ...] = (1, 2, 4)) -> DataFrame:
    """(metric, tau_h, m_pairs, avar_num, avar): Allan variance of
    each metric's hourly cent-sum rate at averaging windows of τ
    hours — the clock-stability statistic, here reading "how stable
    is this metric's level once averaged over τ hours?".  With
    S_b = Σ cents over a FULL τ-hour bucket (exactly τ observed
    hours) and consecutive buckets b, b+1:

        AVAR(τ) = Σ (S_{b+1} − S_b)² / (2·M·τ²·scale²)

    M = #consecutive full-bucket pairs.  The numerator is a pure
    integer (decimal) sum; partial buckets and gap-adjacent pairs are
    excluded so every difference compares equal-length windows.
    avar is in value²-units (scale² divides the cents² numerator).

    Scale: one grid agg, one bucket hash-agg (|metrics|·|hours|/τ
    rows), one lag window over buckets, one final hash-agg.
    """
    h = bucket_cents(series, [key], "hour")
    hidx = (F.unix_micros("hour_ts") / F.lit(3_600_000_000)).cast(
        "long"
    )
    rows = []
    for tau in taus:
        t = int(tau)
        b = h.select(
            F.col(key), (hidx / t).cast("long").alias("bkt"), "y"
        ).groupBy(key, "bkt").agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum(wide("y")).alias("sb"),
        ).where(F.col("nh") == t)
        wspec = Window.partitionBy(key).orderBy("bkt")
        d = b.select(
            F.col(key),
            (F.col("bkt") - F.lag("bkt", 1).over(wspec)).alias("gap"),
            (F.col("sb") - F.lag("sb", 1).over(wspec)).alias("dd"),
        ).where(F.col("gap") == 1)
        g = d.groupBy(key).agg(
            F.count(F.lit(1)).alias("m_pairs"),
            F.sum(wide("dd") * wide("dd")).alias("num"),
        ).where(F.col("m_pairs") >= 2)
        rows.append(
            g.select(
                key, F.lit(t).alias("tau_h"),
                F.col("m_pairs").cast("long").alias("m_pairs"),
                F.col("num").cast("double").alias("avar_num"),
                F.round(
                    F.col("num").cast("double")
                    / (F.lit(2.0) * F.col("m_pairs").cast("double")
                       * F.lit(float(t * t * SCALE * SCALE))),
                    6,
                ).alias("avar"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def page_hinkley(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, n_hours, ph_max, ph_hour_ts): Page-Hinkley drift scan
    per metric over the full hourly sequence — the maximum upward
    excursion of the cumulative deviation from the series' own mean:

        PH = max_t [ m_t − min_{s≤t} m_s ],
        m_t = Σ_{i≤t} (x_i − x̄)

    Division-free exact form: scale by n — m'_t = n·cumsum_t − t·S is
    a pure integer (decimal) under a per-metric running window, the
    running min and the max excursion stay integer, and only the
    final report divides: ph_max = PH'/(n·scale).  The argmax hour is
    chosen by (excursion DESC, hour ASC) — deterministic under ties.

    Scale: per-metric window over the |hours| grid (metadata-sized
    partitions); one hash-agg ends it.  This is the batch scan; the
    streaming twin is the cusum family (`streaming/cusum_stream`).
    """
    h = bucket_cents(series, [key], "hour")
    wcum = (
        Window.partitionBy(key).orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = h.groupBy(key).agg(
        F.sum(wide("y")).alias("s_all"),
        wide(F.count(F.lit(1))).alias("n_all"),
    )
    cum = h.join(tot, key).select(
        F.col(key), "hour_ts", "n_all",
        (
            F.col("n_all") * F.sum(wide("y")).over(wcum)
            - wide(F.count(F.lit(1)).over(wcum)) * F.col("s_all")
        ).alias("mprime"),
    )
    exc = cum.select(
        F.col(key), "hour_ts", "n_all",
        (F.col("mprime") - F.min("mprime").over(wcum)).alias("exc"),
    )
    # earliest hour achieving the max excursion — a second window
    # pass over the same per-metric aggregate partition (exact
    # decimal comparison), deterministic under ties via min(hour_ts)
    wall = Window.partitionBy(key)
    scored = exc.withColumn("ph_raw", F.max("exc").over(wall))
    return scored.where(F.col("exc") == F.col("ph_raw")).groupBy(
        key
    ).agg(
        F.max("n_all").cast("long").alias("n_hours"),
        F.round(
            F.max("ph_raw").cast("double")
            / (F.max("n_all").cast("double") * F.lit(float(SCALE))), 6
        ).alias("ph_max"),
        F.min("hour_ts").alias("ph_hour_ts"),
    )


def record_counts(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, n_hours, up_records, down_records, expected_records):
    record-counting trend test per metric over the full hourly
    cent-sum sequence — the number of strict running-maximum breaks
    (and running-minimum breaks), vs the i.i.d. expectation H_n =
    Σ_{k=1..n} 1/k.  Many more up-records than H_n is drift the same
    way too few runs is momentum; unlike mann_kendall this is O(n)
    per series, so it IS a scale-path trend screen.

    The first observation counts as both an up- and a down-record
    (the textbook convention).  Strict inequality: re-touching the
    running max is not a record — ties resolve identically in both
    engines on exact integers.  expected_records is floor-quantized
    at 1e-6 per term (Σ 10⁶ DIV k), so the harmonic sum is an exact
    integer cross-engine — no float summation-order hazard.

    Scale: grid hash-agg → one per-metric running-extreme window over
    aggregate rows → per-metric hash-agg; the harmonic sum explodes a
    1..n sequence per METRIC (|metrics|·|hours| rows, born post-agg).
    """
    h = bucket_cents(series, [key], "hour")
    wprev = (
        Window.partitionBy(key).orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = h.select(
        F.col(key),
        F.when(
            F.max("y").over(wprev).isNull()
            | (F.col("y") > F.max("y").over(wprev)), 1
        ).otherwise(0).alias("up"),
        F.when(
            F.min("y").over(wprev).isNull()
            | (F.col("y") < F.min("y").over(wprev)), 1
        ).otherwise(0).alias("down"),
    )
    g = flagged.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("up").alias("up_records"),
        F.sum("down").alias("down_records"),
    )
    harm = g.select(
        F.col(key),
        F.explode(F.sequence(F.lit(1), F.col("n_hours"))).alias("k"),
    ).groupBy(key).agg(
        F.sum(F.expr("CAST(1000000 DIV k AS LONG)")).alias("h_u")
    )
    return g.join(harm, key).select(
        key,
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("up_records").cast("long").alias("up_records"),
        F.col("down_records").cast("long").alias("down_records"),
        F.round(F.col("h_u").cast("double") / F.lit(1e6), 6)
        .alias("expected_records"),
    )


def newey_west(series: DataFrame, key: str = "metric",
               max_lag: int = 6, min_hours: int = 24) -> DataFrame:
    """(metric, n_hours, mean_v, se_iid, se_hac, hac_ratio): the
    serial-correlation-robust (Newey-West/HAC, Bartlett kernel)
    standard error of each metric's mean hourly cent sum — the honest
    error bar for autocorrelated series, where the i.i.d. SE is a lie
    (hourly traffic IS autocorrelated; hac_ratio > 1 says by how
    much every downstream t-test was overconfident):

        se²_hac = [C₀ + 2·Σ_{k≤L} (1 − k/(L+1))·C_k] / n⁴

    with the same n-scaled exact-integer autocovariances C_k as
    ar2_forecast (C_k = n²P_k − nS(A_k+B_k) + (n−k)S²).  Multiplying
    through by (L+1) keeps the Bartlett weights integral:

        V' = (L+1)·C₀ + 2·Σ (L+1−k)·C_k        (exact decimal38)
        se_hac = sqrt(V'/(L+1)) / (n²·scale)

    V' ≥ 0 is the Bartlett kernel's PSD guarantee.  The sequence
    follows the splice convention (observed hours; gaps join
    neighbours).  Degenerate series (constant → C₀ = 0, or
    n < min_hours) drop out.

    Scale: grid hash-agg → per-metric lag window over aggregate rows
    (max_lag lag columns in ONE window pass) → one hash-agg.
    """
    lags = list(range(1, int(max_lag) + 1))
    h = bucket_cents(series, [key], "hour")
    wspec = Window.partitionBy(key).orderBy("hour_ts")
    sel = [F.col(key), F.col("y")]
    for k in lags:
        sel.append(F.lag("y", k).over(wspec).alias(f"y{k}"))
    lagged = h.select(*sel)
    aggs = [
        *moments("y", names="n s p0"),
    ]
    for k in lags:
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(wide("y") * wide(yk)).alias(f"p{k}"),
            F.sum(wide(yk)).alias(f"a{k}"),
            F.sum(wide(F.when(yk.isNotNull(), F.col("y"))))
            .alias(f"b{k}"),
        ]
    g = lagged.groupBy(key).agg(*aggs).where(F.col("n") >= min_hours)
    n, s = F.col("n"), F.col("s")
    c0 = n * n * F.col("p0") - n * s * (s + s) + n * s * s
    vprime = (max_lag + 1) * c0
    for k in lags:
        ck = (
            n * n * F.col(f"p{k}")
            - n * s * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (n - k) * s * s
        )
        vprime = vprime + 2 * (max_lag + 1 - k) * ck
    lp1 = float(max_lag + 1)
    nd = n.cast("double")
    den = nd * nd * F.lit(float(SCALE))
    se_iid = F.sqrt(c0.cast("double")) / den
    se_hac = F.sqrt(vprime.cast("double") / F.lit(lp1)) / den
    ratio = F.sqrt(
        vprime.cast("double") / (F.lit(lp1) * c0.cast("double"))
    )
    return g.where(
        (c0.cast("double") > 0) & (vprime.cast("double") >= 0)
    ).select(
        key, n.cast("long").alias("n_hours"),
        F.round(s.cast("double") / nd / F.lit(float(SCALE)), 6)
        .alias("mean_v"),
        F.round(se_iid, 6).alias("se_iid"),
        F.round(se_hac, 6).alias("se_hac"),
        F.round(ratio, 6).alias("hac_ratio"),
    )


def crossing_rate(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, n, crossings, crossing_rate): mean-crossing
    count per metric-day — how often the (time-ordered) series crosses
    its own daily mean; white noise crosses ≈ half the steps, a
    trending or sticky series far less (the zero-crossing cousin of
    runs_test, on levels instead of signs of change).

    Sign against the mean is the INTEGER sign of n·c − T (no float
    mean ever compared); a crossing is a consecutive pair with
    product −1 (zeros break runs but never count).  One lag window
    inside (metric, day) partitions, then one hash agg.

    Scale: window partitions are (metric, day) — bounded, parallel;
    output is grid-sized."""
    pt = series.select(
        F.col(key).alias("metric"),
        F.date_trunc("day", "ts").alias("day_ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("turn_idx").cast("long").alias("o"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    day = pt.groupBy("metric", "day_ts").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("t_tot")
    )
    j = pt.join(day, ["metric", "day_ts"])
    sgn = F.signum(
        (F.col("n") * F.col("c") - F.col("t_tot")).cast("double")
    ).cast("long")
    w = Window.partitionBy("metric", "day_ts").orderBy("t_us", "o")
    with_lag = j.select(
        "metric", "day_ts", "n", sgn.alias("s"),
        F.lag(sgn).over(w).alias("s_prev"),
    )
    out = with_lag.groupBy("metric", "day_ts").agg(
        F.max("n").alias("n"),
        F.sum(
            (F.col("s") * F.col("s_prev") == -1).cast("long")
        ).alias("crossings"),
    )
    return out.where(F.col("n") >= 2).select(
        "metric", "day_ts",
        F.col("n").cast("long").alias("n"),
        F.col("crossings").cast("long").alias("crossings"),
        F.round(
            F.col("crossings").cast("double")
            / (F.col("n").cast("double") - F.lit(1.0)), 6
        ).alias("crossing_rate"),
    )


def kpss_level(series: DataFrame, key: str = "metric",
               max_lag: int = 6, min_hours: int = 24) -> DataFrame:
    """(metric, n_hours, eta, is_level_stationary): the KPSS test for
    level stationarity per metric's hourly cent-sum series — the
    complement of a unit-root test: here STATIONARITY is the null, so
    a small η keeps it and a large η says the series wanders.

        η = (1/n²)·Σ_t S_t² / σ̂²_LR

    with S_t the partial sums of the demeaned series and σ̂²_LR the
    Bartlett long-run variance (Newey-West, lag L).  Both pieces ride
    machinery this module already proves exact:

      · S_t·n = n·cumsum_t − t·T — dfa/acf's integer profile trick, so
        Σ S_t²·n² = Σ P_t² accumulates as exact decimal38/hugeint;
      · σ̂²_LR's n²-scaled Bartlett sum is newey_west's V′ verbatim
        (V′ = n²(L+1)·[C′₀ + 2Σ(1−k/(L+1))C′_k]).

    The n-powers cancel into ONE integer-rational form:

        η = (L+1)·ΣP_t² / (n·V′)

    a single double divide rounded 6 dp; the 5%-critical-value verdict
    (η < 0.463) is decided by INTEGER cross-multiplication
    (1000·(L+1)·ΣP² < 463·n·V′), exact even on-threshold.  The
    sequence follows the splice convention (observed hours; gaps join
    neighbours).  Degenerate series (V′ ≤ 0 or n < min_hours) drop.

    Scale: grid hash-agg → ONE window pass per metric (row_number,
    running sum, L lag columns over aggregate rows) → one hash-agg."""
    lags = list(range(1, int(max_lag) + 1))
    lp1 = int(max_lag) + 1
    h = bucket_cents(series, [key], "hour")
    w = Window.partitionBy(key).orderBy("hour_ts")
    w_full = Window.partitionBy(key)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sel = [
        F.col(key), F.col("y"),
        wide(F.row_number().over(w)).alias("t"),
        wide(F.sum("y").over(w_cum)).alias("cum"),
        wide(F.count(F.lit(1)).over(w_full)).alias("nn"),
        wide(F.sum("y").over(w_full)).alias("tt"),
    ]
    for k in lags:
        sel.append(F.lag("y", k).over(w).alias(f"y{k}"))
    lagged = h.select(*sel)
    p = F.col("nn") * F.col("cum") - F.col("t") * F.col("tt")
    aggs = [
        *moments("y", names="n s p0"),
        F.sum(p * p).alias("sp2"),
    ]
    for k in lags:
        yk = F.col(f"y{k}")
        aggs += [
            F.sum(wide("y") * wide(yk)).alias(f"p{k}"),
            F.sum(wide(yk)).alias(f"a{k}"),
            F.sum(wide(F.when(yk.isNotNull(), F.col("y"))))
            .alias(f"b{k}"),
        ]
    g = lagged.groupBy(key).agg(*aggs).where(F.col("n") >= min_hours)
    n, s = F.col("n"), F.col("s")
    c0 = n * n * F.col("p0") - n * s * (s + s) + n * s * s
    vprime = lp1 * c0
    for k in lags:
        ck = (
            n * n * F.col(f"p{k}")
            - n * s * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (n - k) * s * s
        )
        vprime = vprime + 2 * (lp1 - k) * ck
    g = g.withColumn("vp", vprime)
    return g.where(F.col("vp").cast("double") > 0).select(
        key,
        n.cast("long").alias("n_hours"),
        F.round(
            F.lit(float(lp1)) * F.col("sp2").cast("double")
            / (n.cast("double") * F.col("vp").cast("double")), 6
        ).alias("eta"),
        (
            F.lit(1000 * lp1) * F.col("sp2")
            < F.lit(463) * n * F.col("vp")
        ).alias("is_level_stationary"),
    )


def df_unitroot(series: DataFrame, key: str = "metric",
                min_hours: int = 24) -> DataFrame:
    """(metric, n_obs, gamma, t_stat, has_unit_root): the (un-augmented)
    Dickey-Fuller unit-root test per metric's hourly cent-sum series —
    KPSS's mirror image (here the unit root is the null; the two
    together give the classic four-quadrant stationarity readout):

        Δy_t = α + γ·y_{t−1} + ε_t,   reject unit root if t_γ < −2.86
                                       (5% critical, constant case)

    Closed-form simple OLS on exact integers: with m usable rows and
    the n-scaled centered moments Cxx = m·Σx²−(Σx)², Czz, Cxz over
    x = y_{t−1}, z = Δy,

        γ = Cxz/Cxx,     t² = (m−2)·Cxz² / (Cxx·Czz − Cxz²)

    (the r²-identity form — no residual pass).  Moments accumulate in
    decimal(38,0)/hugeint; γ and t are a handful of IEEE ops over the
    exact integers, mirrored operation-for-operation in the oracle, so
    the 6-dp rounds and the sign test agree bit-for-bit.  Augmentation
    lags (the "A" in ADF) would add lag-Δy regressors — the ols_multi
    normal-equations machinery is the seam; the DF form is the
    sequence-level screen.  The sequence follows the splice convention
    (observed hours; gaps join neighbours).  Degenerate series
    (Cxx·Czz = Cxz², constant, or m < min_hours) drop.

    Scale: grid hash-agg → one lag window per metric → one hash-agg."""
    h = bucket_cents(series, [key], "hour")
    w = Window.partitionBy(key).orderBy("hour_ts")
    lagged = h.select(
        F.col(key),
        F.lag("y", 1).over(w).alias("x"),
        (F.col("y") - F.lag("y", 1).over(w)).alias("z"),
    ).where(F.col("x").isNotNull())
    g = lagged.groupBy(key).agg(
        *moments("x", "z", names="m sx sz sxx szz sxz"),
    ).where(F.col("m") >= min_hours)
    m = F.col("m")
    cxx = co_moment("m", "sx", "sx", "sxx")
    czz = co_moment("m", "sz", "sz", "szz")
    cxz = co_moment("m", "sx", "sz", "sxz")
    g = g.select(
        key, m.alias("mm"),
        cxx.cast("double").alias("dxx"), czz.cast("double").alias("dzz"),
        cxz.cast("double").alias("dxz"),
    ).where(
        (F.col("dxx") > 0)
        & (F.col("dxx") * F.col("dzz")
           - F.col("dxz") * F.col("dxz") > 0)
    )
    det = F.col("dxx") * F.col("dzz") - F.col("dxz") * F.col("dxz")
    t = (
        F.col("dxz") * F.sqrt(F.col("mm").cast("double") - F.lit(2.0))
        / F.sqrt(det)
    )
    return g.select(
        key,
        F.col("mm").cast("long").alias("n_obs"),
        F.round(F.col("dxz") / F.col("dxx"), 6).alias("gamma"),
        F.round(t, 6).alias("t_stat"),
        (~(t < F.lit(-2.86))).alias("has_unit_root"),
    )


def adf_augmented(series: DataFrame, key: str = "metric", p: int = 1,
                  min_hours: int = 30) -> DataFrame:
    """(metric, n_obs, gamma, t_stat, has_unit_root): AUGMENTED
    Dickey-Fuller with p ∈ {1, 2} lagged-difference regressors — the
    "A" df_unitroot's docstring promised through the ols_multi
    normal-equations seam (round-3 verdict task #8):

        Δy_t = α + γ·y_{t−1} + Σᵢ₌₁..p φᵢ·Δy_{t−i} + ε_t

    reject the unit root when t_γ < −2.86 (5% constant case, same
    asymptotic critical value as DF).

    Exactness recipe (ols2_daily's Cramer route, one more size up):
    every centered moment S_ab = m·Σab − Σa·Σb over the cent-integer
    columns is an exact decimal(38,0)/hugeint, cast once to double;
    then γ = (S⁻¹·S_y)₁ by Cramer, the γ-variance uses the matching
    cofactor,

        t_γ = γ / sqrt( s²·m·cof_γγ/det ),
        s²  = RSS/(m − p − 2),   RSS = (S_yy − Σᵦ βᵢ·S_iy)/m

    — one fixed IEEE tree over identical doubles in both engines, so
    6-dp rounds agree bit-for-bit.  Degenerate designs (det ≤ 0,
    nonpositive RSS, m < min_hours) drop.  Verified against a
    statsmodels-style hand recursion in tests/test_adf.py.

    Scale: grid hash-agg → p+1 lag columns in ONE window pass per
    metric → one hash-agg of the (p+2)(p+3)/2 moments.  The sequence
    follows the splice convention (observed hours; gaps join
    neighbours), matching df_unitroot."""
    if p not in (1, 2):
        raise ValueError("p must be 1 or 2")
    h = bucket_cents(series, [key], "hour")
    w = Window.partitionBy(key).orderBy("hour_ts")
    z = F.col("y") - F.lag("y", 1).over(w)
    base = h.select(
        F.col(key),
        "hour_ts",
        F.lag("y", 1).over(w).alias("x"),
        z.alias("z"),
    )
    lag_cols = [F.lag("z", i).over(
        Window.partitionBy(key).orderBy("hour_ts")
    ).alias(f"d{i}") for i in range(1, p + 1)]
    lagged = base.select(F.col(key), "x", "z", *lag_cols)
    cond = F.col("x").isNotNull()
    for i in range(1, p + 1):
        cond = cond & F.col(f"d{i}").isNotNull()
    rows = lagged.where(cond)

    regs = ["x"] + [f"d{i}" for i in range(1, p + 1)]
    names = {r: str(i + 1) for i, r in enumerate(regs)}
    aggs = [*moments("z", names="m sy syy")]
    for r in regs:
        aggs.append(F.sum(wide(r)).alias(f"s{names[r]}"))
        aggs.append(F.sum(wide(r) * wide("z")).alias(f"s{names[r]}y"))
    for a in range(len(regs)):
        for b in range(a, len(regs)):
            ra, rb = regs[a], regs[b]
            aggs.append(
                F.sum(wide(ra) * wide(rb))
                .alias(f"s{names[ra]}{names[rb]}")
            )
    g = rows.groupBy(key).agg(*aggs).where(
        F.col("m") >= int(min_hours)
    )

    m = F.col("m")

    def cen(sab, sa, sb):
        return (m * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")

    md = m.cast("double")
    Syy = cen("syy", "sy", "sy")
    if p == 1:
        S11, S22 = cen("s11", "s1", "s1"), cen("s22", "s2", "s2")
        S12 = cen("s12", "s1", "s2")
        S1y, S2y = cen("s1y", "s1", "sy"), cen("s2y", "s2", "sy")
        det = S11 * S22 - S12 * S12
        gam = (S22 * S1y - S12 * S2y) / det
        b2 = (S11 * S2y - S12 * S1y) / det
        rssm = Syy - gam * S1y - b2 * S2y      # = m²·RSS
        cof = S22
        k = 2
    else:
        S11, S22, S33 = (cen("s11", "s1", "s1"),
                         cen("s22", "s2", "s2"),
                         cen("s33", "s3", "s3"))
        S12, S13, S23 = (cen("s12", "s1", "s2"),
                         cen("s13", "s1", "s3"),
                         cen("s23", "s2", "s3"))
        S1y, S2y, S3y = (cen("s1y", "s1", "sy"),
                         cen("s2y", "s2", "sy"),
                         cen("s3y", "s3", "sy"))
        det = (S11 * (S22 * S33 - S23 * S23)
               - S12 * (S12 * S33 - S23 * S13)
               + S13 * (S12 * S23 - S22 * S13))
        gam = (S1y * (S22 * S33 - S23 * S23)
               - S12 * (S2y * S33 - S23 * S3y)
               + S13 * (S2y * S23 - S22 * S3y)) / det
        b2 = (S11 * (S2y * S33 - S3y * S23)
              - S1y * (S12 * S33 - S23 * S13)
              + S13 * (S12 * S3y - S2y * S13)) / det
        b3 = (S11 * (S22 * S3y - S23 * S2y)
              - S12 * (S12 * S3y - S2y * S13)
              + S1y * (S12 * S23 - S22 * S13)) / det
        rssm = Syy - gam * S1y - b2 * S2y - b3 * S3y
        cof = S22 * S33 - S23 * S23
        k = 3
    # Var(γ) = s²·m·(S⁻¹)_γγ with s² = (rssm/m)/(m−k−1):
    # the m's cancel → Var = rssm·cof / ((m−k−1)·det)
    t = gam / F.sqrt(
        rssm * cof / ((md - F.lit(float(k + 1))) * det)
    )
    return g.where((det > 0) & (rssm > 0)).select(
        key,
        m.cast("long").alias("n_obs"),
        F.round(gam, 6).alias("gamma"),
        F.round(t, 6).alias("t_stat"),
        (~(t < F.lit(-2.86))).alias("has_unit_root"),
    )


def streak_report(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, n_days, max_up_streak, max_down_streak, last_len,
    last_dir): longest consecutive-day up/down runs of each metric's
    daily cent sum, plus the streak it is currently on — the
    records-and-runs readout behind "7 days of declining traffic"
    alerts (runs_test asks IF the sign sequence is random; this
    reports the actual runs).

    Pure gaps-and-islands on EXACT integers: sign of the daily delta
    (cent units, so zero means exactly flat and breaks both runs),
    island id = running count of sign CHANGES (one cumulative window),
    then two hash-aggs (per-island lengths → per-metric maxima).  No
    doubles anywhere.

    Scale: one lag window + one cumulative window over per-metric DAY
    counts (tiny partitions at any corpus size), two hash-aggs."""
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    sgn = F.signum(
        (F.col("y") - F.lag("y", 1).over(w)).cast("double")
    ).cast("int")
    dd = d.select(key, "day_ts", sgn.alias("s")).where(
        F.col("s").isNotNull()
    )
    chg = F.when(
        F.lag("s", 1).over(w).isNull()
        | (F.col("s") != F.lag("s", 1).over(w)),
        1,
    ).otherwise(0)
    # materialize the change flag BEFORE the cumulative sum — a window
    # expression cannot nest inside another window's argument
    flagged = dd.withColumn("chg", chg)
    isl = flagged.select(
        key, "day_ts", "s",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("isl"),
    )
    runs = isl.groupBy(key, "isl", "s").agg(
        F.count(F.lit(1)).alias("len"),
        F.max("day_ts").alias("run_end"),
    )
    wl = Window.partitionBy(key)
    last = runs.withColumn(
        "is_last", F.col("run_end") == F.max("run_end").over(wl)
    )
    return last.groupBy(key).agg(
        (F.sum("len") + 1).cast("long").alias("n_days"),
        F.max(F.when(F.col("s") == 1, F.col("len")))
         .cast("long").alias("max_up_streak"),
        F.max(F.when(F.col("s") == -1, F.col("len")))
         .cast("long").alias("max_down_streak"),
        F.max(F.when(F.col("is_last"), F.col("len")))
         .cast("long").alias("last_len"),
        F.max(F.when(F.col("is_last"), F.col("s"))).alias("last_dir"),
    )


def jarque_bera(series: DataFrame, key: str = "metric",
                min_deltas: int = 6) -> DataFrame:
    """(metric, n_deltas, skew_g1, kurt_excess, jb, p_value):
    Jarque-Bera normality test per metric over the DAILY DELTAS of
    the cent-sum series — the moment-based member of the diagnostic
    family (runs_test: sign sequence; turning_points: local shape;
    this: are the day-over-day changes Gaussian?  The answer gates
    every σ-based alert threshold downstream — a heavy-tailed g2
    means 3σ fires far more often than the normal table promises).
    Deltas, not levels: levels trend (normality is vacuously false);
    differencing is where the Gaussian question is meaningful.

        JB = n/6 · (g1² + g2²/4),   p = exp(−JB/2)

    (JB is asymptotically χ²₂, whose survival function is EXACTLY
    exp(−x/2) — no incomplete-gamma approximation needed.)  g1/g2
    ride moments_daily's n-power-cancelled algebra over EXACT
    decimal38/hugeint power sums S1..S4 of the integer deltas:

        B = n·S2 − S1²,  A = n²·S3 − 3n·S1·S2 + 2·S1³,
        C = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴
        g1 = A/B^1.5,  g2 = C/B² − 3     (B^1.5 spelled B·√B)

    one shared double tree, 6 dp.  NULL when B = 0 (constant
    deltas).  Headroom: |Δ| ≤ 10⁸ cents with n ≤ 10³ days keeps
    every product < 10³⁶; ANSI decimal overflow errors loudly, never
    wraps.

    Scale: one hash-agg to the per-metric day grid, one lag window
    over |days| rows per metric (calendar-bounded), one hash-agg —
    no raw-row second pass."""
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    v = (F.col("y") - F.lag("y", 1).over(w))
    dd = d.select(key, v.alias("v")).where(F.col("v").isNotNull())
    x = wide("v")
    g = dd.groupBy(key).agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    ).where(F.col("n") >= int(min_deltas))
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3",
                                            "s4"))
    two, three, four, six = (wide(F.lit(k)) for k in (2, 3, 4, 6))
    b = (n * s2 - s1 * s1).cast("double")
    a = (n * n * s3 - three * n * s1 * s2
         + two * s1 * s1 * s1).cast("double")
    c = (n * n * n * s4 - four * n * n * s1 * s3
         + six * n * s1 * s1 * s2
         - three * s1 * s1 * s1 * s1).cast("double")
    nd = n.cast("double")
    g1 = a / (b * F.sqrt(b))
    g2 = c / (b * b) - F.lit(3.0)
    jb = nd / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    return g.select(
        key,
        n.cast("long").alias("n_deltas"),
        F.when(b > 0, F.round(g1, 6)).alias("skew_g1"),
        F.when(b > 0, F.round(g2, 6)).alias("kurt_excess"),
        F.when(b > 0, F.round(jb, 6)).alias("jb"),
        F.when(b > 0, F.round(F.exp(-jb / F.lit(2.0)), 6))
         .alias("p_value"),
    )


def durbin_watson(series: DataFrame, key: str = "metric",
                  min_days: int = 8) -> DataFrame:
    """(metric, n_days, dw, rho_lag1): Durbin-Watson statistic on the
    residuals of each metric's daily OLS trend — the classic "did the
    regression leave autocorrelation behind?" diagnostic that decides
    whether trend_daily's slope CI can be believed (DW ≈ 2 clean,
    → 0 positive residual autocorrelation, → 4 negative; rho_lag1 =
    1 − DW/2 is the implied AR(1) coefficient).

    Exact-integer route: with t the 0-based ORDINAL day index and
    Bx = nΣt² − (Σt)², By = nΣty − ΣtΣy, the denominator-cleared
    residual

        E_t = n·Bx·y_t − Bx·Σy + By·Σt − n·By·t   ( = n·Bx·e_t )

    is an exact integer, and the clearing factor cancels in the
    ratio:

        DW = Σ(e_t−e_{t−1})² / Σe_t² = Σ(E_t−E_{t−1})² / ΣE_t²

    — ONE double divide of exact decimal38/hugeint sums, 6 dp.  NULL
    when ΣE² = 0 (perfectly linear series).  Ordinal t (not calendar
    day) so Δt = 1 between consecutive observations, the form DW
    assumes.  Headroom: |y| ≤ 10⁸ cents, n ≤ 10³ days keeps
        ΣE² ≤ n·(n·Bx·y)² ~ n⁹y² ≤ 10³⁷; ANSI errors loudly beyond.

    Scale: one hash-agg to the per-metric day grid, one ordinal
    window + one broadcast-sized agg join, one lag window, one final
    hash-agg — every post-grid stage is calendar-bounded."""
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    dd = d.select(
        key, "day_ts",
        wide("y").alias("y"),
        wide(F.row_number().over(w) - 1).alias("t"),
    )
    agg = dd.groupBy(key).agg(
        *moments("t", "y", names="n st sy stt - sty"),
    ).where(F.col("n") >= int(min_days))
    j = dd.join(F.broadcast(agg), key)
    bx = co_moment("n", "st", "st", "stt")
    by = co_moment("n", "st", "sy", "sty")
    e_t = (
        F.col("n") * bx * F.col("y") - bx * F.col("sy")
        + by * F.col("st") - F.col("n") * by * F.col("t")
    )
    r = j.select(key, "day_ts", F.col("n").alias("n"),
                 e_t.alias("e"))
    de = F.col("e") - F.lag("e", 1).over(w)
    r2 = r.select(key, "n", "e", de.alias("de"))
    g = r2.groupBy(key).agg(
        F.max("n").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(F.col("de") * F.col("de")).alias("sdd"),
    )
    dw = F.col("sdd").cast("double") / F.col("see").cast("double")
    return g.select(
        key,
        F.col("n").cast("long").alias("n_days"),
        F.when(F.col("see") > 0, F.round(dw, 6)).alias("dw"),
        F.when(F.col("see") > 0,
               F.round(F.lit(1.0) - dw / F.lit(2.0), 6))
         .alias("rho_lag1"),
    )


def arch_lm(series: DataFrame, key: str = "metric",
            min_pairs: int = 12) -> DataFrame:
    """(metric, n_pairs, r2, lm_stat): Engle's ARCH LM test (lag 1)
    per metric over the HOURLY DELTAS of the cent-sum series — does
    volatility cluster?  Squared changes z_t = (Δy_t)² are regressed
    on their own lag; under no-ARCH the slope is 0 and

        LM = n · R²(z_t, z_{t−1})

    is asymptotically χ²₁.  A significant LM means calm hours follow
    calm hours and wild hours follow wild ones — exactly the regime
    where every constant-σ alert threshold (anomaly_1h, cusum) under-
    and over-fires by turns; compare |LM| downstream against the χ²₁
    table (the grubbs/mann_kendall policy: no erf in either engine).

    Deltas, not deviations: differencing removes the level/trend so
    no mean-model join is needed, and z_t stays an EXACT integer —
    the whole statistic rides decimal38 power sums with the
    jarque_bera headroom bound (|Δ| ≤ 10⁸ cents, n ≤ 10⁴ hours keeps
    every product < 10³⁷; ANSI decimal overflow errors loudly, never
    wraps).  R² is the squared exact-moment Pearson correlation, one
    shared double tree, 6 dp; NULL when either variance is 0.

    Sequence convention: lags run over the observed hourly sequence
    (gaps splice, module policy).  Scale: one hash-agg to the hour
    grid, two lag windows per metric over grid rows, one hash-agg."""
    h = bucket_cents(series, [key], "hour")
    w = Window.partitionBy(key).orderBy("hour_ts")
    d = h.select(
        key, "hour_ts",
        (F.col("y") - F.lag("y", 1).over(w)).alias("dy"),
    ).where(F.col("dy").isNotNull())
    z = d.select(
        key, "hour_ts",
        (wide("dy") * wide("dy")).alias("z"),
    )
    p = z.select(
        key,
        F.col("z").alias("v"),
        F.lag("z", 1).over(w).alias("u"),
    ).where(F.col("u").isNotNull())
    g = p.groupBy(key).agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum("u").alias("su"),
        F.sum("v").alias("sv"),
        F.sum(F.col("u") * F.col("v")).alias("suv"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    ).where(F.col("n") >= int(min_pairs))
    n, su, sv = F.col("n"), F.col("su"), F.col("sv")
    cov = (n * F.col("suv") - su * sv).cast("double")
    vu = (n * F.col("suu") - su * su).cast("double")
    vv = (n * F.col("svv") - sv * sv).cast("double")
    r2 = F.when((vu > 0) & (vv > 0), cov * cov / (vu * vv))
    return g.select(
        key,
        n.cast("long").alias("n_pairs"),
        F.round(r2, 6).alias("r2"),
        F.round(n.cast("double") * r2, 6).alias("lm_stat"),
    )
