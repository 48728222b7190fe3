"""Inter-rater / internal-consistency agreement statistics over the
metric-day grid — the "do my metrics measure the same thing"
family that complements the pair-correlation family (Pearson/
Spearman/CCC/τ-b answer "do TWO metrics co-move"; ICC, Cronbach's
α and Friedman answer it for ALL k metrics at once, and Cohen's κ
for two categorical raters).

Framing (the transcripts-analytics reading): subjects = calendar
days, raters/items = metrics, rating = the day's cent-snapped value
sum.  A fleet whose per-metric daily totals rank days consistently
has high ICC/α; Friedman tests whether any metric systematically
rates days higher; κ checks two independent categorical labelers of
the hour grid (count-band vs user-band).

Exactness: `functions.exact` (doubled ranks and confusion counts are
exact integers too).

Scale (100 TB): every operator collapses the raw scan to the
|metrics| x |days| (or |hours|) CALENDAR-bounded grid in one hash
agg; everything after runs on aggregates.  The Friedman rank join is
k² per day (k = metric count), the κ ntile is a 2-partition window
over the hour grid — none of it grows with raw row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    bucket_cents,
    co_moment,
    moments,
    wide,
)


def _complete_day_grid(series: DataFrame, key: str = "metric") -> DataFrame:
    """(m, day_ts, y): daily cent-sum grid restricted to COMPLETE days
    (days on which every metric observed at least one point) — the
    balanced panel the classical agreement formulas assume.  Two
    stacked hash aggs + one broadcast-sized semi-join."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    k = d.select(F.countDistinct("m").alias("k"))
    complete = (
        d.groupBy("day_ts").agg(F.count(F.lit(1)).alias("c"))
        .join(F.broadcast(k), F.col("c") == F.col("k"))
        .select("day_ts")
    )
    return d.join(F.broadcast(complete), "day_ts")


def icc_oneway(series: DataFrame, key: str = "metric") -> DataFrame:
    """One row (k_raters, n_days, grand_total, msb, msw, icc1):
    ICC(1), the one-way random-effects intraclass correlation of the
    k metrics' daily cent-sums over the complete-day panel —
    "how much of the day-to-day variance is the DAY (shared signal)
    vs the metric (rater noise)".

        SSB = Σ_i S_i²/k − T²/(nk)      (between days)
        SSW = Σ x² − Σ_i S_i²/k          (within days)
        MSB = SSB/(n−1),  MSW = SSW/(n(k−1))
        ICC(1) = (MSB − MSW) / (MSB + (k−1)·MSW)

    S_i = day-i sum across metrics, T = grand total; Σx² and ΣS_i²
    accumulate in decimal(38,0) (cents² overflow long at ~3·10⁹
    cents/day).  The divisions happen once, in ONE double expression
    shared with the oracle, so ICC is bit-comparable cross-engine.

    Scale: grid agg → day agg → single-row final agg; nothing after
    the first hash agg sees raw rows."""
    g = _complete_day_grid(series, key)
    day = g.groupBy("day_ts").agg(
        F.sum("y").alias("s_i"),
        F.sum(wide("y") * wide("y")).alias("sxx_i"),
        F.count(F.lit(1)).alias("k"),
    )
    agg = day.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("k").alias("k_raters"),
        F.sum("s_i").alias("t_tot"),
        F.sum("sxx_i").alias("sxx"),
        F.sum(wide("s_i") * wide("s_i")).alias("srow"),
    )
    n = F.col("n_days").cast("double")
    k = F.col("k_raters").cast("double")
    t = F.col("t_tot").cast("double")
    sxx = F.col("sxx").cast("double")
    srow = F.col("srow").cast("double")
    ssb = srow / k - t * t / (n * k)
    ssw = sxx - srow / k
    msb = ssb / (n - F.lit(1.0))
    msw = ssw / (n * (k - F.lit(1.0)))
    icc = F.when(
        msb + (k - F.lit(1.0)) * msw > 0,
        (msb - msw) / (msb + (k - F.lit(1.0)) * msw),
    )
    return agg.where(
        (F.col("n_days") >= 2) & (F.col("k_raters") >= 2)
    ).select(
        F.col("k_raters").cast("long").alias("k_raters"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("t_tot").cast("long").alias("grand_total"),
        # mean squares reported in VALUE units² (values were scaled by
        # 10²): keeps round(x, 6)'s internal x·10⁶ far from the 2^53
        # cliff where Spark's BigDecimal and DuckDB's multiply-round
        # disagree by an ulp (observed at cents² magnitude ~3.7e9)
        F.round(msb / F.lit(1.0e4), 6).alias("msb"),
        F.round(msw / F.lit(1.0e4), 6).alias("msw"),
        F.round(icc, 6).alias("icc1"),
    )


def cronbach_alpha(series: DataFrame, key: str = "metric") -> DataFrame:
    """One row (k_items, n_days, item_var_sum, total_var, alpha):
    Cronbach's α of the k metrics as a scale over days —

        α = k/(k−1) · (1 − Σ_j var_j / var_total)

    with var_j the sample variance of item j's daily series and
    var_total the variance of the day TOTALS.  The item-variance sum
    telescopes to exact integers — Σ_j var_j = (Σx² − Σ_j C_j²/n)/(n−1)
    with C_j = item-j column sum — so no per-item float variance is
    ever summed (k doubles added in arbitrary order would break
    cross-engine bit equality); decimal(38,0) squares throughout,
    one shared double expression at the end.

    Scale: same grid-then-aggregate shape as icc_oneway; the item
    pass and the day pass are both map-side-combined hash aggs."""
    g = _complete_day_grid(series, key)
    item = g.groupBy("m").agg(
        F.sum("y").alias("c_j"),
        F.sum(wide("y") * wide("y")).alias("sxx_j"),
        F.count(F.lit(1)).alias("n"),
    )
    day = g.groupBy("day_ts").agg(F.sum("y").alias("s_i"))
    a1 = item.agg(
        F.count(F.lit(1)).alias("k_items"),
        F.max("n").alias("n_days"),
        F.sum("c_j").alias("t_tot"),
        F.sum("sxx_j").alias("sxx"),
        F.sum(wide("c_j") * wide("c_j")).alias("scol"),
    )
    a2 = day.agg(F.sum(wide("s_i") * wide("s_i")).alias("srow"))
    agg = a1.crossJoin(F.broadcast(a2))
    n = F.col("n_days").cast("double")
    k = F.col("k_items").cast("double")
    t = F.col("t_tot").cast("double")
    sxx = F.col("sxx").cast("double")
    scol = F.col("scol").cast("double")
    srow = F.col("srow").cast("double")
    item_var_sum = (sxx - scol / n) / (n - F.lit(1.0))
    total_var = (srow - t * t / n) / (n - F.lit(1.0))
    alpha = F.when(
        total_var > 0,
        k / (k - F.lit(1.0)) * (F.lit(1.0) - item_var_sum / total_var),
    )
    return agg.where(
        (F.col("n_days") >= 2) & (F.col("k_items") >= 2)
    ).select(
        F.col("k_items").cast("long").alias("k_items"),
        F.col("n_days").cast("long").alias("n_days"),
        # value-units² for the same round-grid reason as icc_oneway
        F.round(item_var_sum / F.lit(1.0e4), 6).alias("item_var_sum"),
        F.round(total_var / F.lit(1.0e4), 6).alias("total_var"),
        F.round(alpha, 6).alias("alpha"),
    )


def friedman_test(series: DataFrame, key: str = "metric") -> DataFrame:
    """One row (n_days, k_raters, dev2, tie_term, q_stat, q_tiecorr):
    Friedman's rank test — "does any metric SYSTEMATICALLY rate days
    higher than the others" (the nonparametric repeated-measures
    ANOVA; significant Q with high α/ICC means consistent but
    level-shifted raters).

    Within each complete day the k metrics get DOUBLED average ranks
    (r2 = 2·|{worse}| + |{tied incl. self}| + 1 — integers even when
    ties average to .5), so the per-metric rank sums R2_j and the
    centered deviation Σ_j (R2_j − n(k+1))² are exact integers and

        Q = 3·Σ_j (R2_j − n(k+1))² / (n·k·(k+1))

    is one exact-integer ratio.  Tie correction divides Q by
    C = 1 − Σ ties(t³−t) / (n·k·(k²−1)) — tie_term is again an exact
    integer, NULL Q_c when C = 0 (all days fully tied).

    Scale: ranks come from a k-per-day self-join ON THE GRID (k²·D
    comparison rows, calendar-bounded), never a window over raw data."""
    g = _complete_day_grid(series, key)
    o = g.select("day_ts", F.col("m").alias("mo"), F.col("y").alias("yo"))
    r2 = (
        g.join(o, "day_ts")
        .groupBy("day_ts", "m")
        .agg(
            (
                F.lit(2) * F.sum((F.col("yo") < F.col("y")).cast("long"))
                + F.sum((F.col("yo") == F.col("y")).cast("long"))
                + F.lit(1)
            ).alias("r2")
        )
    )
    per_metric = r2.groupBy("m").agg(
        F.sum("r2").alias("r2_j"), F.count(F.lit(1)).alias("n")
    )
    ties = (
        g.groupBy("day_ts", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tie_term")
        )
    )
    # The centered deviation needs k and n, which are only known after
    # the per-metric agg — fold them back with a broadcast of the
    # single-row totals: dev2 = Σ_j (R2_j − n(k+1))².
    tot = per_metric.agg(
        F.count(F.lit(1)).alias("k_raters"), F.max("n").alias("n_days")
    )
    dev = (
        per_metric.crossJoin(F.broadcast(tot))
        .select(
            "k_raters", "n_days",
            (
                (F.col("r2_j")
                 - F.col("n_days") * (F.col("k_raters") + F.lit(1)))
                * (F.col("r2_j")
                   - F.col("n_days") * (F.col("k_raters") + F.lit(1)))
            ).alias("d2"),
        )
        .groupBy("k_raters", "n_days")
        .agg(F.sum("d2").alias("dev2"))
    )
    agg = dev.crossJoin(F.broadcast(ties))
    n = F.col("n_days").cast("double")
    k = F.col("k_raters").cast("double")
    d2 = F.col("dev2").cast("double")
    tt = F.col("tie_term").cast("double")
    q = F.lit(3.0) * d2 / (n * k * (k + F.lit(1.0)))
    c = F.lit(1.0) - tt / (n * k * (k * k - F.lit(1.0)))
    qc = F.when(c > 0, q / c)
    return agg.where(
        (F.col("n_days") >= 2) & (F.col("k_raters") >= 2)
    ).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("k_raters").cast("long").alias("k_raters"),
        F.col("dev2").cast("long").alias("dev2"),
        F.col("tie_term").cast("long").alias("tie_term"),
        F.round(q, 6).alias("q_stat"),
        F.round(qc, 6).alias("q_tiecorr"),
    )


def cohen_kappa(events: DataFrame, n_bands: int = 3) -> DataFrame:
    """One row (n_subjects, n_agree, po, pe, kappa): Cohen's κ between
    two independent categorical labelers of the HOUR grid — rater A
    bands each hour by its event count, rater B by its distinct-user
    count, both into `n_bands` ntile bands over the deterministic
    (measure, hour) total order.  κ = (p_o − p_e)/(1 − p_e) with both
    probabilities exact-integer ratios of confusion-matrix counts.

    High κ = "busy hours are busy however you measure them"; κ near 0
    flags hours where volume and audience decouple (bot bursts: many
    events, few users).

    Determinism: the ntile runs over (value, hour_ts) — a total
    order — inside a window PARTITIONED by measure (2 partitions,
    never the single-partition global sort the plan lint forbids);
    SQL ntile remainder semantics match DuckDB's exactly.

    Scale: hour grid = calendar-bounded; the window sorts |hours|
    rows per measure; the confusion matrix is ≤ n_bands² rows."""
    hours = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col("user_id")).alias("n_users"),
    )
    long = hours.select(
        "hour_ts", F.lit("a").alias("meas"),
        F.col("n_events").cast("long").alias("v"),
    ).unionByName(
        hours.select(
            "hour_ts", F.lit("b").alias("meas"),
            F.col("n_users").cast("long").alias("v"),
        )
    )
    w = Window.partitionBy("meas").orderBy("v", "hour_ts")
    banded = long.select(
        "hour_ts", "meas", F.ntile(int(n_bands)).over(w).alias("band")
    )
    paired = (
        banded.groupBy("hour_ts")
        .pivot("meas", ["a", "b"])
        .agg(F.first("band"))
    )
    conf = paired.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    tot = conf.agg(F.sum("c").alias("n_subjects"))
    diag = conf.where(F.col("a") == F.col("b")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_agree")
    )
    rows = conf.groupBy("a").agg(F.sum("c").alias("ra"))
    cols = conf.groupBy("b").agg(F.sum("c").alias("cb"))
    chance = (
        rows.join(cols, F.col("a") == F.col("b"))
        .agg(
            F.coalesce(
                F.sum(wide("ra") * wide("cb")),
                wide(F.lit(0)),
            ).alias("chance_num")
        )
    )
    agg = tot.crossJoin(F.broadcast(diag)).crossJoin(F.broadcast(chance))
    nn = F.col("n_subjects").cast("double")
    po = F.col("n_agree").cast("double") / nn
    pe = F.col("chance_num").cast("double") / (nn * nn)
    kappa = F.when(pe < 1, (po - pe) / (F.lit(1.0) - pe))
    return agg.where(F.col("n_subjects") > 0).select(
        F.col("n_subjects").cast("long").alias("n_subjects"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(kappa, 6).alias("kappa"),
    )


def kendall_w(series: DataFrame, key: str = "metric") -> DataFrame:
    """One row (n_days, k_raters, dev2, tie_term, w, w_tiecorr):
    Kendall's coefficient of concordance — the EFFECT SIZE behind
    friedman_test's p-value framing (W ∈ [0, 1]: 1 = the days rank
    the metrics identically, 0 = no agreement):

        W  = 3·dev2 / (n²·k·(k²−1))
        W_t = 3·dev2 / (n²·k·(k²−1) − n·Σ(t³−t))   (tie-corrected)

    where dev2 = Σ_j (R2_j − n(k+1))² over DOUBLED ranks — the same
    exact integers friedman_test produces, so both statistics are one
    shared division over the same sufficient statistics (W = Q/(n(k−1))
    when tie-free, asserted in tests)."""
    f = friedman_test(series, key)
    n = F.col("n_days").cast("double")
    k = F.col("k_raters").cast("double")
    d2 = F.col("dev2").cast("double")
    tt = F.col("tie_term").cast("double")
    denom = n * n * k * (k * k - F.lit(1.0))
    denom_t = denom - n * tt
    w = F.lit(3.0) * d2 / denom
    wt = F.when(denom_t > 0, F.lit(3.0) * d2 / denom_t)
    return f.select(
        "n_days", "k_raters", "dev2", "tie_term",
        F.round(w, 6).alias("w"),
        F.round(wt, 6).alias("w_tiecorr"),
    )


def bland_altman(series: DataFrame, key_a: str, key_b: str,
                 key: str = "metric") -> DataFrame:
    """(n_hours, mean_diff, loa_low, loa_high, n_outside, pct_outside):
    Bland–Altman agreement of two metrics' hourly cent series — the
    method-comparison readout next to ICC/CCC/κ: instead of "how
    correlated", it answers "by how much do the two methods DISAGREE,
    and is that stable" (bias = mean difference, limits of agreement
    = bias ± 1.96·SD(diff), share of hours outside the limits).

    Exactness: per-hour differences are exact integer cents; mean and
    SD come from decimal(38,0) moments (sample SD, n−1); the outside
    flag compares the integer diff against the shared double limits —
    identical trees in both engines.  Hours where either side is
    silent drop (inner join on the hour grid).

    Scale: metric-filtered hour hash-agg ×2 → |hours| equi-join →
    one moment agg + one broadcast-join count pass."""
    def part(k):
        return bucket_cents(series.where(F.col(key) == k), [], "hour")

    j = part(key_a).join(
        part(key_b).withColumnRenamed("y", "vb"), "hour_ts"
    ).select("hour_ts", (F.col("y") - F.col("vb")).alias("d"))
    m = j.agg(*moments("d", names="n sd_ sdd"))
    nn = F.col("n").cast("double")
    mu = F.col("sd_").cast("double") / nn
    sd = F.sqrt(
        co_moment("n", "sd_", "sd_", "sdd")
        .cast("double") / (nn * (nn - F.lit(1.0)))
    )
    lims = m.select(
        F.col("n"), mu.alias("mu"),
        (mu - F.lit(1.96) * sd).alias("lo"),
        (mu + F.lit(1.96) * sd).alias("hi"),
    )
    cj = j.crossJoin(F.broadcast(lims))
    out = cj.agg(
        F.max(F.col("n")).alias("n"),
        F.max(F.col("mu")).alias("mu"),
        F.max(F.col("lo")).alias("lo"),
        F.max(F.col("hi")).alias("hi"),
        F.sum(
            (
                (F.col("d").cast("double") < F.col("lo"))
                | (F.col("d").cast("double") > F.col("hi"))
            ).cast("long")
        ).alias("n_outside"),
    )
    fs = F.lit(float(SCALE))
    return out.select(
        F.col("n").cast("long").alias("n_hours"),
        F.round(F.col("mu") / fs, 6).alias("mean_diff"),
        F.round(F.col("lo") / fs, 6).alias("loa_low"),
        F.round(F.col("hi") / fs, 6).alias("loa_high"),
        F.col("n_outside").cast("long").alias("n_outside"),
        F.round(
            F.col("n_outside").cast("double")
            / F.col("n").cast("double"),
            6,
        ).alias("pct_outside"),
    )
