"""Kaplan-Meier survival estimation over conversation lifetimes —
"what fraction of conversations are still alive after t?" with the
estimator that handles the part naive histograms get wrong: RIGHT
CENSORING.  Conversations still active at the data frontier haven't
died — dropping them biases lifetimes short, counting them as deaths
biases the tail — KM keeps them in the risk set exactly as long as
they were observed.

    S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)

with d_i deaths (conversations whose last event is at t_i, frontier
distance > horizon) and n_i the at-risk count (observed duration
≥ t_i, censored or not).

Cross-engine exactness: each factor enters as
ln((n−d)/n) — ONE division of two exact integers — snapped to integer
micro-nats BEFORE the cumulative sum (the engine's fixed-point trick),
so `logsurv_u` is an exact integer in both engines; the human-facing
`surv` is exp of that integer, 6-dp rounded (same contract as
hll_est's ln).  When n_i = d_i the curve hits exactly zero: that row
reports surv = 0 and a NULL logsurv_u (−∞ has no fixed-point form),
and it is necessarily the last event row (no one remains at risk).

Scale notes (100 TB): the raw scan collapses map-side to one row per
(key, conv) — the same first aggregation every lifetime query pays;
everything after operates on distinct DURATIONS per key (≤ |convs|,
usually far fewer): one descending-range window for risk counts + one
ascending running sum, both partitioned by key.  No grids, no joins
beyond the 1-row-per-key frontier broadcast shape.
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
from timeseriescorrelation_spark.functions.timeutil import epoch_us, weekday

M_U = 1_000_000.0


def _risk_events(series: DataFrame, keys: list[str],
                 horizon_us: int) -> DataFrame:
    """Shared KM/NA scaffold: (keys..., dur, d, n_risk) — death count
    and at-risk count at every uncensored event duration."""
    ev = series.groupBy(*keys, "conv_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("t0"),
        F.max(epoch_us(F.col("ts"))).alias("t1"),
    )
    fr = ev.groupBy(*keys).agg(F.max("t1").alias("fmax"))
    d = ev.join(F.broadcast(fr), keys).select(
        *keys,
        (F.col("t1") - F.col("t0")).alias("dur"),
        ((F.col("fmax") - F.col("t1")) < horizon_us).alias("censored"),
    )
    g = d.groupBy(*keys, "dur", "censored").agg(
        F.count(F.lit(1)).alias("c")
    )
    # at-risk at duration t = everyone observed (censored or not) for
    # >= t: a DESC range frame sums counts over dur >= current dur
    w_risk = (
        Window.partitionBy(*keys)
        .orderBy(F.col("dur").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        *keys, "dur", "censored", "c",
        F.sum("c").over(w_risk).alias("n_risk"),
    )
    return r.where(~F.col("censored")).select(
        *keys, "dur", F.col("c").alias("d"), "n_risk"
    )


def km_survival(series: DataFrame, keys: list[str] | None = None,
                censor_horizon_s: int = 3600) -> DataFrame:
    """(keys..., t_us, n_risk, d_events, logsurv_u, surv): the KM curve
    evaluated at every uncensored event time (duration since the
    conversation's first event, exact µs).  A conversation whose last
    event lies within `censor_horizon_s` of its key's frontier is
    censored (still alive when observation ended)."""
    keys = keys or ["metric"]
    events = _risk_events(series, keys, int(censor_horizon_s) * 1_000_000)
    lnu = F.when(
        F.col("n_risk") > F.col("d"),
        snap(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            ),
            6,
        ),
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = events.select(
        *keys, "dur", "d", "n_risk", lnu.alias("lnu")
    ).select(
        *keys, "dur", "d", "n_risk", "lnu",
        F.sum("lnu").over(w_cum).alias("cum"),
    )
    return out.select(
        *keys,
        F.col("dur").alias("t_us"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.when(F.col("n_risk") > F.col("d"), F.col("cum"))
        .alias("logsurv_u"),
        F.when(F.col("n_risk") == F.col("d"), F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("cum").cast("double") / F.lit(M_U)), 6)
        )
        .alias("surv"),
    )


def na_hazard(series: DataFrame, keys: list[str] | None = None,
              censor_horizon_s: int = 3600) -> DataFrame:
    """(keys..., t_us, n_risk, d_events, cumhaz_u, cumhaz): the
    Nelson–Aalen cumulative-hazard estimator over the same
    censoring-aware risk table as km_survival,

        H(t) = Σ_{t_i ≤ t} d_i / n_i

    KM answers "what fraction survive past t"; NA answers "how much
    death pressure has accumulated by t" — it stays finite and
    well-defined at the n = d boundary where KM's log hits −∞, and its
    increments ARE the hazard-rate estimates regulators/SRE burn-rate
    alerts want.

    Exactness: each increment is ONE divide of two exact integers
    (d_i/n_i), snapped to integer micro-units before the cumulative
    sum (the km logsurv_u recipe), so cumhaz_u is an exact integer
    cross-engine; cumhaz = cumhaz_u/10⁶ rounded 6 dp.

    Scale notes: identical to km_survival — map-side collapse to one
    row per (key, conv), then windows over distinct durations."""
    keys = keys or ["metric"]
    events = _risk_events(series, keys, int(censor_horizon_s) * 1_000_000)
    inc = snap(F.col("d").cast("double") / F.col("n_risk").cast("double"), 6)
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        *keys, "dur", "d", "n_risk", inc.alias("_i")
    ).select(
        *keys,
        F.col("dur").alias("t_us"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_events"),
        F.sum("_i").over(w_cum).alias("cumhaz_u"),
    ).withColumn(
        "cumhaz",
        F.round(F.col("cumhaz_u").cast("double") / F.lit(M_U), 6),
    )


def logrank_weekend(series: DataFrame, keys: list[str] | None = None,
                    censor_horizon_s: int = 3600) -> DataFrame:
    """(keys..., n_conv_wkend, n_conv_wkday, o1, e1, v, z, chi2): the
    log-rank test comparing KM survival of WEEKEND-started vs
    weekday-started conversations per key — the hypothesis test the
    KM curve was missing ("the curves look different; is it noise?").

    At every uncensored death time t (pooled over both arms):
        e1(t) = d(t)·n₁(t)/n(t)
        v(t)  = d(t)·(n₁/n)·(n₀/n)·(n−d)/(n−1)        [n > 1]
    O₁ = Σ d₁,  E₁ = Σ e1,  V = Σ v,  z = (O₁−E₁)/√V,  χ² = z².

    Exactness: risk/death counts are exact integers from the same
    DESC-range window as km_survival; e1/v are per-row rationals
    snapped to integer MICRO-units before the (order-free) sum —
    the engine's fixed-point policy.  Weekend membership is
    `timeutil.weekday` of the conversation's FIRST event.

    Scale: one conv agg → per-(key, dur) counts → two partitioned
    windows — the km_survival shape with a 2-arm split, no grids."""
    keys = keys or ["metric"]
    h_us = int(censor_horizon_s) * 1_000_000
    ev = series.groupBy(*keys, "conv_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("t0"),
        F.max(epoch_us(F.col("ts"))).alias("t1"),
    )
    fr = ev.groupBy(*keys).agg(F.max("t1").alias("fmax"))
    g1 = weekday(F.timestamp_micros("t0")).isin(0, 6).cast("long")
    d = ev.join(F.broadcast(fr), keys).select(
        *keys,
        (F.col("t1") - F.col("t0")).alias("dur"),
        ((F.col("fmax") - F.col("t1")) < h_us).cast("long").alias("cens"),
        g1.alias("g"),
    )
    cnt = d.groupBy(*keys, "dur").agg(
        F.sum("g").alias("c1"),
        F.sum(F.lit(1) - F.col("g")).alias("c0"),
        F.sum(F.col("g") * (F.lit(1) - F.col("cens"))).alias("d1"),
        F.sum(
            (F.lit(1) - F.col("g")) * (F.lit(1) - F.col("cens"))
        ).alias("d0"),
    )
    w_risk = (
        Window.partitionBy(*keys)
        .orderBy(F.col("dur").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = cnt.select(
        *keys, "d1", "d0",
        F.sum("c1").over(w_risk).alias("n1"),
        F.sum("c0").over(w_risk).alias("n0"),
    ).where(F.col("d1") + F.col("d0") > 0)
    dd = (F.col("d1") + F.col("d0")).cast("double")
    n1 = F.col("n1").cast("double")
    n0 = F.col("n0").cast("double")
    nn = (F.col("n1") + F.col("n0")).cast("double")
    e1_u = snap(dd * n1 / nn, 6)
    v_u = F.when(
        F.col("n1") + F.col("n0") > 1,
        snap(
            dd * (n1 / nn) * (n0 / nn) * ((nn - dd) / (nn - F.lit(1.0))),
            6,
        ),
    ).otherwise(F.lit(0))
    terms = r.groupBy(*keys).agg(
        F.sum("d1").alias("o1"),
        F.sum(e1_u).alias("e1u"),
        F.sum(v_u).alias("vu"),
    )
    arms = d.groupBy(*keys).agg(
        F.sum("g").alias("n_conv_wkend"),
        F.sum(F.lit(1) - F.col("g")).alias("n_conv_wkday"),
    )
    j = terms.join(arms, keys)
    e1 = F.col("e1u").cast("double") / F.lit(1.0e6)
    v = F.col("vu").cast("double") / F.lit(1.0e6)
    z = F.when(
        F.col("vu") > 0,
        (F.col("o1").cast("double") - e1) / F.sqrt(v),
    )
    zc = j.select(
        *keys,
        F.col("n_conv_wkend").cast("long").alias("n_conv_wkend"),
        F.col("n_conv_wkday").cast("long").alias("n_conv_wkday"),
        F.col("o1").cast("long").alias("o1"),
        F.round(e1, 6).alias("e1"),
        F.round(v, 6).alias("v"),
        z.alias("_z"),
    )
    return zc.select(
        *keys, "n_conv_wkend", "n_conv_wkday", "o1", "e1", "v",
        F.round(F.col("_z"), 6).alias("z"),
        F.round(F.col("_z") * F.col("_z"), 6).alias("chi2"),
    )


GAMMA_EM = 0.5772156649015329


def _cox_risk_table(series: DataFrame, keys: list[str],
                    h_us: int) -> DataFrame:
    """Shared Cox/log-rank death-time table: (keys..., d1, d0, n1, n0)
    at every pooled uncensored death duration, arm 1 = weekend-started
    conversations (`timeutil.weekday`)."""
    ev = series.groupBy(*keys, "conv_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("t0"),
        F.max(epoch_us(F.col("ts"))).alias("t1"),
    )
    fr = ev.groupBy(*keys).agg(F.max("t1").alias("fmax"))
    g1 = weekday(F.timestamp_micros("t0")).isin(0, 6).cast("long")
    d = ev.join(F.broadcast(fr), keys).select(
        *keys,
        (F.col("t1") - F.col("t0")).alias("dur"),
        ((F.col("fmax") - F.col("t1")) < h_us).cast("long").alias("cens"),
        g1.alias("g"),
    )
    cnt = d.groupBy(*keys, "dur").agg(
        F.sum("g").alias("c1"),
        F.sum(F.lit(1) - F.col("g")).alias("c0"),
        F.sum(F.col("g") * (F.lit(1) - F.col("cens"))).alias("d1"),
        F.sum(
            (F.lit(1) - F.col("g")) * (F.lit(1) - F.col("cens"))
        ).alias("d0"),
    )
    w_risk = (
        Window.partitionBy(*keys)
        .orderBy(F.col("dur").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cnt.select(
        *keys, "d1", "d0",
        F.sum("c1").over(w_risk).alias("n1"),
        F.sum("c0").over(w_risk).alias("n0"),
    ).where(F.col("d1") + F.col("d0") > 0)


def _cox_score_pass(r: DataFrame, keys: list[str],
                    beta_df: DataFrame | None) -> DataFrame:
    """(keys..., o1, uu, iu): score/information sums at β (β = 0 when
    beta_df is None).  Breslow ties: S0 = n0 + n1·e^β, S1 = n1·e^β;
    per-time u = d·S1/S0 and i = d·(S1/S0)(1 − S1/S0) are snapped to
    integer micro-units before the order-free sum."""
    if beta_df is None:
        rb = r.withColumn("eb", F.lit(1.0))
    else:
        rb = r.join(F.broadcast(beta_df), keys).withColumn(
            "eb", F.exp(F.col("beta"))
        )
    dd = (F.col("d1") + F.col("d0")).cast("double")
    s1 = F.col("n1").cast("double") * F.col("eb")
    s0 = F.col("n0").cast("double") + s1
    frac = s1 / s0
    u_u = snap(dd * frac, 6)
    i_u = snap(dd * frac * (F.lit(1.0) - frac), 6)
    return rb.groupBy(*keys).agg(
        F.sum("d1").alias("o1"),
        F.sum(u_u).alias("uu"),
        F.sum(i_u).alias("iu"),
    )


def cox_weekend(series: DataFrame, keys: list[str] | None = None,
                censor_horizon_s: int = 3600) -> DataFrame:
    """(keys..., n_deaths, beta, hazard_ratio, se, z): one-covariate
    Cox proportional-hazards fit per key — covariate x ∈ {0,1} =
    "conversation started on a weekend" — via TWO unrolled Newton
    steps on the Breslow partial likelihood from β = 0 (the log-rank
    z is exactly the first step's score test; Cox turns it into an
    effect SIZE: hazard_ratio = e^β).

        U(β) = O₁ − Σ_t d·S₁/S₀        S₁ = n₁e^β, S₀ = n₀ + n₁e^β
        I(β) = Σ_t d·(S₁/S₀)(1−S₁/S₀)
        β ← β + U/I                     (×2, fixed — no convergence
                                         loop, so the oracle unrolls)

    Exactness: every per-death-time u/i term is micro-snapped before
    its order-free sum; β after each step is ONE shared double tree
    over those integers, so e^β entering step 2 is bit-identical
    cross-engine.  SE = 1/√I(β₂) from a third identical pass.

    Scale: the death-time table is the km_survival shape (one conv
    agg + one partitioned DESC-range window); each Newton pass is a
    broadcast of a |keys|-row β table + one hash agg."""
    keys = keys or ["metric"]
    r = _cox_risk_table(series, keys, int(censor_horizon_s) * 1_000_000)
    m = F.lit(1.0e6)

    def step(sc: DataFrame, prev_beta: DataFrame | None) -> DataFrame:
        u = (
            F.col("o1").cast("double") - F.col("uu").cast("double") / m
        )
        i = F.col("iu").cast("double") / m
        nb = F.when(F.col("iu") > 0, u / i).otherwise(F.lit(0.0))
        if prev_beta is None:
            return sc.select(*keys, nb.alias("beta"))
        return sc.join(F.broadcast(prev_beta), keys).select(
            *keys, (F.col("beta") + nb).alias("beta")
        )

    b1 = step(_cox_score_pass(r, keys, None), None)
    b2 = step(_cox_score_pass(r, keys, b1), b1)
    final = _cox_score_pass(r, keys, b2).join(F.broadcast(b2), keys)
    i2 = F.col("iu").cast("double") / m
    se = F.when(F.col("iu") > 0, F.lit(1.0) / F.sqrt(i2))
    return final.select(
        *keys,
        F.col("o1").cast("long").alias("n_deaths_wkend"),
        F.round(F.col("beta"), 6).alias("beta"),
        F.round(F.exp(F.col("beta")), 6).alias("hazard_ratio"),
        F.round(se, 6).alias("se"),
        F.round(F.when(F.col("iu") > 0, F.col("beta") / se), 6)
        .alias("z"),
    )


def gumbel_maxima(series: DataFrame, keys: list[str] | None = None,
                  return_days: int = 100,
                  min_days: int = 5) -> DataFrame:
    """(keys..., n_days, mean_max, sd_max, gumbel_loc, gumbel_scale,
    rl_100): Gumbel block-maxima fit per key over DAILY maxima — the
    extreme-value companion to hill_tail (hill: peaks-over-threshold
    tail index; Gumbel: block maxima), answering "what daily maximum
    should we expect once per `return_days` days":

        β̂ = s·√6/π,  μ̂ = m − γ_EM·β̂           (method of moments)
        x_T = μ̂ − β̂·ln(−ln(1 − 1/T))

    Daily maxima are exact integer cents (max is order-free); n, ΣM,
    ΣM² (decimal38) feed one shared double tree; constants √6/π and
    Euler-Mascheroni are shared literals.  Output in value units.

    Scale: two stacked hash aggs, day-grid bounded."""
    keys = keys or ["metric"]
    dm = series.groupBy(
        *keys, F.date_trunc("day", "ts").alias("day_ts")
    ).agg(
        F.max(snap("value", VALUE_DECIMALS)).alias("mx")
    )
    agg = dm.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("mx").alias("t_tot"),
        F.sum(wide("mx") * wide("mx")).alias("sxx"),
    ).where(F.col("n_days") >= int(min_days))
    n = F.col("n_days").cast("double")
    t = F.col("t_tot").cast("double")
    sxx = F.col("sxx").cast("double")
    mean = t / n
    var = (sxx - t * t / n) / (n - F.lit(1.0))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    beta = sd * F.lit(2.449489742783178) / F.lit(3.141592653589793)
    loc = mean - F.lit(GAMMA_EM) * beta
    tt = float(int(return_days))
    rl = loc - beta * F.log(-F.log(F.lit(1.0 - 1.0 / tt)))
    sc = F.lit(float(SCALE))
    return agg.select(
        *keys,
        F.col("n_days").cast("long").alias("n_days"),
        F.round(mean / sc, 6).alias("mean_max"),
        F.round(sd / sc, 6).alias("sd_max"),
        F.round(loc / sc, 6).alias("gumbel_loc"),
        F.round(beta / sc, 6).alias("gumbel_scale"),
        F.round(rl / sc, 6).alias("rl_100"),
    )


LN_HALF_U = -693148  # first integer micro-nat level with S < 0.5


def median_survival(series: DataFrame, keys: list[str] | None = None,
                    censor_horizon_s: int = 3600) -> DataFrame:
    """(keys..., median_survival_s, final_surv, last_t_s): the KM
    median — the first uncensored duration where S(t) drops to or
    below ½ — read DIRECTLY off km_survival's integer micro-nat
    curve: qualification is the INTEGER comparison
    cum ≤ ⌊ln(½)·10⁶⌋ (−693148; cum = −693147 is still S > ½) or the
    exact-zero terminal row (n = d, where the log has no fixed-point
    form).  No float ever decides the crossing, so the median is
    bit-identical cross-engine by construction.

    NULL median when the curve never reaches ½ (most conversations
    outlive the observation window — report final_surv instead;
    that's the honest answer, not an imputed number).

    Scale: km_survival's shape + one filtered min and one min/max
    agg."""
    keys = keys or ["metric"]
    km = km_survival(series, keys, censor_horizon_s)
    qual = km.where(
        (F.col("logsurv_u") <= F.lit(LN_HALF_U))
        | (F.col("surv") == 0.0)
    )
    med = qual.groupBy(*keys).agg(F.min("t_us").alias("med_us"))
    fin = km.groupBy(*keys).agg(
        F.min("surv").alias("final_surv"),
        F.max("t_us").alias("last_us"),
    )
    return fin.join(med, keys, "left").select(
        *keys,
        F.round(
            F.col("med_us").cast("double") / F.lit(1.0e6), 6
        ).alias("median_survival_s"),
        F.col("final_surv"),
        F.round(
            F.col("last_us").cast("double") / F.lit(1.0e6), 6
        ).alias("last_t_s"),
    )


def gpd_tail(series: DataFrame, keys: list[str] | None = None,
             tail_q: float = 0.9,
             min_exceed: int = 8) -> DataFrame:
    """(keys..., n_days, n_exc, u, xi, beta): Generalized Pareto
    peaks-over-threshold fit per key on DAILY cent totals — the
    third leg of the EVT family (hill_tail: tail index assuming
    heavy tail; gumbel_maxima: block maxima assuming xi=0; GPD-POT:
    estimates xi itself, negative = bounded tail, 0 = exponential,
    positive = power tail) via Hosking-Wallis probability-weighted
    moments, the closed-form estimator that needs no iterative MLE:

        b0 = mean(z),  a1 = (1/n)*sum z_(r)*(n-r)/(n-1)
        xi = 2 - b0/(b0 - 2*a1),  beta = 2*b0*a1/(b0 - 2*a1)

    over exceedances z = y - u of the empirical tail_q quantile u
    (the k = ceil(q*n)-th smallest daily total, rank-based and
    deterministic; ties broken by day).  Both PWM sums reduce to
    EXACT integers (Sz and W = sum (n-r)*z_r), so

        xi = 2 - A/(A - B),  A = Sz*(n-1), B = 2W
        beta = 2*Sz*W / (n*(A - B))

    are single double expressions over exact int64 sums —
    bit-identical cross-engine; closed forms: an exceedance ramp
    z = c, 2c, ..., nc (uniform tail) gives xi = -1, beta = (n+1)c
    exactly; exponential tails give xi ~ 0.

    Scale notes: one hash-agg to the daily grid, rank windows
    partitioned per key over |days|-bounded groups (the
    hod_quantile_bands budget), one more hash-agg to |keys| rows.
    NULL fit when A = B (degenerate spacing); no row when fewer
    than min_exceed exceedances."""
    keys = keys or ["metric"]
    d = bucket_cents(series, keys, "day")
    w_rank = Window.partitionBy(*keys).orderBy("y", "day_ts")
    w_all = Window.partitionBy(*keys)
    r = d.select(
        *keys, "day_ts", "y",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_days"),
    )
    k = F.ceil(F.lit(float(tail_q)) * F.col("n_days")).cast("long")
    u = r.where(F.col("rn") == k).select(
        *keys, F.col("y").alias("u"), F.col("n_days").alias("nd")
    )
    exc = (
        r.join(u, keys)
        .where(F.col("y") > F.col("u"))
        .select(*keys, "day_ts", "u", "nd",
                (F.col("y") - F.col("u")).alias("z"))
    )
    w_exc = Window.partitionBy(*keys).orderBy("z", "day_ts")
    w_excn = Window.partitionBy(*keys)
    e = exc.select(
        *keys, "u", "nd", "z",
        F.row_number().over(w_exc).alias("er"),
        F.count(F.lit(1)).over(w_excn).alias("ne"),
    )
    agg = e.groupBy(*keys).agg(
        F.max("nd").alias("n_days"),
        F.max("ne").alias("ne"),
        F.max("u").alias("u_c"),
        F.sum("z").alias("sz"),
        F.sum((F.col("ne") - F.col("er")) * F.col("z")).alias("w_sum"),
    ).where(F.col("ne") >= int(min_exceed))
    a_num = F.col("sz").cast("double") * (F.col("ne") - 1).cast("double")
    b_num = F.lit(2.0) * F.col("w_sum").cast("double")
    xi = F.lit(2.0) - a_num / (a_num - b_num)
    beta = (
        F.lit(2.0) * F.col("sz").cast("double")
        * F.col("w_sum").cast("double")
        / (F.col("ne").cast("double") * (a_num - b_num))
    )
    ok = (a_num - b_num) != 0
    sc = F.lit(float(SCALE))
    return agg.select(
        *keys,
        F.col("n_days").cast("long").alias("n_days"),
        F.col("ne").cast("long").alias("n_exc"),
        F.round(F.col("u_c").cast("double") / sc, 6).alias("u"),
        F.round(F.when(ok, xi), 6).alias("xi"),
        F.round(F.when(ok, beta / sc), 6).alias("beta"),
    )


def weibull_fit(series: DataFrame, keys: list[str] | None = None,
                censor_horizon_s: int = 3600, min_n: int = 10) -> DataFrame:
    """(keys..., n, shape, ln_scale_hours, r2): Weibull parameters of
    the completed conversation-duration distribution via MEDIAN-RANK
    REGRESSION (the probability-plot method, Abernethy's standard):

        ln(−ln(1 − F_i)) = k·ln(t_i) − k·ln λ,
        F_i = (i − 0.3)/(n + 0.4)            (Benard's median rank)

    so the plot's slope is the shape k (k < 1 infant-mortality / k ≈ 1
    memoryless / k > 1 wear-out — the parametric answer to the shape
    question KM only draws) and the intercept gives ln λ.  Censored
    spells (last event within the horizon of the key frontier) are
    EXCLUDED — this is the textbook complete-sample quick fit; the KM/
    Nelson-Aalen operators are the censoring-correct nonparametric
    companions.  Zero durations (single-event conversations) drop
    before the log.

    Exactness: t in hours is one double divide of exact integers;
    both logs snap to integer µ-nats at their boundary (the two-level
    micro-nat policy: 1−F_i is the exact rational (10(n−i)+7)/(10n+4),
    its ln snaps, the OUTER ln of that snapped value snaps again), so
    the OLS runs on exact integer pairs and slope/intercept/r² are
    shared double trees over decimal(38,0) moments.  ln λ is reported
    (ln_scale_hours = −b0/k) rather than λ = exp(·): no final libm
    exp surface.

    Scale: per-conv span agg → per-key rank window over |convs| rows
    → one moment hash-agg."""
    keys = keys or ["metric"]
    ev = series.groupBy(*keys, "conv_id").agg(
        F.min(epoch_us(F.col("ts"))).alias("t0"),
        F.max(epoch_us(F.col("ts"))).alias("t1"),
    )
    fr = ev.groupBy(*keys).agg(F.max("t1").alias("fmax"))
    horizon_us = int(censor_horizon_s) * 1_000_000
    d = ev.join(F.broadcast(fr), keys).select(
        *keys,
        (F.col("t1") - F.col("t0")).alias("dur"),
    ).where(
        ((F.col("fmax") - F.col("t1")) >= horizon_us)
        & (F.col("dur") > 0)
    )
    w = Window.partitionBy(*keys).orderBy("dur")
    wn = Window.partitionBy(*keys)
    r = d.select(
        *keys, "dur",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # x = ln(hours) in µ-nats; y = ln(−ln(1−F)) in µ-nats, two snaps
    x_u = snap(F.log(F.col("dur").cast("double") / F.lit(3.6e9)), 6)
    m1 = snap(
        F.log(
            (F.lit(10) * (F.col("n") - F.col("i")) + F.lit(7))
            .cast("double")
            / (F.lit(10) * F.col("n") + F.lit(4)).cast("double")
        ),
        6,
    )
    y_u = snap(F.log(-(m1.cast("double") / F.lit(M_U))), 6)
    t = r.select(*keys, x_u.alias("x"), y_u.alias("y"))
    g = t.groupBy(*keys).agg(
        *moments("x", "y", names="m sx sy sxx syy sxy"),
    ).where(F.col("m") >= int(min_n))
    m = F.col("m")
    cxx = co_moment("m", "sx", "sx", "sxx").cast("double")
    cyy = co_moment("m", "sy", "sy", "syy").cast("double")
    cxy = co_moment("m", "sx", "sy", "sxy").cast("double")
    k = cxy / cxx
    b0 = (
        (F.col("sy").cast("double") - k * F.col("sx").cast("double"))
        / m.cast("double") / F.lit(M_U)
    )
    r2 = F.when(cyy > 0, cxy * cxy / (cxx * cyy))
    return g.where(cxx > 0).select(
        *keys,
        m.cast("long").alias("n"),
        F.round(k, 6).alias("shape"),
        F.round(-b0 / k, 6).alias("ln_scale_hours"),
        F.round(r2, 6).alias("r2"),
    )
