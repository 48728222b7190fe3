"""A/B experiment analysis: deterministic variant assignment + the
two-proportion z-test readout — the analytics-warehouse query every
experimentation platform runs nightly.

Assignment reuses sampling.hash_bucket's md5-bucket recipe (a pure
function of the unit id: reproducible across engines/restarts, and the
leakage-safe unit is the USER, so all of a user's events land in one
arm).  The readout per (experiment arm pair):

    n_a, n_b           exposed units
    x_a, x_b           converted units (did >=1 target event)
    p_a, p_b           conversion rates
    lift               p_b - p_a
    se                 sqrt(p̂(1-p̂)(1/n_a + 1/n_b)), pooled p̂
    z                  lift / se

Exactness: counts are exact integers; every derived statistic is a
fixed arithmetic expression over those integers rounded to 6dp — both
engines compute identical doubles from identical integers, and the
single sqrt is IEEE-exact on the same input (its argument is a ratio
of exact integers), so even z matches bit-for-bit after rounding.

Scale notes (100 TB): one distinct over (unit, converted?) — a hash
agg keyed by unit — then ONE row per arm; the z-math runs on a 2-row
frame.  No windows, no joins over raw events beyond the conversion
semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    VALUE_DECIMALS,
    idiv,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_us, weekday
from timeseriescorrelation_spark.operators.sampling import hash_bucket
from timeseriescorrelation_spark.session import local_frame


def ab_assign(units: DataFrame, id_col: str = "user_id",
              treat_frac: float = 0.5) -> DataFrame:
    """units + 'arm' column ('A' control / 'B' treatment) by md5
    bucket of the unit id — deterministic, engine-portable."""
    cut = int(float(treat_frac) * (1 << 16))
    return units.withColumn(
        "arm",
        F.when(hash_bucket(id_col) < cut, F.lit("B")).otherwise(
            F.lit("A")
        ),
    )


def ab_readout(events: DataFrame, target_event: str,
               treat_frac: float = 0.5) -> DataFrame:
    """One-row experiment readout (see module docstring).  Exposure =
    any event; conversion = ≥1 ``target_event``."""
    per_unit = (
        events.select(
            F.col("user_id").alias("unit"),
            (F.col("event_type") == F.lit(target_event)).cast("int")
            .alias("hit"),
        )
        .groupBy("unit")
        .agg(F.max("hit").alias("converted"))
    )
    assigned = ab_assign(per_unit, id_col="unit",
                         treat_frac=treat_frac)
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    a = arms.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("x").alias("x_a")
    )
    b = arms.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("x").alias("x_b")
    )
    j = a.crossJoin(b)
    p_a = F.col("x_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("x_b").cast("double") / F.col("n_b").cast("double")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return j.select(
        "n_a", "x_a", "n_b", "x_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(p_b - p_a, 6).alias("lift"),
        F.round(se, 6).alias("se"),
        F.round(
            F.when(se > 0, (p_b - p_a) / se), 6
        ).alias("z"),
    )


def did_readout(series: DataFrame, treat_frac: float = 0.5,
                num: int = 3, den: int = 5) -> DataFrame:
    """Difference-in-differences readout — the quasi-experimental
    companion to ab_readout for launches WITHOUT randomized exposure:
    DiD = (post_B − pre_B) − (post_A − pre_A) on per-unit mean value,
    cancelling both static arm differences and the common time trend.

    The period split is the exact integer num/den date rule
    (markov_accuracy's contract); arms are md5-bucket assigned (here
    a deterministic placebo partition — with a real rollout pass the
    actual exposure flag).  Per-unit-period outcome = (Σcents·10⁴)
    div k — integer micro-cents, so every cell moment (n, Σx, Σx²)
    is an exact widened sum (`functions.exact`) and mean/variance/SE/z
    are one fixed IEEE expression over twelve exact integers:

        se² = Σ_cells s²_c / n_c,   z = DiD / se   (Welch-style)

    Scale shape: one (unit, period) hash-agg over raw rows, then ONE
    conditional-sum aggregate collapsing to a single row — no pivot
    join, no window.
    """
    bounds = series.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    ).select(
        F.to_timestamp(
            F.date_add(
                F.col("d0").cast("date"),
                F.expr(
                    f"cast((datediff(d1, d0) * {int(num)})"
                    f" div {int(den)} as int)"
                ),
            )
        ).alias("split_ts")
    )
    per = (
        series.crossJoin(F.broadcast(bounds))
        .select(
            F.col("conv_id").alias("unit"),
            F.when(epoch_us(F.col("ts")) < epoch_us(F.col("split_ts")),
                   F.lit("pre")).otherwise(F.lit("post")).alias("period"),
            snap("value", VALUE_DECIMALS).alias("c"),
        )
        .groupBy("unit", "period")
        .agg(
            idiv(wide(F.sum("c")) * 10000, F.count(F.lit(1))).alias("mu"),
        )
    )
    assigned = ab_assign(per, id_col="unit", treat_frac=treat_frac)

    def cell(arm, period, col):
        m = (F.col("arm") == arm) & (F.col("period") == period)
        return F.sum(F.when(m, col).otherwise(F.lit(0)))

    cells = assigned.agg(
        *[
            agg.alias(f"{n}_{a}_{p}".lower())
            for a in ("A", "B")
            for p in ("pre", "post")
            for n, agg in [
                ("n", cell(a, p, F.lit(1))),
                ("sx", cell(a, p, wide("mu"))),
                ("sxx", cell(a, p, wide("mu") * wide("mu"))),
            ]
        ]
    )

    def mean(a, p):
        return (F.col(f"sx_{a}_{p}").cast("double")
                / F.col(f"n_{a}_{p}").cast("double"))

    def var_over_n(a, p):
        n = F.col(f"n_{a}_{p}").cast("double")
        sx = F.col(f"sx_{a}_{p}").cast("double")
        sxx = F.col(f"sxx_{a}_{p}").cast("double")
        return (n * sxx - sx * sx) / (n * n * (n - 1))

    did = (mean("b", "post") - mean("b", "pre")) - (
        mean("a", "post") - mean("a", "pre")
    )
    se = F.sqrt(
        var_over_n("a", "pre") + var_over_n("a", "post")
        + var_over_n("b", "pre") + var_over_n("b", "post")
    )
    um = 1e6  # micro-cents -> currency units
    return cells.select(
        F.col("n_a_pre"), F.col("n_a_post"),
        F.col("n_b_pre"), F.col("n_b_post"),
        F.round(mean("a", "pre") / um, 6).alias("mean_a_pre"),
        F.round(mean("a", "post") / um, 6).alias("mean_a_post"),
        F.round(mean("b", "pre") / um, 6).alias("mean_b_pre"),
        F.round(mean("b", "post") / um, 6).alias("mean_b_post"),
        F.round(did / um, 6).alias("did"),
        F.round(se / um, 6).alias("se"),
        F.round(did / se, 6).alias("z"),
    )


def rate_decomposition(events: DataFrame, target_event: str = "error",
                       n_segments: int = 4, num: int = 1,
                       den: int = 2) -> DataFrame:
    """Kitagawa/Oaxaca rate decomposition — "the error rate moved:
    did the SEGMENTS get worse, or did the MIX shift toward worse
    segments?"  For period A (first num/den of the day span) vs
    period B (the rest), the total-rate delta splits exactly:

        rate_B − rate_A = Σ_s (w_B − w_A)·rate_A   (mix effect)
                        + Σ_s w_B·(rate_B − rate_A) (rate effect)

    with w = the segment's share of period events and rate = the
    segment's target-event share.  One row per segment with both
    effects; the two columns' totals reconstruct the headline delta
    to the last bit of the shared expression (the pytest asserts the
    identity).

    Segments here are md5-bucket unit cohorts (ab_assign's hash, mod
    n_segments — a deterministic placebo dimension; pass a real
    segment column by pre-projecting it into user_id at call sites).
    Every statistic is a fixed IEEE expression over six exact integer
    counts per row (no recursion, no order dependence), so the DuckDB
    oracle matches bit-for-bit; display columns round 6dp.  Segments
    empty on either side emit NULL effects (excluded from the
    identity) rather than a silent zero.

    Scale shape: one hash-agg over raw rows to |segments|·2 cells,
    one self-join-free pivot via conditional sums — metadata-sized
    output regardless of input."""
    bounds = events.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    ).select(
        F.to_timestamp(
            F.date_add(
                F.col("d0").cast("date"),
                F.expr(
                    f"cast((datediff(d1, d0) * {int(num)})"
                    f" div {int(den)} as int)"
                ),
            )
        ).alias("split_ts")
    )
    cells = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            F.pmod(hash_bucket("user_id"), F.lit(int(n_segments)))
            .cast("long").alias("segment"),
            (epoch_us(F.col("ts"))
             < epoch_us(F.col("split_ts"))).alias("is_a"),
            (F.col("event_type") == target_event).cast("long").alias("e"),
        )
        .groupBy("segment")
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("n_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
            F.sum(F.when(F.col("is_a"), F.col("e"))).alias("err_a"),
            F.sum(F.when(~F.col("is_a"), F.col("e"))).alias("err_b"),
        )
    )
    tot = cells.agg(
        F.sum("n_a").alias("tn_a"), F.sum("n_b").alias("tn_b")
    )
    j = cells.crossJoin(F.broadcast(tot))
    w_a = F.col("n_a").cast("double") / F.col("tn_a").cast("double")
    w_b = F.col("n_b").cast("double") / F.col("tn_b").cast("double")
    r_a = F.col("err_a").cast("double") / F.col("n_a").cast("double")
    r_b = F.col("err_b").cast("double") / F.col("n_b").cast("double")
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return j.select(
        "segment",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.coalesce("err_a", F.lit(0)).cast("long").alias("err_a"),
        F.coalesce("err_b", F.lit(0)).cast("long").alias("err_b"),
        F.round(w_a, 6).alias("w_a"),
        F.round(w_b, 6).alias("w_b"),
        F.when(F.col("n_a") > 0, F.round(r_a, 6)).alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(r_b, 6)).alias("rate_b"),
        F.when(both, F.round((w_b - w_a) * r_a, 6)).alias("mix_effect"),
        F.when(both, F.round(w_b * (r_b - r_a), 6)).alias("rate_effect"),
    )


def isotonic_calibration(scored: DataFrame,
                         score_decimals: int = 3) -> DataFrame:
    """(bin_idx, score, n, successes, rate_raw, rate_iso): isotonic
    (monotone non-decreasing) calibration of a probabilistic score
    against binary outcomes via Pool-Adjacent-Violators — the standard
    post-hoc calibrator when reliability bins (markov_calibration)
    show the score is mis-calibrated but its RANKING is trusted.

    Stage split (the eigh/k-means policy): the cluster reduces the
    corpus to one (n, successes) pair per DISTINCT quantized score —
    score_decimals=3 bounds that at 1001 bins no matter the corpus
    size — and PAVA runs on the driver over that metadata-sized list.
    PAVA itself is EXACT integer arithmetic: blocks hold (Σsucc, Σn)
    and the violator test succ_i·n_j ≥ succ_j·n_i is integer
    cross-multiplication, so pooling decisions never touch a float;
    rate_iso = pooled succ/n is one final division.  Deterministic
    bit-for-bit AND fully SQL-oracle-able: the DuckDB gate replays
    the minimax identity rate_iso(i) = max_{j≤i} min_{k≥i}
    mean(succ/n over bins [j..k]) — O(B³) interval means over ≤1001
    bins, equal to the PAVA block means as rationals and hence as
    correctly-rounded doubles.

    Output is the calibration TABLE (bin → calibrated rate); applying
    it to new traffic is a broadcast range join on score."""
    q = 10 ** int(score_decimals)
    g = scored.groupBy(
        (F.round(F.col("score").cast("double") * q) / q).alias("score")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("outcome").cast("long")).alias("successes"),
    )
    rows = sorted(
        ((r["score"], int(r["n"]), int(r["successes"]))
         for r in g.collect()),
        key=lambda t: t[0],
    )
    # PAVA over (succ, n) blocks — integer cross-multiplied merges
    blocks: list[list] = []  # [succ, n, members]
    for score, n, s in rows:
        blocks.append([s, n, [(score, n, s)]])
        while len(blocks) >= 2:
            s2, n2, m2 = blocks[-1]
            s1, n1, m1 = blocks[-2]
            if s1 * n2 <= s2 * n1:  # monotone already (s1/n1 <= s2/n2)
                break
            blocks[-2:] = [[s1 + s2, n1 + n2, m1 + m2]]
    out = []
    idx = 0
    for s_blk, n_blk, members in blocks:
        for score, n, s in members:
            out.append((
                idx, float(score), n, s,
                round(s / n, 6), round(s_blk / n_blk, 6),
            ))
            idx += 1
    return local_frame(
        scored.sparkSession, out,
        "bin_idx int, score double, n long, successes long,"
        " rate_raw double, rate_iso double",
    )


def odds_ratio_weekend(events: DataFrame, key: str = "event_type",
                       high_cents: int = 10_000) -> DataFrame:
    """(metric, a, b, c, d, odds_ratio, ci_lo, ci_hi): weekend-vs-
    weekday odds of a HIGH-value observation per metric (the 2×2
    epidemiologist's view of "do expensive events cluster on
    weekends"), with the Wald 95% CI on ln OR:

        OR = (a·d)/(b·c),   ln OR ± 1.96·√(1/a + 1/b + 1/c + 1/d)

    a = weekend-high, b = weekend-low, c = weekday-high, d = low.
    NULL OR/CI when any cell is empty (the Wald form degenerates).

    Weekend is `timeutil.weekday` ∈ {0, 6}, never an engine's
    dayofweek().  One hash agg; four exact integer cells per metric."""
    wkd = weekday(F.date_trunc("day", F.col("ts"))).isin(0, 6)
    hi = (
        snap(F.col("value"), VALUE_DECIMALS)
        > F.lit(int(high_cents))
    )
    agg = events.groupBy(F.col(key).alias("metric")).agg(
        F.sum((wkd & hi).cast("long")).alias("a"),
        F.sum((wkd & ~hi).cast("long")).alias("b"),
        F.sum((~wkd & hi).cast("long")).alias("c"),
        F.sum((~wkd & ~hi).cast("long")).alias("d"),
    )
    ok = (
        (F.col("a") > 0) & (F.col("b") > 0)
        & (F.col("c") > 0) & (F.col("d") > 0)
    )
    a, b, c, d = [F.col(x).cast("double") for x in "abcd"]
    orr = (a * d) / (b * c)
    se = F.sqrt(
        F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / d
    )
    return agg.select(
        "metric",
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        F.round(F.when(ok, orr), 6).alias("odds_ratio"),
        F.round(
            F.when(ok, F.exp(F.log(orr) - F.lit(1.96) * se)), 6
        ).alias("ci_lo"),
        F.round(
            F.when(ok, F.exp(F.log(orr) + F.lit(1.96) * se)), 6
        ).alias("ci_hi"),
    )


def sprt_readout(events: DataFrame, target_event: str = "purchase",
                 key: str = "event_type",
                 p0: float = 0.04, p1: float = 0.06,
                 alpha: float = 0.05, beta: float = 0.05) -> DataFrame:
    """(day_ts, n_cum, x_cum, llr, decision): Wald's sequential
    probability ratio test on the daily share of `target_event` —
    the early-stopping monitor classical fixed-n tests can't give:
    after each day, the cumulative log-likelihood ratio of
    H1: p = p1 vs H0: p = p0,

        LLR_d = X_d·ln(p1/p0) + (N_d − X_d)·ln((1−p1)/(1−p0))

    against Wald's boundaries ln((1−β)/α) (accept H1) and
    ln(β/(1−α)) (accept H0); 'continue' in between.  One readout row
    per day with the decision the monitor would have shown THAT day.

    Exactness: X_d and N_d are exact integer running sums (window per
    nothing — the target share is corpus-wide, so the cumulative
    window partitions by the constant target label, bounded by
    |days|); the two ln factors are shared double literals computed
    identically from (p0, p1) on both engines, so LLR is one double
    expression per row.  Decisions are double comparisons of
    identically-computed values (the anomaly_1h z policy).

    Scale: day grid agg → |days|-row window — nothing raw-sized."""
    import math

    c1 = math.log(p1 / p0)
    c0 = math.log((1.0 - p1) / (1.0 - p0))
    up = math.log((1.0 - beta) / alpha)
    lo = math.log(beta / (1.0 - alpha))
    day = events.groupBy(
        F.date_trunc("day", "ts").alias("day_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col(key) == F.lit(target_event)).cast("long")
        ).alias("x"),
    )
    from timeseriescorrelation_spark.functions.timeutil import (
        const_partition,
    )

    # |days| rows by construction — single-partition BY DESIGN; the
    # non-foldable constant keeps Catalyst from erasing the partition
    # key (the intervals.concurrency carry-prefix convention)
    w = (
        Window.partitionBy(const_partition("day_ts"))
        .orderBy("day_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = day.select(
        "day_ts",
        F.sum("n").over(w).alias("n_cum"),
        F.sum("x").over(w).alias("x_cum"),
    )
    llr = (
        F.col("x_cum").cast("double") * F.lit(c1)
        + (F.col("n_cum") - F.col("x_cum")).cast("double") * F.lit(c0)
    )
    return cum.select(
        "day_ts",
        F.col("n_cum").cast("long").alias("n_cum"),
        F.col("x_cum").cast("long").alias("x_cum"),
        F.round(llr, 6).alias("llr"),
        F.when(llr >= F.lit(up), F.lit("accept_h1"))
        .when(llr <= F.lit(lo), F.lit("accept_h0"))
        .otherwise(F.lit("continue")).alias("decision"),
    )


def ipw_strata(events: DataFrame, treat_event: str = "click",
               target_event: str = "purchase") -> DataFrame:
    """Stratified inverse-propensity readout for an OBSERVATIONAL
    contrast — the causal-inference counterpart of ab_readout when
    nobody randomized: users self-select into "treatment" (≥1
    ``treat_event``), and raw mean differences confound treatment with
    activity.  Stratify on an activity proxy (total event count vs
    the population mean, ±10% cuts decided by INTEGER
    cross-multiplication 10·n_ev·U vs 9·T / 11·T — scale-free,
    deterministic, no ntile global sort), estimate the
    propensity e(x) = t_x/n_x exactly per stratum, and report the
    within-stratum effect:

        (stratum, n, n_treat, y1, y0, p_treat, mean_y1, mean_y0,
         effect)

    effect = y1/t − y0/(n−t) — algebraically identical to the
    Horvitz-Thompson IPW term with the exact stratified propensity, so
    this IS the IPW estimator, reported per stratum (the ATE is the
    n-weighted sum; per-stratum rows avoid an unordered 3-term double
    fold and show effect heterogeneity, which is what the analyst
    actually wants).  All counts exact integers; each reported double
    is one division rounded 6 dp.  Degenerate strata (t = 0 or t = n:
    no overlap — the positivity violation IPW textbooks warn about)
    report NULL effect rather than an infinite weight.

    Scale notes (100 TB): one per-user hash-agg, one per-stratum
    hash-agg of ≤|strata| rows.  No joins."""
    per_unit = (
        events.select(
            F.col("user_id").alias("unit"),
            (F.col("event_type") == F.lit(treat_event)).cast("int")
            .alias("t"),
            (F.col("event_type") == F.lit(target_event)).cast("int")
            .alias("y"),
        )
        .groupBy("unit")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.max("t").alias("t"),
            F.max("y").alias("y"),
        )
    )
    tot = per_unit.agg(
        F.count(F.lit(1)).alias("_u"),
        F.sum("n_ev").alias("_tot"),
    )
    per_unit = per_unit.crossJoin(F.broadcast(tot))
    lhs = 10 * F.col("n_ev") * F.col("_u")
    stratum = (
        F.when(lhs <= 9 * F.col("_tot"), F.lit("low"))
        .when(lhs >= 11 * F.col("_tot"), F.lit("high"))
        .otherwise(F.lit("mid"))
    )
    g = per_unit.select(stratum.alias("stratum"), "t", "y").groupBy(
        "stratum"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").cast("long").alias("n_treat"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("y1"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("y0"),
    )
    t, n = F.col("n_treat"), F.col("n")
    ok = (t > 0) & (t < n)
    m1 = F.col("y1").cast("double") / t.cast("double")
    m0 = F.col("y0").cast("double") / (n - t).cast("double")
    return g.select(
        "stratum", F.col("n").cast("long").alias("n"), "n_treat",
        "y1", "y0",
        F.round(t.cast("double") / n.cast("double"), 6)
         .alias("p_treat"),
        F.round(F.when(ok, m1), 6).alias("mean_y1"),
        F.round(F.when(ok, m0), 6).alias("mean_y0"),
        F.round(F.when(ok, m1 - m0), 6).alias("effect"),
    )
