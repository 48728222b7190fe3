"""Retention policy over the tier cascade (the "retention" in
rollup + downsample + retention): each tier keeps a trailing window of
buckets relative to a reference `now`; older buckets are dropped from
that tier because the next-coarser tier still summarizes them (raw
expires first, 1m next, ..., the coarsest tier is usually unbounded).

Scale notes: retention is a pure bucket_ts predicate.  Tier tables are
written partitioned by time at scale, so the predicate prunes whole
partitions/directories at the scan (see
tests/test_plans.py::test_partition_pruning_on_partitioned_tier) —
applying retention costs a metadata listing, not a data read; an
Iceberg `DELETE WHERE bucket_ts < cutoff` on a day-partitioned table is
a metadata-only drop of whole partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    bucket_cents,
    co_moment,
    moments,
    snap,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_us


def apply_retention(tier_df: DataFrame, now_df: DataFrame,
                    keep_seconds: int | None) -> DataFrame:
    """Rows of one tier surviving the policy.  ``now_df`` is a 1-row
    (broadcast) frame with column `_now` — derived from the data (max
    event ts) or a literal; keeping it a frame makes the whole policy
    one lazy plan with no driver round-trip.  keep_seconds=None keeps
    everything."""
    if keep_seconds is None:
        return tier_df
    t = tier_df.join(F.broadcast(now_df))
    return t.where(
        F.col("bucket_ts")
        >= F.col("_now") - F.expr(f"interval {int(keep_seconds)} seconds")
    ).drop("_now")


def retention_report(tiers: dict[str, DataFrame], now_df: DataFrame,
                     policy: dict[str, int | None]) -> DataFrame:
    """(tier, kept_rows, dropped_rows, oldest_kept) per policy entry —
    the dry-run accounting a retention job logs before deleting.
    Counts coalesce to 0 on an empty tier (sum over zero rows is NULL
    in SQL); an empty policy is a caller bug and raises."""
    if not policy:
        raise ValueError("retention policy is empty — nothing to report")
    parts = []
    for tier, keep_seconds in policy.items():
        t = tiers[tier].join(F.broadcast(now_df))
        if keep_seconds is None:
            kept = F.lit(True)
        else:
            kept = F.col("bucket_ts") >= F.col("_now") - F.expr(
                f"interval {int(keep_seconds)} seconds"
            )
        zero = F.lit(0).cast("long")
        parts.append(
            t.agg(
                F.lit(tier).alias("tier"),
                F.coalesce(F.sum(F.when(kept, 1).otherwise(0)), zero)
                .alias("kept_rows"),
                F.coalesce(F.sum(F.when(kept, 0).otherwise(1)), zero)
                .alias("dropped_rows"),
                F.min(F.when(kept, F.col("bucket_ts"))).alias("oldest_kept"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def rfm_features(orders: DataFrame, n_tiles: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) customer features — the
    classic segmentation table a training-data pipeline derives before
    stratified sampling or label construction:

        (custkey, recency_days, frequency, monetary_c,
         r_score, f_score, m_score, rfm_code)

    recency_days counts days from the customer's last order to the
    corpus max date (data-derived, no wall clock — deterministic);
    monetary_c is the cent-snapped integer amount sum (exact integer
    aggregation, float addition order can never change it); the three
    scores are ntile(n) buckets with 5 = best (most recent / most
    frequent / highest spend), tie-broken by custkey so the bucketing
    is a total order both engines share; rfm_code = 100r + 10f + m.

    Scale notes (100 TB): one hash-agg keyed by customer does all the
    heavy lifting; the reference date is a 1-row broadcast.  The three
    score assignments need GLOBAL ranks — done with
    ranks.global_row_number (range-partition + per-partition
    row_number + O(P) driver offsets), never a single-partition
    ntile window; bucket assignment is ranks.ntile_expr's exact
    integer formula, pytest-asserted equal to SQL ntile."""
    ref = orders.agg(F.max("o_orderdate").alias("_ref"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(snap(F.col("o_totalprice"), 2)).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "custkey",
            F.datediff(F.col("_ref"), F.col("_last")).cast("long")
            .alias("recency_days"),
            F.col("frequency").cast("long").alias("frequency"),
            "monetary_c",
        )
    )
    from timeseriescorrelation_spark.operators.ranks import (
        global_row_number,
        ntile_expr,
    )

    n = int(n_tiles)
    # the three ranked orders reuse ONE materialized base (the
    # global_row_number range-shuffles it three times on different
    # keys — unavoidable for three independent total orders)
    base = base.localCheckpoint(eager=True)
    scored, total = global_row_number(
        base, [F.asc("recency_days"), F.asc("custkey")], out_col="_rr"
    )
    scored, _ = global_row_number(
        scored, [F.desc("frequency"), F.asc("custkey")], out_col="_rf"
    )
    scored, _ = global_row_number(
        scored, [F.desc("monetary_c"), F.asc("custkey")], out_col="_rm"
    )
    scored = scored.select(
        "custkey", "recency_days", "frequency", "monetary_c",
        (F.lit(n + 1) - ntile_expr("_rr", total, n)).cast("int")
        .alias("r_score"),
        (F.lit(n + 1) - ntile_expr("_rf", total, n)).cast("int")
        .alias("f_score"),
        (F.lit(n + 1) - ntile_expr("_rm", total, n)).cast("int")
        .alias("m_score"),
    )
    return scored.withColumn(
        "rfm_code",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10
            + F.col("m_score")
        ).cast("int"),
    )


def stickiness_daily(events: DataFrame, window_days: int = 30) -> DataFrame:
    """(day_ts, dau, mau, stickiness): DAU / trailing-`window_days`-
    distinct-users per day — the classic engagement ratio (a user base
    that shows up most days sticks near 1/1; a monthly-drive-by base
    sits near 1/30).  Early days use the partial window (standard).

    EXACT trailing distinct via the contribution explode: each active
    (user, day) covers target days d..d+w−1 (clipped to the observed
    span), dedup (user, target), count per target — |user-days|·w
    shuffle rows, raw-size-independent after the first distinct.
    At fleets where even that is too much, hll_rolling_7d is the
    sketched scale path; this operator is the exact gate for it."""
    du = events.select(
        F.col("user_id").alias("u"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).distinct()
    span = du.agg(F.max("d").alias("d1"))
    dau = du.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    tgt = du.crossJoin(F.broadcast(span)).select(
        "u",
        F.explode(
            F.sequence(
                "d",
                F.least(
                    F.col("d1"),
                    F.col("d")
                    + F.expr(f"INTERVAL {int(window_days) - 1} DAY"),
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("td"),
    ).distinct()
    mau = tgt.groupBy("td").agg(F.count(F.lit(1)).alias("mau"))
    return mau.join(dau, mau["td"] == dau["d"], "left").select(
        F.col("td").alias("day_ts"),
        F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        F.round(
            F.coalesce("dau", F.lit(0)).cast("double")
            / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


def cohort_ltv(events: DataFrame) -> DataFrame:
    """(cohort_week, age_week, active_users, cohort_size,
    week_value_per_user, cum_value_per_user): cohort LIFETIME-VALUE
    curves — cohort_retention answers "how many came back";
    this answers "what did a cohort member produce by week N",
    the number a unit-economics decision actually needs.

    cohort = ISO week of the user's first event (both engines'
    date_trunc('week') is Monday-anchored); age_week = exact integer
    week difference of two week-truncated timestamps (µs division is
    exact — both are multiples of a day).  Cents per (cohort, age)
    and the cumulative sum are exact integers; the two per-user
    ratios are one division each.

    Scale: one (user, week) hash agg → one user-cohort join
    (aggregate-sized) → (cohort, age) agg → a cumulative window over
    ≤|weeks| rows per cohort partition."""
    uw = bucket_cents(events, [F.col("user_id").alias("u")], "week")
    first = uw.groupBy("u").agg(F.min("week_ts").alias("cw"))
    sizes = first.groupBy("cw").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    j = uw.join(first, "u").select(
        F.col("cw").alias("cohort_week"),
        (
            (epoch_us(F.col("week_ts")) - epoch_us(F.col("cw")))
            / F.lit(604_800_000_000)
        ).cast("long").alias("age_week"),
        "y",
    )
    per = j.groupBy("cohort_week", "age_week").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("y").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort_week").orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = per.join(
        F.broadcast(sizes),
        per["cohort_week"] == sizes["cw"],
    ).select(
        "cohort_week", "age_week", "active_users", "cohort_size",
        "cents", F.sum("cents").over(w).alias("cum_cents"),
    )
    cs = F.col("cohort_size").cast("double")
    sc = F.lit(float(SCALE))
    return out.select(
        "cohort_week",
        F.col("age_week").cast("long").alias("age_week"),
        F.col("active_users").cast("long").alias("active_users"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.round(F.col("cents").cast("double") / cs / sc, 6)
        .alias("week_value_per_user"),
        F.round(F.col("cum_cents").cast("double") / cs / sc, 6)
        .alias("cum_value_per_user"),
    )


def time_to_nth(events: DataFrame, n: int = 5) -> DataFrame:
    """(cohort_day, n_users, n_activated, activation_rate, p50_hours,
    p90_hours): activation latency — per user, the time from their
    FIRST event to their n-th, summarized by first-seen cohort day.
    The "time to aha" readout product teams steer by: cohorts whose
    p50 stretches are onboarding regressions before retention ever
    shows it.

    Per user it is ONE ordered window pass (row_number + first over
    the (ts, ord) sequence); users who never reach n events count in
    n_users but not in the latency percentiles (activation_rate
    reports the split rather than silently truncating).  Percentiles
    are the exact interpolated form over µs gaps (one derived float,
    4 dp — the latency_percentiles contract), counts exact.

    Scale: one window over user-partitioned sequences + one cohort
    hash-agg; no self-joins."""
    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), F.col("event_id")
    )
    seq = events.select(
        "user_id",
        F.row_number().over(w).alias("k"),
        (epoch_us(F.col("ts"))
         - F.first(epoch_us(F.col("ts"))).over(w)).alias("gap_us"),
        F.first(F.date_trunc("day", F.col("ts"))).over(w)
        .alias("cohort_day"),
    ).where(F.col("k") == int(n))
    users = events.groupBy("user_id").agg(
        F.min(
            F.struct(epoch_us(F.col("ts")), F.col("event_id"),
                     F.date_trunc("day", F.col("ts")).alias("d"))
        )["d"].alias("cohort_day")
    )
    base = users.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    act = seq.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_activated"),
        F.percentile(
            F.col("gap_us").cast("double"), F.array(F.lit(0.5),
                                                    F.lit(0.9))
        ).alias("qs"),
    )
    j = base.join(act, "cohort_day", "left")
    hours = 3_600_000_000.0
    return j.select(
        "cohort_day",
        F.col("n_users").cast("long").alias("n_users"),
        F.coalesce(F.col("n_activated"), F.lit(0)).cast("long")
        .alias("n_activated"),
        F.round(
            F.coalesce(F.col("n_activated"), F.lit(0)).cast("double")
            / F.col("n_users").cast("double"), 6
        ).alias("activation_rate"),
        F.round(F.col("qs")[0] / F.lit(hours), 4).alias("p50_hours"),
        F.round(F.col("qs")[1] / F.lit(hours), 4).alias("p90_hours"),
    )


def capture_recapture(events: DataFrame) -> DataFrame:
    """(day_ts, n_day1, n_day2, n_both, n_hat, ci_lo, ci_hi): Chapman
    capture-recapture estimate of the TOTAL user population from each
    consecutive-day pair — the ecology estimator pointed at a product
    question no direct count answers: distinct_users says who showed
    up; this estimates how many users EXIST (including the never-seen)
    from the overlap between two days' "captures":

        N̂ = (n₁+1)(n₂+1)/(m+1) − 1
        Var ≈ (n₁+1)(n₂+1)(n₁−m)(n₂−m) / ((m+1)²(m+2))

    (Chapman's bias-corrected Lincoln-Petersen; ci = N̂ ± 1.96·√Var.)
    Assumes closed population + equal catchability across the two
    days — violations bias downward, documented the Prometheus-
    convention way.  All counts exact integers from per-day distinct
    sets and ONE equi-join on (user, day+1); the estimate is one
    shared double tree, 6 dp; NULL CI when m = 0 (no overlap — the
    estimator degenerates).

    Scale: one distinct hash-agg to |users|·|days|, one self-join
    shifted a day, day-grain output."""
    d = events.select(
        F.col("user_id").alias("u"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).distinct()
    n_by_day = d.groupBy("day_ts").agg(F.count(F.lit(1)).alias("n"))
    nxt = d.select(
        "u", (F.col("day_ts") - F.expr("INTERVAL 1 DAY")).alias("day_ts")
    )
    m = d.join(nxt, ["u", "day_ts"]).groupBy("day_ts").agg(
        F.count(F.lit(1)).alias("m")
    )
    n2 = n_by_day.select(
        (F.col("day_ts") - F.expr("INTERVAL 1 DAY")).alias("day_ts"),
        F.col("n").alias("n2"),
    )
    j = (
        n_by_day.join(n2, "day_ts")
        .join(m, "day_ts", "left")
        .select(
            "day_ts", "n", "n2",
            F.coalesce("m", F.lit(0)).alias("m"),
        )
    )
    n1d = F.col("n").cast("double")
    n2d = F.col("n2").cast("double")
    md = F.col("m").cast("double")
    nhat = (
        (n1d + F.lit(1.0)) * (n2d + F.lit(1.0)) / (md + F.lit(1.0))
        - F.lit(1.0)
    )
    var = (
        (n1d + F.lit(1.0)) * (n2d + F.lit(1.0))
        * (n1d - md) * (n2d - md)
        / ((md + F.lit(1.0)) * (md + F.lit(1.0)) * (md + F.lit(2.0)))
    )
    half = F.lit(1.96) * F.sqrt(var)
    return j.select(
        "day_ts",
        F.col("n").cast("long").alias("n_day1"),
        F.col("n2").cast("long").alias("n_day2"),
        F.col("m").cast("long").alias("n_both"),
        F.round(nhat, 6).alias("n_hat"),
        F.when(F.col("m") > 0, F.round(nhat - half, 6)).alias("ci_lo"),
        F.when(F.col("m") > 0, F.round(nhat + half, 6)).alias("ci_hi"),
    )


def retention_decay_fit(events: DataFrame, min_ages: int = 5) -> DataFrame:
    """(n_ages, exponent, intercept, r2, r_day1, r_day7): power-law
    fit of the pooled retention curve — the "retention curves are
    power laws" growth-analytics read (ln r(d) = a + b·ln d; b is the
    decay exponent, shallower = stickier) over the same stream
    cohort_retention matrixes:

        r(d) = |users active at age d| / |users whose cohort is at
               least d days old|        (right-censoring-aware
               denominator: young cohorts can't vote on old ages)

    Exactness: num/den are exact distinct counts; x = ln d and
    y = ln r snap to integer µ-nats (r is one exact-rational divide
    first); OLS runs on exact decimal moments; r_day1/r_day7 report
    the RAW rationals at those ages (NULL if unobserved), not the
    fit.  Ages with num = 0 drop before the log (the curve's support
    ends there).

    Scale: per-user first-day window → distinct (user, age) hash-agg
    → age-grid joins of cohort-size METADATA (≤ calendar days rows)
    → one moment agg."""
    e = events.select(
        F.col("user_id").alias("uid"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).distinct()
    w = Window.partitionBy("uid")
    aged = e.select(
        "uid",
        F.min("d").over(w).alias("cohort_day"),
        F.datediff(F.col("d"), F.min("d").over(w)).alias("age"),
    )
    num = aged.where(F.col("age") >= 1).groupBy("age").agg(
        F.countDistinct("uid").alias("num")
    )
    cohorts = aged.select("uid", "cohort_day").distinct().groupBy(
        "cohort_day"
    ).agg(F.count(F.lit(1)).alias("n_c"))
    frontier = e.agg(F.max("d").alias("fmax"))
    # eligible(d) = users in cohorts old enough to reach age d
    den = (
        num.select("age")
        .crossJoin(F.broadcast(frontier))
        .join(
            F.broadcast(cohorts),
            F.datediff(F.col("fmax"), F.col("cohort_day"))
            >= F.col("age"),
        )
        .groupBy("age")
        .agg(F.sum("n_c").alias("den"))
    )
    r = num.join(den, "age").where(
        (F.col("num") > 0) & (F.col("den") > 0)
    )
    M = 1e6
    xu = snap(F.log(F.col("age").cast("double")), 6)
    yu = snap(
        F.log(F.col("num").cast("double") / F.col("den").cast("double")), 6
    )
    t = r.select(
        "age", "num", "den", xu.alias("x"), yu.alias("y")
    )
    g = t.agg(
        *moments("x", "y", names="m sx sy sxx syy sxy"),
        F.max(
            F.when(
                F.col("age") == 1,
                F.round(
                    F.col("num").cast("double")
                    / F.col("den").cast("double"), 6
                ),
            )
        ).alias("r_day1"),
        F.max(
            F.when(
                F.col("age") == 7,
                F.round(
                    F.col("num").cast("double")
                    / F.col("den").cast("double"), 6
                ),
            )
        ).alias("r_day7"),
    ).where(F.col("m") >= int(min_ages))
    m = F.col("m")
    cxx = co_moment("m", "sx", "sx", "sxx").cast("double")
    cyy = co_moment("m", "sy", "sy", "syy").cast("double")
    cxy = co_moment("m", "sx", "sy", "sxy").cast("double")
    b = cxy / cxx
    a = (
        (F.col("sy").cast("double") - b * F.col("sx").cast("double"))
        / m.cast("double") / F.lit(M)
    )
    r2 = F.when(cyy > 0, cxy * cxy / (cxx * cyy))
    return g.where(cxx > 0).select(
        m.cast("long").alias("n_ages"),
        F.round(b, 6).alias("exponent"),
        F.round(a, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
        F.col("r_day1"),
        F.col("r_day7"),
    )
