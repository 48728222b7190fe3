"""Queueing / reliability diagnostics over gap-based sessions and the
hourly heartbeat grid: Little's law conservation (L = λW) and
MTBF/MTTR from missing-hour downtime runs.

Little's law is the flow-conservation identity every capacity model
leans on: time-average concurrency L equals arrival rate λ times mean
time-in-system W.  Computed per hour from the SAME 30-minute-gap
sessions as event_sessions/session_stats, it becomes an integrity
check on the session pipeline itself — hours where observed
concurrency diverges from λW flag boundary effects (long sessions
straddling the hour) or definition drift.

MTBF/MTTR reads the heartbeat grid (gap_report's subject) as an
uptime signal: a metric-hour with zero events is DOWN; maximal down
runs are repair intervals (MTTR), maximal up runs are times between
failures (MTBF).

Exactness: every duration is an exact integer of MICROSECONDS (or
whole hours), summed with map-side-combinable hash aggs; each
reported rate/mean is one shared double expression rounded to 6.

Scale (100 TB): sessions are one session_window agg over (user)
partitions; the hour explode is bounded by Σ session-hours (a session
rarely spans many hours at a 30-min gap); the heartbeat grid is
|metrics| × |hours| — calendar-bounded.  The islands windows
partition by metric/user — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import co_moment, moments
from timeseriescorrelation_spark.functions.timeutil import epoch_us, weekday

_HOUR_US = 3_600_000_000


def littles_law(sessions: DataFrame) -> DataFrame:
    """(hour_ts, arrivals, w_mean_sec, l_arrival, l_observed,
    flow_balance): per-hour Little's-law readout over sessions.

    - arrivals: sessions STARTING in the hour (λ·3600)
    - w_mean_sec: mean duration of those arrivals (W)
    - l_arrival = λW = Σ arrival durations / 3600 s — predicted
      time-average concurrency if every arrival's work landed in its
      start hour
    - l_observed = Σ overlap(session, hour) / 3600 s — the actual
      time-average concurrency (the integral concurrency_1h peaks)
    - flow_balance = l_observed / l_arrival (NULL when no arrivals):
      ≈1 in steady state, <1 in ramp-up hours, >1 where earlier
      long sessions spill in

    Single-event sessions have zero duration and contribute 0 to both
    L terms while still counting as arrivals — w_mean_sec reports the
    honest mean including them.

    Exact: all sums are integer µs; each output is one double
    division mirrored verbatim in the oracle."""
    s = sessions.select(
        F.col("session_start").alias("st"),
        F.col("session_end_ts").alias("en"),
        epoch_us(F.col("session_start")).alias("st_us"),
        epoch_us(F.col("session_end_ts")).alias("en_us"),
    )
    arr = s.groupBy(F.date_trunc("hour", "st").alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("arrivals"),
        F.sum(F.col("en_us") - F.col("st_us")).alias("dur_us"),
    )
    hrs = s.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "st"),
                F.date_trunc("hour", "en"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_ts"),
        "st_us", "en_us",
    )
    busy = hrs.select(
        "hour_ts",
        (
            F.least(
                F.col("en_us"),
                epoch_us(F.col("hour_ts")) + F.lit(_HOUR_US),
            )
            - F.greatest(F.col("st_us"), epoch_us(F.col("hour_ts")))
        ).alias("ov_us"),
    ).groupBy("hour_ts").agg(F.sum("ov_us").alias("busy_us"))
    j = arr.join(busy, "hour_ts", "full_outer").select(
        "hour_ts",
        F.coalesce("arrivals", F.lit(0)).cast("long").alias("arrivals"),
        F.coalesce("dur_us", F.lit(0)).cast("long").alias("dur_us"),
        F.coalesce("busy_us", F.lit(0)).cast("long").alias("busy_us"),
    )
    w_mean = (
        F.col("dur_us").cast("double") / F.col("arrivals").cast("double")
        / F.lit(1.0e6)
    )
    l_arr = F.col("dur_us").cast("double") / F.lit(3.6e9)
    l_obs = F.col("busy_us").cast("double") / F.lit(3.6e9)
    return j.select(
        "hour_ts",
        "arrivals",
        F.round(F.when(F.col("arrivals") > 0, w_mean), 6)
        .alias("w_mean_sec"),
        F.round(l_arr, 6).alias("l_arrival"),
        F.round(l_obs, 6).alias("l_observed"),
        F.round(
            F.when(F.col("dur_us") > 0, l_obs / l_arr), 6
        ).alias("flow_balance"),
    )


def mtbf_mttr(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, total_hours, down_hours, n_down_runs, availability,
    mttr_hours, mtbf_hours): uptime diagnostics from the heartbeat
    grid — an hour with zero observations is DOWN; runs are maximal
    same-state stretches inside each metric's own [first, last]
    observed-hour span (edges never count as downtime: absence before
    first sight is ignorance, not failure).

    MTTR = mean down-run length, MTBF = mean up-run length, both in
    whole hours (exact integer sums / integer counts); availability =
    up_hours / total_hours as one double.

    Islands via the row_number-difference trick inside (metric)
    partitions — the grid is calendar-bounded so the per-metric sort
    is |hours| rows, and the whole operator never touches raw rows
    after the first hash agg."""
    present = series.groupBy(
        F.col(key).alias("m"), F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    span = present.groupBy("m").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "m",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    st = grid.join(present, ["m", "h"], "left").select(
        "m", "h", (F.col("n").isNotNull()).cast("int").alias("up")
    )
    w_all = Window.partitionBy("m").orderBy("h")
    w_state = Window.partitionBy("m", "up").orderBy("h")
    runs = st.select(
        "m", "up",
        (F.row_number().over(w_all) - F.row_number().over(w_state))
        .alias("isl"),
    ).groupBy("m", "up", "isl").agg(F.count(F.lit(1)).alias("len"))
    agg = runs.groupBy("m").agg(
        F.sum("len").alias("total_hours"),
        F.sum(F.when(F.col("up") == 0, F.col("len")).otherwise(0))
        .alias("down_hours"),
        F.sum(F.when(F.col("up") == 0, 1).otherwise(0))
        .alias("n_down_runs"),
        F.sum(F.when(F.col("up") == 1, F.col("len")).otherwise(0))
        .alias("up_hours"),
        F.sum(F.when(F.col("up") == 1, 1).otherwise(0))
        .alias("n_up_runs"),
    )
    return agg.select(
        F.col("m").alias("metric"),
        F.col("total_hours").cast("long").alias("total_hours"),
        F.col("down_hours").cast("long").alias("down_hours"),
        F.col("n_down_runs").cast("long").alias("n_down_runs"),
        F.round(
            F.col("up_hours").cast("double")
            / F.col("total_hours").cast("double"), 6
        ).alias("availability"),
        F.round(
            F.when(
                F.col("n_down_runs") > 0,
                F.col("down_hours").cast("double")
                / F.col("n_down_runs").cast("double"),
            ), 6
        ).alias("mttr_hours"),
        F.round(
            F.when(
                F.col("n_up_runs") > 0,
                F.col("up_hours").cast("double")
                / F.col("n_up_runs").cast("double"),
            ), 6
        ).alias("mtbf_hours"),
    )


def erlang_staffing(series: DataFrame, keys: list[str] | None = None,
                    mu_per_hour: float = 1.0, target_wait_prob: float = 0.2,
                    max_agents: int = 64) -> DataFrame:
    """(keys..., hod, n_hours, lam, n_req, p_wait): Erlang-C staffing
    per hour-of-day — "how many parallel workers does the 3 pm load
    need so fewer than `target_wait_prob` of arrivals queue?", the
    capacity question littles_law checks after the fact, answered
    BEFORE: λ from the observed hod profile, service rate μ pinned.

    The textbook Erlang-C needs aⁿ/n! sums that overflow doubles
    past a ≈ 700 erlangs and drag pow/lgamma (libm, cross-engine
    ulp-divergent) into the plan.  The Erlang-B RECURSION has neither
    problem — B stays in (0,1] and every step is +,*,/ in a pinned
    order, so it is bit-identical across engines with NO libm at all
    (the kalman_level discipline, recursion over n instead of time):

        B(0) = 1;  B(n) = a·B/(n + a·B)
        C(n) = n·B(n)/(n − a·(1−B(n)))       (valid once n > a)
        n_req = min{ n ≤ max_agents : n > a and C(n) ≤ target }

    λ = T/D is one division of exact integers (T = events at that
    hod, D = grid hours at that hod, both from the dense grid so
    silent hours count as zeros); a = λ/μ.  NULL n_req/p_wait when
    max_agents cannot meet the target.

    Scale notes: raw scan → |keys|·|hours| grid → |keys|·24 hod rows
    in two hash-aggs; the ≤max_agents recursion runs per hod row
    inside one mapInPandas pass over that tiny post-agg table — the
    loop never sees raw data."""
    keys = keys or ["metric"]
    from timeseriescorrelation_spark.operators.acf import (
        hourly_counts_dense,
    )

    mu = float(mu_per_hour)
    tgt = float(target_wait_prob)
    nmax = int(max_agents)
    g = hourly_counts_dense(series, keys)
    hod = g.groupBy(
        *keys,
        ((F.col("h_us") % F.lit(86_400_000_000))
         / F.lit(3_600_000_000)).cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("y").alias("t_ev"),
    )
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", hod int, n_hours long, lam double, n_req int, p_wait double"
    )

    def _staff(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            lam_l, nreq_l, pw_l = [], [], []
            for t_ev, n_hours in zip(pdf["t_ev"], pdf["n_hours"]):
                lam = float(t_ev) / float(n_hours)
                a = lam / mu
                b = 1.0
                n_req, p_wait = None, None
                for n in range(1, nmax + 1):
                    b = a * b / (n + a * b)
                    if n > a:
                        c = n * b / (n - a * (1.0 - b))
                        if c <= tgt:
                            n_req, p_wait = n, c
                            break
                lam_l.append(lam)
                nreq_l.append(n_req)
                pw_l.append(p_wait)
            out = pdf[[*keys, "hod", "n_hours"]].copy()
            out["lam"] = lam_l
            out["n_req"] = pd.array(nreq_l, dtype="Int32")
            out["p_wait"] = pd.array(pw_l, dtype="float64")
            yield out

    res = hod.mapInPandas(_staff, schema)
    return res.select(
        *keys, "hod", "n_hours",
        F.round("lam", 6).alias("lam"),
        "n_req",
        F.round("p_wait", 6).alias("p_wait"),
    )


def dispersion_test(events: DataFrame, key: str = "event_type",
                    min_days: int = 8) -> DataFrame:
    """(metric, n_days, mean_count, dispersion_index, chi2): Poisson
    index-of-dispersion test on DAILY EVENT COUNTS per metric — the
    assumption check behind every Poisson-arrival model in this
    module (erlang_staffing's M/M/c, littles_law's rate algebra):
    under Poisson, daily counts have variance == mean, so

        χ² = Σ(c_d − c̄)² / c̄ = (n·Σc² − S²) / S     (exact ints!)
        D  = χ² / (n − 1)    (≈1 Poisson, >1 overdispersed/bursty —
             staff for the BURSTS, not the mean; <1 regular/paced)

    The numerator identity clears c̄'s denominator, so χ² is ONE
    double divide of exact decimal38/hugeint sums (n·Σc² − S² ≥ 0
    always); χ² ~ χ²_{n−1} under H0 for the significance read.
    NULL when S = 0 (no events — nothing to test).

    Scale: one hash-agg raw→(metric, day) counts, one hash-agg to
    per-metric moments — the cheapest distributed shape, no joins,
    no windows."""
    d = events.groupBy(
        F.col(key).alias("m"), F.date_trunc("day", "ts").alias("day_ts")
    ).agg(F.count(F.lit(1)).alias("c"))
    g = d.groupBy("m").agg(*moments("c", names="n s q")).where(
        F.col("n") >= int(min_days)
    )
    chi2 = (
        co_moment("n", "s", "s", "q")
        .cast("double") / F.col("s").cast("double")
    )
    nd = F.col("n").cast("double")
    return g.select(
        F.col("m").alias("metric"),
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("s").cast("double") / nd, 6).alias("mean_count"),
        F.when(F.col("s") > 0,
               F.round(chi2 / (nd - F.lit(1.0)), 6))
         .alias("dispersion_index"),
        F.when(F.col("s") > 0, F.round(chi2, 6)).alias("chi2"),
    )


def rate_ratio_weekend(events: DataFrame, key: str = "event_type",
                       min_days: int = 4) -> DataFrame:
    """(metric, days_weekday, days_weekend, events_weekday,
    events_weekend, rate_ratio, z): exposure-adjusted weekend/weekday
    VOLUME contrast per metric — the COUNT member of the weekend
    family (welch_t/mann_whitney/brown_forsythe/effect_sizes all
    compare VALUES; this asks "are weekends busier?", with exposure
    = observed days so a 2-vs-5-day week can't fake a ratio):

        RR = (C1/D1) / (C0/D0)
        z  = (C1 − N·ê) / √(N·ê(1−ê)),  ê = D1/(D0+D1), N = C0+C1

    — the conditional binomial test: given N total events, under
    equal daily rates the weekend share is Binomial(N, ê).  All
    counts exact integers; RR and z are one shared double tree each,
    6 dp.  NULL RR when C0 = 0; NULL z when ê degenerates.
    Weekend by `timeutil.weekday` (engine-neutral).

    Scale: one hash-agg raw→(metric, day), one to per-metric — no
    joins, no windows."""
    d = events.groupBy(
        F.col(key).alias("m"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).agg(F.count(F.lit(1)).alias("c"))
    g1 = weekday("day_ts").isin(0, 6).cast("int")
    dd = d.select("m", "c", g1.alias("g"))
    g = dd.groupBy("m").agg(
        F.sum(F.lit(1) - F.col("g")).alias("d0"),
        F.sum("g").alias("d1"),
        F.sum(F.when(F.col("g") == 0, F.col("c")).otherwise(0))
        .alias("c0"),
        F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
        .alias("c1"),
    ).where(
        (F.col("d0") >= int(min_days)) & (F.col("d1") >= int(min_days))
    )
    d0d, d1d, c0d, c1d = (F.col(x).cast("double")
                          for x in ("d0", "d1", "c0", "c1"))
    rr = (c1d / d1d) / (c0d / d0d)
    e = d1d / (d0d + d1d)
    nn = c0d + c1d
    var = nn * e * (F.lit(1.0) - e)
    z = (c1d - nn * e) / F.sqrt(var)
    return g.select(
        F.col("m").alias("metric"),
        F.col("d0").cast("long").alias("days_weekday"),
        F.col("d1").cast("long").alias("days_weekend"),
        F.col("c0").cast("long").alias("events_weekday"),
        F.col("c1").cast("long").alias("events_weekend"),
        F.when(F.col("c0") > 0, F.round(rr, 6)).alias("rate_ratio"),
        F.when(var > 0, F.round(z, 6)).alias("z"),
    )


def recovery_after_error(events: DataFrame, error_type: str = "error",
                         window_s: int = 300) -> DataFrame:
    """(day_ts, n_errors, n_recovered, recovery_rate, mean_gap_s):
    per day, how often an actor's error is followed by ANY further
    event from the same actor within `window_s` — the self-service
    recovery read (mtbf_mttr times the system's failure cycle; this
    times the USER's path back after one).

    next-event lookup is ONE lead() over each actor's (ts, ord)
    sequence — no self-join; an error that is the actor's final
    event counts as unrecovered (lead is NULL).  Counts are exact
    integers; recovery_rate is one divide and mean_gap_s averages
    the exact µs gaps of recovered errors only (NULL when none),
    both 6 dp.

    Scale: one window over actor-partitioned sequences (the
    sessionization shuffle shape) + one day hash-agg."""
    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), F.col("event_id")
    )
    nxt = events.select(
        "event_type", "ts",
        (F.lead(epoch_us(F.col("ts")), 1).over(w)
         - epoch_us(F.col("ts"))).alias("gap_us"),
    ).where(F.col("event_type") == error_type)
    rec = (F.col("gap_us").isNotNull()
           & (F.col("gap_us") <= F.lit(int(window_s) * 1_000_000)))
    g = nxt.groupBy(F.date_trunc("day", "ts").alias("day_ts")).agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.sum(rec.cast("long")).alias("n_recovered"),
        F.sum(F.when(rec, F.col("gap_us")).otherwise(F.lit(0)))
        .alias("rec_us"),
    )
    return g.select(
        "day_ts",
        F.col("n_errors").cast("long").alias("n_errors"),
        F.col("n_recovered").cast("long").alias("n_recovered"),
        F.round(
            F.col("n_recovered").cast("double")
            / F.col("n_errors").cast("double"), 6
        ).alias("recovery_rate"),
        F.when(
            F.col("n_recovered") > 0,
            F.round(
                F.col("rec_us").cast("double")
                / F.col("n_recovered").cast("double") / F.lit(1e6), 6
            ),
        ).alias("mean_gap_s"),
    )
