"""Offline changepoint detection + burst flagging over metric series.

``changepoint_daily`` is single-split binary segmentation — the first
level of the classic recursive scheme (Scott & Knott / binary-seg as
popularized by ruptures): for each (key, day) pick the split k that
maximizes the between-segment sum-of-squares reduction

    gain(k) = S_k²/k + (S_n−S_k)²/(n−k) − S_n²/n

where S_k is the prefix sum of the cent-snapped values in time order.
That identity means the WHOLE scan over candidate splits is one window
cumsum + one window max — O(n log n) per group from the sort Spark
already pays for the window, no per-split re-aggregation, no UDF.
Recursive multi-split segmentation is a driver-paced loop over this
primitive on the two halves; one level is what dashboards ask first
("did this metric's level shift today, and when?").

Exactness: S_k, k, S_n, n are exact integers (int64 prefix sums of
cents — overflow at n·B ≈ 2⁶³ cents/day, loudly under ANSI mode);
gain is assembled from them with the SAME double expression tree in
Spark and DuckDB, so the argmax and the reported means agree
bit-for-bit.  Ties on gain (e.g. symmetric days) resolve to the
smallest k in both engines.

``burst_hours`` flags hours whose event count exceeds a rational
multiple of the trailing-24h baseline — Kleinberg's two-state burst
detector collapsed to its decision rule.  The comparison is kept in
integers (cnt·den·23 > num·(trail−cnt)·…), so no float enters the
flag and the oracle matches exactly.

Scale notes (100 TB): changepoint shuffles ONCE on (keys, day) — the
window sort is the only cost, and day-bounded groups keep partitions
task-sized; burst_hours aggregates to the hourly grid first (map-side
combine collapses the raw scan to |keys|·|hours| rows) and windows
over that tiny grid.
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
from timeseriescorrelation_spark.functions.timeutil import epoch_day, epoch_us


def changepoint_daily(series: DataFrame, keys: list[str] | None = None,
                      min_n: int = 8) -> DataFrame:
    """(keys..., day_ts, n, split_ts, gain_ss, mean_left, mean_right):
    the best single level-shift split per (key, day).

    split_ts is the timestamp of the LAST point of the left segment;
    gain_ss is the variance-explained sum of squares in value units²
    (0 when the day is flat); mean_left/mean_right are the segment
    means.  Days with fewer than ``min_n`` points are dropped — a
    2-point "changepoint" is noise."""
    keys = keys or ["metric"]
    day = F.date_trunc("day", "ts")
    pt = series.select(
        *keys,
        day.alias("day_ts"),
        F.col("ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("turn_idx"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    w = Window.partitionBy(*keys, "day_ts").orderBy("t_us", "turn_idx")
    wall = Window.partitionBy(*keys, "day_ts")
    cum = pt.select(
        *keys, "day_ts", "ts",
        F.row_number().over(w).alias("k"),
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("sk"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("c").over(wall).alias("sn"),
    )
    skd = F.col("sk").cast("double")
    snd = F.col("sn").cast("double")
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    cand = cum.where(
        (F.col("n") >= min_n) & (F.col("k") < F.col("n"))
    ).withColumn(
        "gain",
        skd * skd / kd
        + (snd - skd) * (snd - skd) / (nd - kd)
        - snd * snd / nd,
    )
    mg = cand.withColumn("mg", F.max("gain").over(wall))
    best = (
        mg.where(F.col("gain") == F.col("mg"))
        .groupBy(*keys, "day_ts")
        .agg(
            F.min_by(
                F.struct("ts", "k", "sk", "n", "sn", "gain"), F.col("k")
            ).alias("b")
        )
    )
    b = F.col("b")
    sc2 = float(SCALE) * float(SCALE)
    return best.select(
        *keys,
        "day_ts",
        b["n"].cast("long").alias("n"),
        b["ts"].alias("split_ts"),
        F.round(b["gain"] / F.lit(sc2), 6).alias("gain_ss"),
        F.round(
            b["sk"].cast("double")
            / b["k"].cast("double") / F.lit(float(SCALE)),
            6,
        ).alias("mean_left"),
        F.round(
            (b["sn"] - b["sk"]).cast("double")
            / (b["n"] - b["k"]).cast("double") / F.lit(float(SCALE)),
            6,
        ).alias("mean_right"),
    )


def burst_hours(events: DataFrame, keys: list[str] | None = None,
                num: int = 3, den: int = 1,
                min_count: int = 10) -> DataFrame:
    """(keys..., hour_ts, cnt, trail_cnt, burst): hours whose event
    count exceeds (num/den)× the mean of the trailing 23 OBSERVED
    hours (current hour excluded) — the "is this hour anomalously
    hot" flag, integer-exact:

        burst ⇔ cnt·den·n_trail > num·trail_sum  AND  cnt ≥ min_count

    n_trail counts the observed trailing hours (≤ 23), so sparse
    series compare against what actually exists rather than an
    imputed dense grid; hours with zero trailing history never flag
    (cold start).  Returns the full hourly grid of observed hours
    with the flag, so downstream can both list bursts and rate them."""
    keys = keys or ["metric"]
    hourly = events.groupBy(
        *keys, F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("hour_ts")))
        .rowsBetween(-23, -1)
    )
    g = hourly.select(
        *keys, "hour_ts", "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("trail_cnt"),
        F.count(F.lit(1)).over(w).alias("n_trail"),
    )
    return g.select(
        *keys, "hour_ts",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("trail_cnt").cast("long").alias("trail_cnt"),
        (
            (F.col("n_trail") > 0)
            & (F.col("cnt") >= min_count)
            & (
                F.col("cnt") * F.lit(int(den)) * F.col("n_trail")
                > F.lit(int(num)) * F.col("trail_cnt")
            )
        ).alias("burst"),
    )


def changepoints_multi(series: DataFrame, keys: list[str] | None = None,
                       max_splits: int = 3,
                       min_gain: float = 0.0,
                       min_seg: int = 4) -> DataFrame:
    """(keys..., day_ts, seg_id, seg_start_ts, n, mean): full binary
    segmentation — the single-split primitive applied recursively,
    driver-paced like the engine's other fixpoints (connected
    components, k-means): each round re-runs the ONE-shuffle split
    scan on every current segment simultaneously (segment id joins
    into the window partition key, so a round costs the same as one
    changepoint_daily pass regardless of how many segments are live),
    accepts every split whose gain exceeds ``min_gain`` and whose
    halves keep ``min_seg`` points, and stops after ``max_splits``
    rounds or when no segment splits.  Rounds are bounded by
    max_splits (not data), so the driver loop is O(max_splits) jobs.

    Output is one row per final segment with its start, size and
    mean — the piecewise-constant fit dashboards draw.  Exactness:
    the split decisions reuse changepoint_daily's exact-integer
    machinery; the emitted means are exact-integer sums over one
    double division."""
    keys = keys or ["metric"]
    pt = series.select(
        *keys,
        F.date_trunc("day", "ts").alias("day_ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("turn_idx"),
        snap("value", VALUE_DECIMALS).alias("c"),
    ).withColumn("seg", F.lit(0).cast("long")).localCheckpoint(
        eager=True
    )
    part = [*keys, "day_ts", "seg"]
    for _ in range(int(max_splits)):
        w = Window.partitionBy(*part).orderBy("t_us", "turn_idx")
        wall = Window.partitionBy(*part)
        cum = pt.select(
            *part, "t_us", "turn_idx", "c",
            F.row_number().over(w).alias("k"),
            F.sum("c").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("sk"),
            F.count(F.lit(1)).over(wall).alias("n"),
            F.sum("c").over(wall).alias("sn"),
        )
        skd = F.col("sk").cast("double")
        snd = F.col("sn").cast("double")
        kd = F.col("k").cast("double")
        nd = F.col("n").cast("double")
        cand = cum.where(
            (F.col("k") >= int(min_seg))
            & (F.col("k") <= F.col("n") - int(min_seg))
        ).withColumn(
            "gain",
            skd * skd / kd
            + (snd - skd) * (snd - skd) / (nd - kd)
            - snd * snd / nd,
        )
        best = (
            cand.withColumn("mg", F.max("gain").over(wall))
            .where(
                (F.col("gain") == F.col("mg"))
                & (F.col("gain") > F.lit(float(min_gain) * SCALE * SCALE))
            )
            .groupBy(*part)
            .agg(F.min_by(F.struct("t_us", "turn_idx"), F.col("k")).alias(
                "cut"
            ))
            .select(
                *part,
                F.col("cut")["t_us"].alias("cut_t"),
                F.col("cut")["turn_idx"].alias("cut_o"),
            )
        )
        if best.isEmpty():
            break
        # rows strictly after the cut move to a fresh segment id
        # (2*seg+1 keeps ids unique without coordination)
        # plain equi-join on the segment key: `best` is |segments|-
        # bounded (could be millions of metric-days at 100 TB) — let
        # AQE pick broadcast vs shuffle instead of forcing a hint
        nxt = (
            pt.join(best, part, "left")
            .select(
                *keys, "day_ts", "t_us", "turn_idx", "c",
                F.when(
                    F.col("cut_t").isNotNull()
                    & (
                        (F.col("t_us") > F.col("cut_t"))
                        | (
                            (F.col("t_us") == F.col("cut_t"))
                            & (F.col("turn_idx") > F.col("cut_o"))
                        )
                    ),
                    F.col("seg") * 2 + 2,
                ).otherwise(F.col("seg") * 2 + 1).alias("seg"),
            )
        )
        pt = nxt.localCheckpoint(eager=True)
    out = pt.groupBy(*keys, "day_ts", "seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("t_us", "turn_idx")).alias("s0"),
        F.sum("c").alias("sc"),
    )
    w2 = Window.partitionBy(*keys, "day_ts").orderBy(F.col("s0")["t_us"],
                                                     F.col("s0")["turn_idx"])
    return out.select(
        *keys, "day_ts",
        F.row_number().over(w2).alias("seg_id"),
        F.timestamp_micros(F.col("s0")["t_us"]).alias("seg_start_ts"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("sc").cast("double") / F.col("n").cast("double")
            / F.lit(float(SCALE)),
            6,
        ).alias("mean"),
    )


def pettitt_test(series: DataFrame, keys: list[str] | None = None,
                 min_days: int = 8) -> DataFrame:
    """(metric, n_days, k_stat, change_day, p_approx): Pettitt's
    nonparametric single-changepoint test on the daily cent-sum
    series — the rank-based member of the changepoint family
    (changepoint_daily: CUSUM on means — outlier-sensitive;
    Pettitt: Mann-Whitney across every split — no distributional
    assumption, one spike can't fake it):

        U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i)
        K = max_t |U_t|,    p ≈ 2·exp(−6K² / (T³ + T²))

    change_day is the argmax split (earliest day on ties — decided by
    the INTEGER pair (|U|, −day), never a float).  Every U_t is an
    exact integer assembled from the same O(T²) sign enumeration as
    mann_kendall, cumulated over the day grid; the only doubles are
    the final p expression.

    Scale: T = calendar days, so the pair table is T²/2 rows per
    metric regardless of corpus size (the bounded-quadratic policy);
    one partitioned cumulative window over T rows."""
    keys = keys or ["metric"]
    d = bucket_cents(series, keys, "day")
    i = d.select(*keys, F.col("day_ts").alias("di"),
                 F.col("y").alias("yi"))
    j = d.select(*keys, F.col("day_ts").alias("dj"),
                 F.col("y").alias("yj"))
    # U_t telescopes: U_t − U_{t−1} = Σ_{j>t} sgn(x_j − x_t)
    # − Σ_{i<t} sgn(x_t − x_i) (pairs gained at i = t minus pairs
    # lost at j = t), so one pair enumeration keyed by the anchor day
    # + one cumulative window reproduce every U_t exactly.
    pairs = i.join(j, keys).where(F.col("di") != F.col("dj"))
    delta = pairs.select(
        *keys, "di",
        F.when(
            F.col("di") < F.col("dj"),
            F.signum((F.col("yj") - F.col("yi")).cast("double"))
            .cast("long"),
        ).otherwise(F.lit(0)).alias("gain"),
        F.when(
            F.col("di") > F.col("dj"),
            F.signum((F.col("yi") - F.col("yj")).cast("double"))
            .cast("long"),
        ).otherwise(F.lit(0)).alias("loss"),
    ).groupBy(*keys, "di").agg(
        (F.sum("gain") - F.sum("loss")).alias("du")
    )
    w = (
        Window.partitionBy(*keys).orderBy("di")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = delta.select(
        *keys, "di", F.sum("du").over(w).alias("u_t")
    )
    n = d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_days"))
    best = (
        u.groupBy(*keys)
        .agg(
            F.max(
                F.struct(
                    F.abs(F.col("u_t")).alias("k"),
                    (-epoch_us(F.col("di"))).alias("negd"),
                    F.col("di").alias("di"),
                )
            ).alias("b")
        )
        .select(*keys, F.col("b.k").alias("k_stat"),
                F.col("b.di").alias("change_day"))
    )
    out = best.join(n, keys).where(F.col("n_days") >= int(min_days))
    t = F.col("n_days").cast("double")
    k = F.col("k_stat").cast("double")
    p = F.lit(2.0) * F.exp(
        F.lit(-6.0) * k * k / (t * t * t + t * t)
    )
    return out.select(
        *keys,
        F.col("n_days").cast("long").alias("n_days"),
        F.col("k_stat").cast("long").alias("k_stat"),
        F.col("change_day"),
        F.round(F.least(p, F.lit(1.0)), 6).alias("p_approx"),
    )


def segmented_trend(series: DataFrame, keys: list[str] | None = None,
                    min_days: int = 8,
                    min_seg: int = 3) -> DataFrame:
    """(metric, change_day, n_pre, n_post, slope_pre, slope_post,
    slope_delta): piecewise-linear trend around the Pettitt
    breakpoint — pettitt_test finds WHERE the series shifted; this
    reports HOW the trend differs on each side, the composition the
    two operators exist for (trend_daily gives one global slope; a
    regime change hides inside it).

    Each side gets the exact-moment OLS slope of daily cent-sum on
    day index (trend_daily's algebra), with the day index CENTERED on
    the breakpoint so the decimal38 products stay small and the
    slope is shift-invariant:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) / scale

    value units per day, one double divide per side, 6 dp; NULL when
    a side's x-variance is 0 (single distinct day).  Sides with fewer
    than `min_seg` days are dropped WITH their metric (a slope on 2
    points is noise, and reporting one side only would invite a
    pre-vs-post read that doesn't exist).

    Scale: pettitt_test's bounded T²-pair enumeration (T = calendar
    days) + one day-grid hash-agg per side — raw rows are touched
    once, by the grid aggregation."""
    keys = keys or ["metric"]
    bp = pettitt_test(
        series, keys=keys, min_days=min_days,
    ).select(*keys, "change_day")
    d = bucket_cents(series, keys, "day")
    j = d.join(F.broadcast(bp), keys)
    x = wide(epoch_day("day_ts") - epoch_day("change_day"))
    seg = (F.col("day_ts") > F.col("change_day")).cast("int")
    per = j.select(
        *keys, "change_day", seg.alias("seg"), x.alias("x"),
        wide("y").alias("y"),
    ).groupBy(*keys, "change_day", "seg").agg(
        *moments("x", "y", names="n sx sy sxx - sxy"),
    ).where(F.col("n") >= int(min_seg))
    den = co_moment("n", "sx", "sx", "sxx")
    num = co_moment("n", "sx", "sy", "sxy")
    slope = F.when(
        den > 0,
        num.cast("double") / den.cast("double") / F.lit(float(SCALE)),
    )
    sides = per.select(*keys, "change_day", "seg",
                       F.col("n").cast("long").alias("n"),
                       slope.alias("slope"))
    pre = sides.where(F.col("seg") == 0).select(
        *keys, "change_day", F.col("n").alias("n_pre"),
        F.col("slope").alias("slope_pre"))
    post = sides.where(F.col("seg") == 1).select(
        *keys, "change_day", F.col("n").alias("n_post"),
        F.col("slope").alias("slope_post"))
    out = pre.join(post, [*keys, "change_day"])
    return out.select(
        *keys, "change_day", "n_pre", "n_post",
        F.round("slope_pre", 6).alias("slope_pre"),
        F.round("slope_post", 6).alias("slope_post"),
        F.round(F.col("slope_post") - F.col("slope_pre"), 6)
        .alias("slope_delta"),
    )
