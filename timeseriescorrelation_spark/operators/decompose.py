"""Additive seasonal decomposition (STL-lite): hourly series →
trend + seasonal + residual, the classical decomposition every
time-series monitoring stack wants before alerting on "residual
anomalies" (seasonal_mad judges points against their slot; this
SUBTRACTS the slot structure and hands downstream detectors a
stationary residual).

    trend_t    = centered ±84h moving mean
    seasonal_s = mean of detrended values per (dow, hour-of-day) slot
    resid_t    = value_t − trend_t − seasonal_s

Exactness discipline (everything gate-oracle-able):
- the hourly mean and the moving trend are INTEGER-cent window sums
  divided once (windowed sums of ints are exact in any accumulation
  order — a windowed avg of doubles is NOT: Spark's sliding
  add/subtract and DuckDB's recompute disagree in the last ulp);
- detrended values are snapped to integer micro-units BEFORE the
  seasonal group mean (the lm.py recipe), so the group sum is exact;
- resid is a fixed per-row expression over already-rounded terms.

Scale notes (100 TB): the raw scan collapses to |metrics|·|hours|
rows in one hash-agg; the trend is ONE range-frame window per metric
over that reduced table; the seasonal profile is |metrics|·168 rows
joined back broadcast.  Nothing touches raw rows twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    moments,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_us, weekday

M = 1_000_000.0
_H = 3_600_000_000  # one hour in µs


def stl_lite(series: DataFrame, half_window_h: int = 84,
             keys: list[str] | None = None) -> DataFrame:
    """(keys..., bucket_ts, mean_v, trend, seasonal, resid) at hour
    grain.  ``half_window_h`` is the trend half-width (84 ⇒ a 169-hour
    centered window, one full week)."""
    keys = keys or ["metric"]
    hourly = (
        series.select(
            *keys,
            F.date_trunc("hour", "ts").alias("bucket_ts"),
            snap("value", VALUE_DECIMALS).alias("_vc"),
        )
        .groupBy(*keys, "bucket_ts")
        .agg(
            F.sum("_vc").alias("_cs"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("bucket_ts")))
        .rangeBetween(-int(half_window_h) * _H, int(half_window_h) * _H)
    )
    t = hourly.select(
        *keys, "bucket_ts", "_cs", "_n",
        F.sum("_cs").over(w).alias("_csw"),
        F.sum("_n").over(w).alias("_nw"),
    ).select(
        *keys, "bucket_ts",
        (F.col("_cs").cast("double") / F.col("_n").cast("double")
         / float(SCALE)).alias("_mean"),
        (F.col("_csw").cast("double") / F.col("_nw").cast("double")
         / float(SCALE)).alias("_trend"),
    )
    det = t.select(
        *keys, "bucket_ts", "_mean", "_trend",
        F.dayofweek("bucket_ts").alias("_dow"),
        F.hour("bucket_ts").alias("_hod"),
        snap(F.col("_mean") - F.col("_trend"), 6).alias("_du"),
    )
    # seasonal floors to integer micro-units: its value then has
    # EXACTLY six decimals, so the 6dp output rounding has no half-way
    # boundary to disagree on (a raw sum/count ratio flipped the gate
    # by 1e-6 exactly there); resid likewise derives from the
    # already-quantized terms
    prof = det.groupBy(*keys, "_dow", "_hod").agg(
        F.floor(
            F.sum("_du").cast("double") / F.count(F.lit(1)).cast("double")
        ).cast("long").alias("_su")
    )
    out = det.join(F.broadcast(prof), [*keys, "_dow", "_hod"])
    mean_r = F.round("_mean", 6)
    trend_r = F.round("_trend", 6)
    seas = F.col("_su").cast("double") / F.lit(M)
    return out.select(
        *keys, "bucket_ts",
        mean_r.alias("mean_v"),
        trend_r.alias("trend"),
        F.round(seas, 6).alias("seasonal"),
        F.round(mean_r - trend_r - seas, 6).alias("resid"),
    )


def dow_anova(series: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """One-way ANOVA of hourly volume across day-of-week groups per
    key — the HYPOTHESIS TEST behind seasonal_profile: the profile
    shows per-slot means, this says whether the weekly structure is
    statistically real (F ≫ 1) or noise (F ≈ 1), i.e. whether
    stl_lite's seasonal subtraction is buying anything.

        SSB = Σ_g S_g²/n_g − S²/N     (between day-of-week groups)
        SSW = Σxx − Σ_g S_g²/n_g      (within groups)
        F   = (SSB/(k−1)) / (SSW/(N−k))

    over each metric's hourly integer cent sums.  Exactness: S_g, S,
    Σxx accumulate exactly in decimal(38,0); each rational S_g²/n_g is
    ONE double divide of exact integers snapped to the nearest integer
    (unit cents² — the double's ulp at that magnitude is ~10 orders
    below the snap, same safety argument as the micro-nat recipe), so
    ssb_u/ssw_u are exact integers and F is one fixed double
    expression over them.  Degenerate designs (k < 2, N ≤ k, or
    SSW = 0) → NULL F.

    Scale notes (100 TB): one map-side hash-agg to |metrics|·|hours|
    rows, then two further hash-aggs down to |metrics|·7 and
    |metrics| — no windows, no joins except the final |metrics|-row
    assembly."""
    keys = keys or ["metric"]
    hourly = bucket_cents(series, keys, "hour")
    per_g = hourly.groupBy(
        *keys, F.dayofweek("hour_ts").alias("dow")
    ).agg(
        *moments("y", names="ng sg sxxg"),
    )
    tg_u = snap(
        (F.col("sg") * F.col("sg")).cast("double")
        / F.col("ng").cast("double")
    )
    tot = per_g.select(*keys, "ng", "sg", "sxxg", tg_u.alias("tg")).groupBy(
        *keys
    ).agg(
        F.sum(F.col("ng")).alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sg").alias("s"),
        wide(F.sum("sxxg")).alias("sxx"),
        F.sum("tg").cast("long").alias("sum_tg"),
    )
    sn_u = snap(
        (F.col("s") * F.col("s")).cast("double")
        / F.col("n").cast("double")
    )
    n_l = F.col("n").cast("long")
    g = tot.select(
        *keys, n_l.alias("n_obs"), F.col("k").alias("k_groups"),
        (F.col("sum_tg") - sn_u).alias("ssb_u"),
        (F.col("sxx").cast("long") - F.col("sum_tg")).alias("ssw_u"),
    )
    f_stat = F.when(
        (F.col("k_groups") >= 2) & (F.col("n_obs") > F.col("k_groups"))
        & (F.col("ssw_u") > 0),
        (F.col("ssb_u").cast("double")
         / (F.col("k_groups") - 1).cast("double"))
        / (F.col("ssw_u").cast("double")
           / (F.col("n_obs") - F.col("k_groups")).cast("double")),
    )
    return g.select(
        *keys, "n_obs", "k_groups", "ssb_u", "ssw_u",
        F.round(f_stat, 6).alias("f_stat"),
    )


def stl_anomaly(series: DataFrame, half_window_h: int = 84,
                keys: list[str] | None = None,
                fence_mult: int = 3) -> DataFrame:
    """Seasonality-aware robust anomaly hours: stl_lite residuals
    fenced by per-key Tukey far-out bounds (q1 − m·IQR, q3 + m·IQR)
    — trend and weekly profile removed FIRST, so a busy Monday 9am is
    only anomalous relative to Monday-9am-after-trend, and the fence
    is quartile-based so the anomalies being hunted cannot inflate
    it (σ-based fences self-mask).

    Exactness: stl_lite's resid carries exactly six decimals, so
    resid_u = round(resid·10⁶) is an EXACT int64; q1/q3 are type-1
    order statistics at ceil(n/4)/ceil(3n/4) picked by rank — the
    value at a sorted position is tie-order-invariant — and the
    fences stay integers.  Output rows are the flagged hours with
    their bounds (6 dp).

    Scale shape: stl_lite's two windows + one rank window and one
    tiny per-key quartile aggregate, all keyed by (keys); days/hours
    per key bound the window memory.
    """
    keys = keys or ["metric"]
    s = stl_lite(series, half_window_h=half_window_h, keys=keys)
    base = s.select(
        *keys, "bucket_ts", "mean_v", "resid",
        snap("resid", 6).alias("_ru"),
    )
    wr = Window.partitionBy(*keys).orderBy("_ru", "bucket_ts")
    ranked = base.withColumn("_rn", F.row_number().over(wr))
    # q1/q3 positions need n first: join count back, then pick by rank
    n = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    pos = n.select(
        *keys, "_n",
        F.expr("(_n + 3) div 4").alias("_p1"),
        F.expr("(3 * _n + 3) div 4").alias("_p3"),
    )
    qs = (
        ranked.join(F.broadcast(pos), [*keys])
        .groupBy(*keys)
        .agg(
            F.max(
                F.when(F.col("_rn") == F.col("_p1"), F.col("_ru"))
            ).alias("_q1"),
            F.max(
                F.when(F.col("_rn") == F.col("_p3"), F.col("_ru"))
            ).alias("_q3"),
        )
        .select(
            *keys, "_q1", "_q3",
            (F.col("_q1")
             - F.lit(int(fence_mult)) * (F.col("_q3") - F.col("_q1"))
             ).alias("_lo"),
            (F.col("_q3")
             + F.lit(int(fence_mult)) * (F.col("_q3") - F.col("_q1"))
             ).alias("_hi"),
        )
    )
    return (
        base.join(F.broadcast(qs), [*keys])
        .where((F.col("_ru") < F.col("_lo")) | (F.col("_ru") > F.col("_hi")))
        .select(
            *keys, "bucket_ts", "mean_v", "resid",
            F.round(F.col("_lo").cast("double") / 1e6, 6).alias("fence_lo"),
            F.round(F.col("_hi").cast("double") / 1e6, 6).alias("fence_hi"),
            F.when(F.col("_ru") > F.col("_hi"), F.lit("high"))
            .otherwise(F.lit("low")).alias("side"),
        )
    )


def dow_contrasts(series: DataFrame, key: str = "metric",
                  min_per_group: int = 3) -> DataFrame:
    """(metric, dow_a, dow_b, n_a, n_b, mean_diff, t_stat): all 21
    pairwise day-of-week mean contrasts per metric with the pooled
    within-group error — the post-hoc drill-down dow_anova's single F
    cannot give ("Tuesday ≠ Sunday, everything else is noise"):

        t = (x̄_a − x̄_b) / sqrt(MSW·(1/n_a + 1/n_b))

    Compare |t| against the Tukey/Bonferroni table downstream (the
    grubbs policy — no studentized-range function in either engine).
    MSW rides dow_anova's snapped-SSW recipe; group sums are exact
    decimal38; each contrast is one shared double tree, 6 dp; NULL
    when MSW = 0.  Day-of-week labels are `timeutil.weekday`'s
    (0 = Sun … 6 = Sat), because unlike dow_anova this operator
    OUTPUTS the labels.

    Scale: grid hash-agg → |metrics|·7 → a 21-row-per-metric pair
    join of broadcast-sized aggregates."""
    hourly = bucket_cents(series, [key], "hour")
    per_g = hourly.groupBy(
        key, weekday(F.date_trunc("day", "hour_ts")).alias("dow")
    ).agg(
        *moments("y", names="ng sg sxxg"),
    ).where(F.col("ng") >= int(min_per_group))
    tg_u = wide(F.round(
        (F.col("sg") * F.col("sg")).cast("double")
        / F.col("ng").cast("double")
    ))
    g2 = per_g.select(key, "dow", "ng", "sg", "sxxg",
                      tg_u.alias("tg_u"))
    tot = g2.groupBy(key).agg(
        F.sum("ng").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sxxg").alias("sxx"),
        F.sum("tg_u").alias("sum_tg"),
    )
    msw = (
        (F.col("sxx") - F.col("sum_tg")).cast("double")
        / (F.col("nn") - F.col("k")).cast("double")
    )
    base = tot.select(key, F.col("k").cast("long").alias("k"),
                      msw.alias("msw")).where(F.col("k") >= 2)
    a = g2.select(key, F.col("dow").alias("dow_a"),
                  F.col("ng").alias("na"), F.col("sg").alias("sa"))
    b = g2.select(key, F.col("dow").alias("dow_b"),
                  F.col("ng").alias("nb"), F.col("sg").alias("sb"))
    p = a.join(b, key).where(F.col("dow_a") < F.col("dow_b")).join(
        F.broadcast(base), key
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    diff = (
        F.col("sa").cast("double") / na
        - F.col("sb").cast("double") / nb
    )
    se = F.sqrt(
        F.col("msw") * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return p.select(
        key,
        F.col("dow_a").cast("int").alias("dow_a"),
        F.col("dow_b").cast("int").alias("dow_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(diff / F.lit(float(SCALE)), 6).alias("mean_diff"),
        F.when(F.col("msw") > 0, F.round(diff / se, 6))
        .alias("t_stat"),
    )
