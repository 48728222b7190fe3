"""Directional / long-run co-movement screens over the hourly grid:
Engle-Granger cointegration (the spurious-correlation guard) and
binned transfer entropy (the nonparametric directional-influence
companion to the linear crossmetric.granger_gain).

Both follow the aggregate-first discipline: one hash-agg to the
|metrics|·|hours| grid, pair space |metrics|² over aggregates, never
over raw rows — the same property that makes corr_matrix_daily
100-TB-safe.

Exactness:
- engle_granger keeps the OLS residual EXACT up to one shared double
  expression: with centered moments Sxx_c = nΣx²−(Σx)² and
  Sxy_c = nΣxy−ΣxΣy (`exact.co_moment`), the residual scales to the
  integer numerator  NUM_t = Sxx_c·(n·y_t − Σy) − Sxy_c·(n·x_t − Σx)
  and one divide by n·Sxx_c turns it into value units.  Each residual
  is then snapped to integer micro-units (both engines compute the
  SAME double from the SAME integers, so the snap agrees), and the
  lag-1 products/squares accumulate widened again —
  summation order can't bend the statistic.
- transfer_entropy is pure counting: quartile bins via ntile over a
  deterministic (mean, hour) order (the mutual_info recipe), every ln
  over one exact integer ratio, each term snapped to integer
  micro-nats before the sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    co_moment,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_day


def engle_granger(series: DataFrame, key: str = "metric",
                  min_hours: int = 48) -> DataFrame:
    """(metric_x, metric_y, n_hours, beta, rho_res, df_stat): the
    Engle-Granger cointegration screen for every ordered metric pair —
    "is this high correlation a real long-run link, or two trending
    series passing in the night?".  Step 1 regresses y's hourly cents
    on x's over co-occurring hours (exact closed-form OLS); step 2
    asks whether the residual is mean-reverting via its lag-1
    autoregression:

        rho_res = Σ e_t·e_{t−1} / Σ e_{t−1}²,   df_stat = n·(rho−1)

    Strongly negative df_stat → residual snaps back → cointegrated;
    rho_res ≈ 1 → unit-root residual → the correlation is spurious.
    (Engle & Granger 1987; critical values are the user's lookup —
    the engine reports the statistic.)

    Residual sequence follows the SEQUENCE convention (observed hours
    ordered by hour_ts; gaps splice).  Degenerate pairs (constant x,
    zero residual variance, n < min_hours) drop out.

    Scale: pair grid join (|metrics|²·|hours| aggregate rows), one
    broadcast-sized moment join back, one per-pair lag window over
    aggregates, one hash-agg.  Residual micro-snap keeps every
    cross-engine sum over exact integers.
    """
    h = bucket_cents(series, [key], "hour")
    x = h.select(F.col(key).alias("mx"), "hour_ts", F.col("y").alias("vx"))
    y = h.select(F.col(key).alias("my"), "hour_ts", F.col("y").alias("vy"))
    pairs = x.join(y, "hour_ts").where(F.col("mx") != F.col("my"))
    # single pass: pair moments as partition-wide window aggregates
    # over the (aggregate-sized) pair partition, so the raw scan and
    # the grid join run ONCE — a groupBy+join-back lineage would
    # recompute both for the residual branch
    wp = Window.partitionBy("mx", "my")
    m = pairs.select(
        "mx", "my", "hour_ts", "vx", "vy",
        wide(F.count(F.lit(1)).over(wp)).alias("n"),
        F.sum(wide("vx")).over(wp).alias("sx"),
        F.sum(wide("vy")).over(wp).alias("sy"),
        F.sum(wide("vx") * wide("vx")).over(wp)
        .alias("sxx"),
        F.sum(wide("vx") * wide("vy")).over(wp)
        .alias("sxy"),
    ).where(F.col("n") >= min_hours)
    j = m.select(
        "mx", "my", "hour_ts", "vx", "vy", "n", "sx", "sy",
        co_moment("n", "sx", "sx", "sxx")
        .alias("sxxc"),
        co_moment("n", "sx", "sy", "sxy")
        .alias("sxyc"),
    ).where(F.col("sxxc") > 0)
    num = (
        F.col("sxxc") * (F.col("n") * F.col("vy") - F.col("sy"))
        - F.col("sxyc") * (F.col("n") * F.col("vx") - F.col("sx"))
    )
    e_val = num.cast("double") / (
        (F.col("n") * F.col("sxxc")).cast("double") * F.lit(float(SCALE))
    )
    e_u = snap(e_val, 6)
    wlag = Window.partitionBy("mx", "my").orderBy("hour_ts")
    r = j.select(
        "mx", "my", "hour_ts", "n", "sxxc", "sxyc",
        e_u.alias("eu"),
        F.lag(e_u, 1).over(wlag).alias("ep"),
    )
    g = r.groupBy("mx", "my").agg(
        F.max("n").alias("n"),
        F.max("sxxc").alias("sxxc"),
        F.max("sxyc").alias("sxyc"),
        F.count("ep").cast("long").alias("n_lag"),
        # residual micro-units can reach ~1e10; promote to decimal38
        # BEFORE the product so the cross/square terms cannot wrap
        F.sum(wide("eu") * wide("ep")).alias("s01"),
        F.sum(wide("ep") * wide("ep")).alias("s11"),
    ).where(F.col("s11") > 0)
    rho = F.col("s01").cast("double") / F.col("s11").cast("double")
    return g.select(
        F.col("mx").alias("metric_x"), F.col("my").alias("metric_y"),
        F.col("n").cast("long").alias("n_hours"),
        F.round(F.col("sxyc").cast("double") / F.col("sxxc").cast("double"), 6)
        .alias("beta"),
        F.round(rho, 6).alias("rho_res"),
        F.round(
            F.col("n_lag").cast("double") * (rho - F.lit(1.0)), 6
        ).alias("df_stat"),
    )


def transfer_entropy(series: DataFrame, n_bins: int = 4,
                     min_triples: int = 24) -> DataFrame:
    """(metric_x, metric_y, n_triples, te_u, te_nats): binned transfer
    entropy TE(X→Y) over the hourly grid — does knowing x at hour t−1
    reduce uncertainty about y at hour t beyond y's own past?

        TE = Σ p(y', y, x) · ln[ c(y',y,x)·c(y) / (c(y,x)·c(y',y)) ]

    over quartile bins of each metric's hourly mean (ntile over the
    deterministic (mean, hour) order — the mutual_info recipe, so bins
    match across engines with no float threshold).  Every ln is over
    ONE ratio of exact integer counts; each term is snapped to integer
    micro-nats before summation, making the sum order-free.  Unlike
    granger_gain (linear, variance-based) this catches non-monotone
    influence; unlike mutual_info it is DIRECTIONAL: TE(X→Y) ≠
    TE(Y→X).

    Triples pair consecutive OBSERVED hours (h−1, h) via an equi-join
    on the grid — a gap contributes no triple.

    Scale: grid hash-agg, ntile per metric over |hours| rows, two
    grid equi-joins for the (y', y, x) alignment, then counting —
    everything sized by |metrics|²·|hours| aggregates.
    """
    hourly = series.groupBy(
        F.col("metric").alias("m"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(F.col("value"), VALUE_DECIMALS)).alias("sc"),
    ).select(
        "m", "h",
        (F.col("sc").cast("double") / F.col("n").cast("double"))
        .alias("mean_v"),
    )
    w = Window.partitionBy("m").orderBy("mean_v", "h")
    binned = hourly.select(
        "m", "h", F.ntile(int(n_bins)).over(w).alias("b")
    )
    yc = binned.select(
        F.col("m").alias("my"), "h", F.col("b").alias("by1")
    )
    yp = binned.select(
        F.col("m").alias("my"),
        (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("h"),
        F.col("b").alias("by0"),
    )
    xp = binned.select(
        F.col("m").alias("mx"),
        (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("h"),
        F.col("b").alias("bx0"),
    )
    trip = (
        yc.join(yp, ["my", "h"])
        .join(xp, "h")
        .where(F.col("mx") != F.col("my"))
    )
    c_xyz = trip.groupBy("mx", "my", "by1", "by0", "bx0").agg(
        F.count(F.lit(1)).alias("cxyz")
    )
    c_yz = trip.groupBy("mx", "my", "by0", "bx0").agg(
        F.count(F.lit(1)).alias("cyz")
    )
    c_yy = trip.groupBy("mx", "my", "by1", "by0").agg(
        F.count(F.lit(1)).alias("cyy")
    )
    c_y = trip.groupBy("mx", "my", "by0").agg(
        F.count(F.lit(1)).alias("cy")
    )
    tot = trip.groupBy("mx", "my").agg(F.count(F.lit(1)).alias("nn"))
    jt = (
        c_xyz.join(c_yz, ["mx", "my", "by0", "bx0"])
        .join(c_yy, ["mx", "my", "by1", "by0"])
        .join(c_y, ["mx", "my", "by0"])
        .join(tot, ["mx", "my"])
    )
    lnr = F.log(
        (F.col("cxyz") * F.col("cy")).cast("double")
        / (F.col("cyz") * F.col("cyy")).cast("double")
    )
    term_u = snap(
        F.col("cxyz").cast("double") / F.col("nn").cast("double") * lnr, 6
    )
    return (
        jt.select("mx", "my", "nn", term_u.alias("_t"))
        .groupBy(
            F.col("mx").alias("metric_x"), F.col("my").alias("metric_y")
        )
        .agg(
            F.max("nn").cast("long").alias("n_triples"),
            F.sum("_t").alias("te_u"),
        )
        .where(F.col("n_triples") >= min_triples)
        .select(
            "metric_x", "metric_y", "n_triples",
            F.col("te_u").cast("long").alias("te_u"),
            F.round(F.col("te_u").cast("double") / F.lit(1e6), 6)
            .alias("te_nats"),
        )
    )


def its_readout(series: DataFrame, key: str = "metric",
                min_days: int = 10) -> DataFrame:
    """(metric, n_days, break_day_idx, b0, slope_pre, level_change,
    slope_change, r2): interrupted time-series (segmented regression)
    readout per metric — the classic policy-evaluation model
    (Wagner et al. 2002) the changepoint family detects breaks FOR:

        y_t = b0 + b1·u + b2·D + b3·u·D + ε,
        u = day − T (integer, centered on the break),
        D = 1[u ≥ 0]

    b1 = pre-period slope, b2 = immediate level change at the break,
    b3 = slope change after it.  The break T is the integer midpoint
    (min_day + max_day) DIV 2 of each metric's observed span —
    deterministic, engine-neutral, no date parameter (pass a
    changepoint operator's output downstream to re-run around a
    detected break).

    Exactness: u, D, u·D and the daily cent sums are exact integers;
    the ten centered moments are decimal(38,0)/hugeint; the 3×3
    Cramer solve (adf_augmented's machinery shape) is one shared
    double tree — 6-dp rounds agree bit-for-bit.  Degenerate designs
    (det ≤ 0: too few days on a side) drop.

    Scale: day-grid hash-agg → per-metric span agg (broadcast) → one
    hash-agg of moments.  Grid-sized throughout."""
    d = bucket_cents(series, [F.col(key).alias("metric")], "day").select(
        "metric", "y", epoch_day("day_ts").alias("di"),
    )
    span = d.groupBy("metric").agg(
        F.min("di").alias("lo"), F.max("di").alias("hi"),
        F.count(F.lit(1)).alias("nd"),
    ).where(F.col("nd") >= int(min_days)).select(
        "metric",
        # floor, not a bare double-divide + cast: Spark's double→long
        # cast truncates while DuckDB's rounds half-to-even, so an odd
        # lo+hi would disagree at the .5; floor is floor in both
        F.floor((F.col("lo") + F.col("hi")) / 2).cast("long")
         .alias("t_brk"),
    )
    r = d.join(F.broadcast(span), "metric").select(
        "metric", "y", "t_brk",
        (F.col("di") - F.col("t_brk")).alias("u"),
    ).select(
        "metric", "y", "t_brk", "u",
        (F.col("u") >= 0).cast("long").alias("dd"),
        (F.col("u") * (F.col("u") >= 0).cast("long")).alias("w"),
    )
    g = r.groupBy("metric").agg(
        F.max("t_brk").alias("t_brk"),
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(wide("u")).alias("s1"),
        F.sum(wide("dd")).alias("s2"),
        F.sum(wide("w")).alias("s3"),
        F.sum(wide("y")).alias("sy"),
        F.sum(wide("u") * wide("u")).alias("s11"),
        F.sum(wide("u") * wide("dd")).alias("s12"),
        F.sum(wide("u") * wide("w")).alias("s13"),
        F.sum(wide("dd")).alias("s22_"),
        F.sum(wide("dd") * wide("w")).alias("s23"),
        F.sum(wide("w") * wide("w")).alias("s33"),
        F.sum(wide("u") * wide("y")).alias("s1y"),
        F.sum(wide("dd") * wide("y")).alias("s2y"),
        F.sum(wide("w") * wide("y")).alias("s3y"),
        F.sum(wide("y") * wide("y")).alias("syy"),
    )

    def cen(sab, sa, sb):
        return co_moment("n", sa, sb, sab).cast("double")

    S11, S22, S33 = (cen("s11", "s1", "s1"), cen("s22_", "s2", "s2"),
                     cen("s33", "s3", "s3"))
    S12, S13, S23 = (cen("s12", "s1", "s2"), cen("s13", "s1", "s3"),
                     cen("s23", "s2", "s3"))
    S1y, S2y, S3y = (cen("s1y", "s1", "sy"), cen("s2y", "s2", "sy"),
                     cen("s3y", "s3", "sy"))
    Syy = cen("syy", "sy", "sy")
    det = (S11 * (S22 * S33 - S23 * S23)
           - S12 * (S12 * S33 - S23 * S13)
           + S13 * (S12 * S23 - S22 * S13))
    b1 = (S1y * (S22 * S33 - S23 * S23)
          - S12 * (S2y * S33 - S23 * S3y)
          + S13 * (S2y * S23 - S22 * S3y)) / det
    b2 = (S11 * (S2y * S33 - S3y * S23)
          - S1y * (S12 * S33 - S23 * S13)
          + S13 * (S12 * S3y - S2y * S13)) / det
    b3 = (S11 * (S22 * S3y - S23 * S2y)
          - S12 * (S12 * S3y - S2y * S13)
          + S1y * (S12 * S23 - S22 * S13)) / det
    fs = F.lit(float(SCALE))
    b0 = (
        F.col("sy").cast("double")
        - b1 * F.col("s1").cast("double")
        - b2 * F.col("s2").cast("double")
        - b3 * F.col("s3").cast("double")
    ) / F.col("n").cast("double") / fs
    r2 = F.when(
        Syy > 0, (b1 * S1y + b2 * S2y + b3 * S3y) / Syy
    )
    return g.where(det > 0).select(
        "metric",
        F.col("n").cast("long").alias("n_days"),
        F.col("t_brk").cast("long").alias("break_day_idx"),
        F.round(b0, 6).alias("b0"),
        F.round(b1 / fs, 6).alias("slope_pre"),
        F.round(b2 / fs, 6).alias("level_change"),
        F.round(b3 / fs, 6).alias("slope_change"),
        F.round(r2, 6).alias("r2"),
    )
