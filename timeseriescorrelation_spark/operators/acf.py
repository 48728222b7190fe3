"""Autocorrelation spectrum + seasonality period detection.

The reference's statistic is pairwise Pearson between different series
(SURVEY §3.1 step 3); here the SAME exact-moment machinery is pointed
at a series against ITSELF at hourly shifts — the classic ACF route to
seasonality detection ("does traffic repeat every 24 h?").  A raw DFT
periodogram needs cos/sin, whose last-ulp varies across libm
implementations and would break a bit-exact cross-engine oracle; the
ACF of integer hourly counts needs only BIGINT moment sums + IEEE
sqrt/divide (same trick as rolling.rolling_corr /
analytics._anomaly_moments), so Spark and DuckDB agree bit-for-bit.
(`periodogram` below does ship a DFT — made oracle-exact by
micro-snapping each trig term to integer units before summation, the
same discipline drift.entropy_daily uses for ln().)

Pipeline:
  1. hourly event counts per key (one hash-agg shuffle; counts are
     exact integers — no cents snapping needed),
  2. dense hour grid per key (sequence+explode born POST-aggregation,
     so grid rows never touch the raw-event shuffle),
  3. per lag L in 1..max_lag: pair (y_t, y_{t+L}) via an equi-join on
     (key, hour) after exploding the lag table on one side,
  4. exact integer moments per (key, lag) → ρ assembled from them.

Scale notes (100 TB): the raw scan collapses to |keys|·|hours| rows in
the FIRST aggregation's map-side partial combine; everything after is
sized by the hourly grid (e.g. 10⁶ series × 1 year ≈ 10¹⁰ rows), and
the lag explode multiplies that by max_lag before one equi-join
shuffle keyed (key, hour) — no window over the whole series, no
cartesian.  Overflow bound: n·Σy² < 2⁶³ needs hours·(hours·B²) < 2⁶³
for per-hour counts B — a decade of hours (~10⁵) allows B ≈ 3·10⁶
events/hour; ANSI mode errors loudly beyond that.
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
from timeseriescorrelation_spark.functions.timeutil import epoch_us

HOUR_US = 3_600_000_000


def hourly_counts_dense(series: DataFrame,
                        keys: list[str] | None = None) -> DataFrame:
    """(keys..., h_us, y): events-per-hour with missing hours as y=0.

    The grid spans each key's own [min hour, max hour] — generated
    from the 2-value span row per key, NOT by outer-joining a global
    calendar (a key active one day must not drag a year of zeros)."""
    keys = keys or ["metric"]
    h = (
        series.groupBy(
            *keys,
            (F.floor(epoch_us(F.col("ts")) / HOUR_US) * HOUR_US)
            .alias("h_us"),
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    span = h.groupBy(*keys).agg(
        F.min("h_us").alias("h0"), F.max("h_us").alias("h1")
    )
    grid = span.select(
        *keys,
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.lit(HOUR_US))
        ).alias("h_us"),
    )
    return (
        grid.join(h, keys + ["h_us"], "left")
        .select(*keys, "h_us", F.coalesce("y", F.lit(0)).alias("y"))
    )


def acf_spectrum(series: DataFrame, max_lag: int = 24,
                 keys: list[str] | None = None, min_n: int = 8) -> DataFrame:
    """(keys..., lag_h, n_pairs, acf): Pearson of (y_t, y_{t+L}) on the
    dense hourly-count series, for L = 1..max_lag.

    ρ is assembled from exact BIGINT moments (nΣxy−ΣxΣy over the two
    sqrt'd variance terms) so the DuckDB oracle matches bit-for-bit;
    NULL when fewer than min_n pairs or either side has zero variance.
    """
    keys = keys or ["metric"]
    g = hourly_counts_dense(series, keys)
    lags = F.explode(
        F.sequence(F.lit(1), F.lit(int(max_lag)))
    ).alias("lag_h")
    a = g.select(*keys, "h_us", F.col("y").alias("x"), lags)
    # the lagged side's join hour is computed BEFORE the join, so the
    # whole condition is a plain equi-join on (keys, lag_h, hour) —
    # never a per-(key,lag) cross of hours filtered afterwards
    b = (
        g.select(*keys, "h_us", F.col("y").alias("y2"))
        .select("*", lags)
        .select(
            *keys,
            "lag_h",
            (F.col("h_us") - F.col("lag_h") * F.lit(HOUR_US))
            .alias("h_us"),
            "y2",
        )
    )
    pairs = a.join(b, [*keys, "lag_h", "h_us"])
    m = pairs.groupBy(*keys, "lag_h").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y2").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).alias("syy"),
        F.sum(F.col("x") * F.col("y2")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = n * F.col("sxx") - sx * sx
    dy = n * F.col("syy") - sy * sy
    rho = F.when(
        (n >= min_n) & (dx > 0) & (dy > 0),
        F.round(
            num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))), 6
        ),
    )
    return m.select(
        *keys,
        F.col("lag_h").cast("int").alias("lag_h"),
        F.col("n").cast("long").alias("n_pairs"),
        rho.alias("acf"),
    )


def dominant_period(series: DataFrame, max_lag: int = 24, min_lag: int = 2,
                    keys: list[str] | None = None,
                    min_n: int = 8) -> DataFrame:
    """(keys..., period_h, acf): the lag in [min_lag, max_lag] with the
    highest ACF per key — smallest lag wins ties, so the pick is
    deterministic on the 6-dp-rounded ρ both engines share.  min_lag
    defaults to 2: lag-1 is serial smoothness, not a season."""
    keys = keys or ["metric"]
    spec = acf_spectrum(series, max_lag, keys, min_n)
    w = Window.partitionBy(*keys).orderBy(
        F.desc("acf"), F.asc("lag_h")
    )
    return (
        spec.where(
            (F.col("lag_h") >= int(min_lag)) & F.col("acf").isNotNull()
        )
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            *keys,
            F.col("lag_h").alias("period_h"),
            "acf",
        )
    )


def seasonal_naive_backtest(series: DataFrame, period_hours: int = 24,
                            keys: list[str] | None = None) -> DataFrame:
    """(keys..., n_eval, sae_cents, mae_u, smape_u): backtest of the
    seasonal-naive forecast ŷ(t) = y(t − period) on hourly cent
    totals — the baseline every real forecaster must beat, and the
    operator that turns dominant_period's answer into a measured
    error ("how predictable IS this series at its period?").

    Forecast pairing is a CALENDAR-OFFSET equi-join on (keys,
    hour − period), not lag(period): a missing hour must drop the
    evaluation point, not silently misalign every later row (same
    reasoning as the wow_delta operator).

    Exactness: hourly totals are exact BIGINT cents, so sae_cents is
    an exact integer sum; mae_u = floor(1e6·sae/(n·100)) is one IEEE
    division of exact integers.  sMAPE terms |a−f|/(|a|+|f|) are
    snapped to integer micro-units per hour BEFORE the mean (the
    fixed-point order-proof trick), zero when a = f = 0.

    Scale notes (100 TB): raw scan collapses map-side to |keys|·|hours|
    rows; one self-equi-join keyed (keys, hour); one final hash-agg.
    No windows, no dense grid (absent hours simply don't evaluate)."""
    keys = keys or ["metric"]
    per_us = int(period_hours) * HOUR_US
    h = series.groupBy(
        *keys,
        (F.floor(epoch_us(F.col("ts")) / HOUR_US) * HOUR_US)
        .alias("h_us"),
    ).agg(
        F.sum(snap(F.col("value"), VALUE_DECIMALS)).alias("a")
    )
    f = h.select(
        *keys,
        (F.col("h_us") + F.lit(per_us)).alias("h_us"),
        F.col("a").alias("fc"),
    )
    j = h.join(f, [*keys, "h_us"])
    ae = F.abs(F.col("a") - F.col("fc"))
    den = F.abs(F.col("a")) + F.abs(F.col("fc"))
    smape_term_u = F.when(den == 0, F.lit(0).cast("long")).otherwise(
        snap(ae.cast("double") * F.lit(1_000_000.0) / den.cast("double"))
    )
    g = j.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(ae).alias("sae"),
        F.sum(smape_term_u).alias("ssm"),
    )
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n_eval"),
        F.col("sae").cast("long").alias("sae_cents"),
        F.floor(
            F.col("sae").cast("double") * F.lit(1_000_000.0)
            / (F.col("n").cast("double") * F.lit(float(SCALE)))
        ).cast("long").alias("mae_u"),
        F.floor(
            F.col("ssm").cast("double") / F.col("n").cast("double")
        ).cast("long").alias("smape_u"),
    )


def seasonal_strength(series: DataFrame,
                      keys: list[str] | None = None) -> DataFrame:
    """(keys..., n, r2_u): how much of a series' variance the
    (day-of-week × hour-of-day) profile explains — one-way-ANOVA R²
    in integer micro-units, the strength score that says whether
    seasonal_profile/forecast_eval are modeling signal or noise
    (Hyndman's seasonal-strength F_s, computed exactly).

        R² = SSB/SST = (E·N − S²) / (Q·N − S²),  E = Σ_g round(s_g²/n_g)

    with S=Σc, Q=Σc² over integer cents and (n_g, s_g) per profile
    cell.  Everything except the per-cell s_g²/n_g is exact
    decimal(38,0)/hugeint; that one division is a single IEEE op on
    exact integers whose ROUNDED integer result re-enters exact
    arithmetic — so the final figure is one deterministic division,
    never an order-dependent float sum (the engine's fixed-point
    trick, per-cell this time).  NULL when SST = 0.

    Scale notes (100 TB): raw scan collapses map-side to ≤168 cells
    per key; two hash-aggs on (key, cell) then (key).  No windows."""
    keys = keys or ["metric"]
    c = snap(F.col("value"), VALUE_DECIMALS)
    pt = series.select(
        *keys,
        F.dayofweek(F.col("ts")).alias("dow"),
        F.hour(F.col("ts")).alias("hod"),
        c.alias("c"),
    )
    g = pt.groupBy(*keys, "dow", "hod").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("c").alias("sg"),
        F.sum(wide("c") * wide("c")).alias("qg"),
    )
    eg = wide(F.round(
        (wide("sg") * wide("sg")).cast("double")
        / F.col("ng").cast("double")
    ))
    t = g.groupBy(*keys).agg(
        wide(F.sum("ng")).alias("n"),
        wide(F.sum("sg")).alias("s"),
        F.sum("qg").alias("q"),
        F.sum(eg).alias("e"),
    )
    ssb = co_moment("n", "s", "s", "e")
    sst = co_moment("n", "s", "s", "q")
    return t.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.when(
            sst > 0,
            F.floor(
                ssb.cast("double") * F.lit(1_000_000.0)
                / sst.cast("double")
            ).cast("long"),
        ).alias("r2_u"),
    )


def periodogram(series: DataFrame,
                periods: tuple[int, ...] = (6, 8, 12, 24, 48, 84, 168),
                keys: list[str] | None = None) -> DataFrame:
    """Sinusoid amplitude at candidate periods — the frequency-domain
    companion to acf_spectrum (ACF answers "does it repeat"; the
    periodogram answers "how BIG is the P-hour cycle, in events/hour").
    For each key and period P:

        amp(P) = (2/n)·√(S_c² + S_s²),
        S_c = Σ_t (y_t − ȳ)·cos(2πt/P),  S_s likewise with sin

    over the dense hourly grid.  The module docstring rules out a
    bit-exact cos/sin oracle; this operator gets a cross-engine-EXACT
    one anyway by the micro-snap discipline: each demeaned term keeps
    an integer numerator (a_t = n·y_t − S, exact), the trig factor is
    evaluated on the REDUCED angle 2π·(t mod P)/P (an identical small
    double in both engines), and round(a_t·cos(·)/n·1e6) snaps the
    term to integer micro-units BEFORE the sum — the last-ulp libm
    divergence (~1e-16 relative) is orders of magnitude below the
    half-unit snap threshold, and integer sums don't care about
    addition order.  S_c/S_s are cast to double only for the final
    hypot (|S| < 2⁵³ long before int64 overflow matters).

    Scale notes (100 TB): raw scan → |keys|·|hours| grid rows in one
    hash-agg (map-side combine), ×|periods| explode on the GRID (not
    the raw events), one more hash-agg.  No joins beyond the grid
    densify, no windows over raw data."""
    import math

    keys = keys or ["metric"]
    d = hourly_counts_dense(series, keys)
    w = Window.partitionBy(*keys)
    d2 = d.select(
        *keys, "y",
        ((F.col("h_us") - F.min("h_us").over(w)) / F.lit(HOUR_US))
        .cast("long").alias("t"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("s"),
    )
    ex = d2.select(
        *keys, "y", "t", "n", "s",
        F.explode(F.array(*[F.lit(p) for p in periods])).alias("period_h"),
    ).where(F.col("n") >= 2 * F.col("period_h"))
    two_pi = F.lit(2.0 * math.pi)
    a = (F.col("n") * F.col("y") - F.col("s")).cast("double")
    theta = two_pi * (F.col("t") % F.col("period_h")) / F.col("period_h")

    g = ex.groupBy(*keys, "period_h").agg(
        F.sum(snap(a * F.cos(theta) / F.col("n"), 6)).alias("_sc"),
        F.sum(snap(a * F.sin(theta) / F.col("n"), 6)).alias("_ss"),
        F.max("n").alias("n_hours"),
    )
    amp = (
        F.lit(2.0)
        * F.sqrt(
            F.col("_sc").cast("double") * F.col("_sc").cast("double")
            + F.col("_ss").cast("double") * F.col("_ss").cast("double")
        )
        / F.lit(1e6) / F.col("n_hours").cast("double")
    )
    return g.select(
        *keys,
        F.col("period_h").cast("int").alias("period_h"),
        F.col("n_hours").cast("long").alias("n_hours"),
        F.round(amp, 6).alias("amp"),
    )


# (X_i − X̄)/Σ(X−X̄)² for X = ln(16,32,64,128): the closed-form slope
# weights of the R/S log-log regression, frozen as double literals so
# Spark and the SQL oracle combine the four scale means with the SAME
# four constants in the SAME order (no engine-ordered float sums).
HURST_WINDOWS = (16, 32, 64, 128)
HURST_COEF = (-0.432808512266689, -0.14426950408889622,
              0.14426950408889638, 0.43280851226668915)


def hurst_rs(series: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Hurst exponent per key by rescaled-range (R/S) analysis over
    the dense hourly count series — long-range dependence in one
    number (H ≈ 0.5 memoryless, > 0.5 persistent/trending, < 0.5
    mean-reverting), the classic complement to ACF's fixed-lag view.

    Per scale w ∈ {16,32,64,128} hours, over each FULL w-hour block:
    cumulative deviations Z_k = Σ_{i≤k}(y_i − μ); R/S = (max Z − min Z)
    / σ.  Multiplying through by w makes every comparison integer:
    w·Z_k = w·cum_k − k·S is exact, and R/S = (max wZ − min wZ) /
    √(w·Q − S²) — the w's cancel, so ln() sees a quotient of an exact
    integer and an exact-integer sqrt.  Each block's ln(R/S) is
    micro-snapped before the per-scale integer sum (libm-ulp discipline
    as in periodogram), the four scale means are exact-input divides,
    and H is their FIXED-literal linear combination (HURST_COEF) —
    deterministic cross-engine end to end.

    Scale notes (100 TB): grid = |keys|·|hours| rows from one hash-agg;
    ×4 explode on the grid; per-block windows are partitioned by
    (key, w, block) — frames of ≤ 128 rows, never a global sort.  Keys
    spanning < 256 h emit NULL H (fewer than two 128-blocks is not a
    regression)."""
    keys = keys or ["metric"]
    d = hourly_counts_dense(series, keys)
    wk = Window.partitionBy(*keys)
    d2 = d.select(
        *keys, "y",
        ((F.col("h_us") - F.min("h_us").over(wk)) / F.lit(HOUR_US))
        .cast("long").alias("t"),
    )
    ex = d2.select(
        *keys, "y", "t",
        F.explode(F.array(*[F.lit(w) for w in HURST_WINDOWS])).alias("w"),
    ).select(
        "*",
        F.floor(F.col("t") / F.col("w")).alias("blk"),
        (F.col("t") % F.col("w") + 1).alias("k"),
    )
    wb = Window.partitionBy(*keys, "w", "blk")
    wcum = wb.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    z = ex.select(
        *keys, "w", "blk", "k", "y",
        F.count(F.lit(1)).over(wb).alias("_n"),
        F.sum("y").over(wb).alias("s"),
        F.sum(F.col("y") * F.col("y")).over(wb).alias("q"),
        F.sum("y").over(wcum).alias("cum"),
    ).where(F.col("_n") == F.col("w")).select(
        *keys, "w", "blk", "s", "q",
        (F.col("w") * F.col("cum") - F.col("k") * F.col("s")).alias("wz"),
    )
    blk = z.groupBy(*keys, "w", "blk").agg(
        F.max("wz").alias("mx"), F.min("wz").alias("mn"),
        F.first("s").alias("s"), F.first("q").alias("q"),
    ).select(
        *keys, "w",
        co_moment("w", "s", "s", "q").alias("s2"),
        (F.col("mx") - F.col("mn")).alias("rng"),
    ).where((F.col("s2") > 0) & (F.col("rng") > 0))
    per_w = blk.select(
        *keys, "w",
        snap(
            F.log(F.col("rng").cast("double")
                  / F.sqrt(F.col("s2").cast("double"))), 6
        ).alias("u"),
    ).groupBy(*keys, "w").agg(
        F.count(F.lit(1)).alias("nb"), F.sum("u").alias("su")
    ).select(
        *keys, "w",
        "nb",
        (F.col("su").cast("double") / F.lit(1e6)
         / F.col("nb").cast("double")).alias("ybar"),
    )
    piv = per_w.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("w") == w, F.col("ybar"))).alias(f"y{w}")
            for w in HURST_WINDOWS
        ],
        F.sum("nb").alias("n_blocks"),
    )
    hurst = None
    for w, c in zip(HURST_WINDOWS, HURST_COEF):
        term = F.lit(c) * F.col(f"y{w}")
        hurst = term if hurst is None else hurst + term
    return piv.select(
        *keys,
        F.col("n_blocks").cast("long").alias("n_blocks"),
        *[F.round(F.col(f"y{w}"), 6).alias(f"ln_rs_{w}")
          for w in HURST_WINDOWS],
        F.when(
            F.col("y16").isNotNull() & F.col("y32").isNotNull()
            & F.col("y64").isNotNull() & F.col("y128").isNotNull(),
            F.round(hurst, 6),
        ).alias("hurst"),
    )


def ljung_box(series: DataFrame, max_lag: int = 24,
              keys: list[str] | None = None, min_n: int = 8) -> DataFrame:
    """(keys..., n_hours, k_used, q_lb): Ljung-Box portmanteau
    statistic per key over the dense hourly-count ACF — "is there ANY
    serial structure in the first max_lag lags?", the one-number
    companion to the per-lag acf_spectrum rows:

        Q = n(n+2) Σ_{k=1..K} ρ_k² / (n − k)

    with n the dense-grid length and ρ_k the engine's own 6-dp-rounded
    per-lag Pearson (so both engines start from bit-identical inputs).
    Each term ρ_k²/(n−k) is snapped to integer pico-units (1e-12 —
    terms are ≤ 1, so the ulp sits ~7 orders below the snap), the
    pico-units sum exactly, and Q is one final double expression.
    Lags with NULL ρ (degenerate variance or < min_n pairs) are
    excluded; k_used reports how many lags contributed.  n−k equals
    the lag's own pair count on a dense grid, so no second pass is
    needed.

    Scale: rides acf_spectrum (one hash-agg + one grid equi-join);
    the final reduction is |keys| rows.
    """
    keys = keys or ["metric"]
    a = acf_spectrum(series, max_lag, keys, min_n)
    term_u = snap(F.col("acf") * F.col("acf") / F.col("n_pairs"), 12)
    g = a.select(
        *keys,
        (F.col("n_pairs") + F.col("lag_h")).alias("n_grid"),
        F.col("acf"),
        term_u.alias("t_u"),
    ).groupBy(*keys).agg(
        F.max("n_grid").cast("long").alias("n_hours"),
        F.count("acf").cast("long").alias("k_used"),
        F.sum("t_u").alias("q_u"),
    )
    nd = F.col("n_hours").cast("double")
    return g.select(
        *keys, "n_hours", "k_used",
        F.round(
            nd * (nd + F.lit(2.0))
            * (F.col("q_u").cast("double") / F.lit(1e12)),
            6,
        ).alias("q_lb"),
    )


def pacf3(series: DataFrame, keys: list[str] | None = None,
          min_n: int = 8) -> DataFrame:
    """(keys..., n_hours, phi11, phi22, phi33): partial autocorrelation
    at lags 1-3 per key via the Durbin-Levinson recursion over the
    dense hourly-count ACF — the classic AR-order identification
    companion to acf_spectrum (ACF tails off, PACF cuts off at the AR
    order; ar2_forecast's model choice is justified when phi33 ≈ 0):

        φ11 = ρ1
        φ22 = (ρ2 − ρ1²) / (1 − ρ1²),   φ21 = ρ1 − φ22·ρ1
        φ33 = (ρ3 − (φ21·ρ2 + φ22·ρ1)) / (1 − (φ21·ρ1 + φ22·ρ2))

    one double tree over the engine's 6-dp-rounded ρ (bit-identical
    inputs both engines), each level NULL-guarded on its denominator
    and on missing ρ.  Scale: rides acf_spectrum, final reduction is
    |keys| rows.
    """
    keys = keys or ["metric"]
    a = acf_spectrum(series, 3, keys, min_n)
    p = a.groupBy(*keys).agg(
        F.max(F.col("n_pairs") + F.col("lag_h")).cast("long")
        .alias("n_hours"),
        F.max(F.when(F.col("lag_h") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag_h") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag_h") == 3, F.col("acf"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    den2 = F.lit(1.0) - r1 * r1
    l2 = p.select(
        *keys, "n_hours", "r1", "r2", "r3",
        F.when(den2 != 0, (r2 - r1 * r1) / den2).alias("p22"),
    )
    p21 = r1 - F.col("p22") * r1
    l3 = l2.select(
        *keys, "n_hours", "r1", "r2", "r3", "p22",
        p21.alias("p21"),
        (F.lit(1.0) - (p21 * r1 + F.col("p22") * r2)).alias("den3"),
    )
    phi33 = F.when(
        F.col("den3") != 0,
        (r3 - (F.col("p21") * r2 + F.col("p22") * r1)) / F.col("den3"),
    )
    return l3.select(
        *keys, "n_hours",
        F.round(r1, 6).alias("phi11"),
        F.round(F.col("p22"), 6).alias("phi22"),
        F.round(phi33, 6).alias("phi33"),
    )


def semivariogram(series: DataFrame, max_lag: int = 6,
                  keys: list[str] | None = None) -> DataFrame:
    """(metric, lag_h, n_pairs, gamma): empirical semivariogram of
    the hourly cent-total series at lags 1..max_lag hours —

        γ(h) = Σ (y_{t+h} − y_t)² / (2·n_pairs(h))

    the geostatistician's reading of the ACF (γ(h) = σ²(1 − ρ(h))
    for stationary series): a rising-then-flat γ exposes the
    decorrelation RANGE in hours without estimating σ² first.

    Pairing is the same calendar-offset equi-join as acf_spectrum
    (missing hours drop, never misalign); squared cent diffs
    accumulate in decimal(38,0); γ is reported in value-units²
    (÷10⁴, the icc_oneway round-grid policy).

    Scale: grid agg then max_lag equi-joins on (keys, hour) — every
    join is grid-sized, shuffle bounded by |metrics|·|hours|·lags."""
    keys = keys or ["metric"]
    g = bucket_cents(series, keys, "hour")
    lags = series.sparkSession.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag_h")
    )
    a = g.crossJoin(F.broadcast(lags)).select(
        *keys, "lag_h",
        (F.col("hour_ts") + F.col("lag_h")
         * F.expr("INTERVAL 1 HOUR")).alias("h2"),
        F.col("y").alias("y1"),
    )
    b = g.select(*keys, F.col("hour_ts").alias("h2"),
                 F.col("y").alias("y2"))
    pairs = a.join(b, [*keys, "h2"])
    dsq = (
        wide(F.col("y2") - F.col("y1"))
        * wide(F.col("y2") - F.col("y1"))
    )
    out = pairs.groupBy(*keys, "lag_h").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum(dsq).alias("sq")
    )
    return out.select(
        *keys, "lag_h",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            F.col("sq").cast("double")
            / (F.lit(2.0) * F.col("n_pairs").cast("double"))
            / F.lit(1.0e4), 6
        ).alias("gamma"),
    )


def circadian_phase(series: DataFrame, keys: list[str] | None = None
                    ) -> DataFrame:
    """(metric, n, resultant_r, mean_hour): circular statistics of
    event time-of-day per key — each observation is a unit phasor at
    angle θ = 2π·(µs-of-day)/86400e6; the resultant length

        R̄ = |Σ e^{iθ}| / n ∈ [0, 1]

    is the single-number concentration seasonal_profile can't give
    (R̄→1: everything at one hour; R̄→0: uniform around the clock),
    and atan2 of the mean phasor is the peak hour.  The linear mean
    of hour-of-day is garbage at the midnight wrap (23:30 and 00:30
    average to noon); circular statistics is the fix.

    cos/sin terms are snapped to integer MICRO-units before the sum
    (order-free; the theil ln policy applied to trig), so C and S are
    exact integers and R̄/mean_hour are one shared double tree.

    Scale: one map-side-combined hash agg — in-row trig, no shuffle
    beyond the |keys| aggregation."""
    keys = keys or ["metric"]
    tau = 6.283185307179586
    us_day = F.pmod(epoch_us(F.col("ts")), F.lit(86_400_000_000))
    theta = us_day.cast("double") / F.lit(86_400_000_000.0) * F.lit(tau)
    agg = series.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(F.cos(theta), 6)).alias("cu"),
        F.sum(snap(F.sin(theta), 6)).alias("su"),
    )
    c = F.col("cu").cast("double") / F.lit(1.0e6)
    s = F.col("su").cast("double") / F.lit(1.0e6)
    n = F.col("n").cast("double")
    r = F.sqrt(c * c + s * s) / n
    ang = F.atan2(s, c)
    hour = F.when(ang < 0, ang + F.lit(tau)).otherwise(ang) \
        / F.lit(tau) * F.lit(24.0)
    return agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(r, 6).alias("resultant_r"),
        F.round(hour, 6).alias("mean_hour"),
    )


def harmonic_regression(series: DataFrame,
                        keys: list[str] | None = None) -> DataFrame:
    """(metric, n_hours, intercept, amplitude, phase_hour, r2): OLS
    fit of y_h = a + b·cos θ_h + c·sin θ_h over the hourly cent-total
    grid (θ = 2π·hour-of-day/24) — the VALUE-side seasonality model
    next to circadian_phase's event-time concentration: amplitude is
    "how big is the daily swing", phase_hour "when does it peak", R²
    "how much of the variance the daily cycle explains".

    Exactness: cos/sin enter as integer MICRO-unit regressors (24
    distinct values), so every normal-equation sum (Σc, Σc², Σcs,
    Σyc, …) is an exact decimal(38,0) integer; the 3×3 solve is
    Cramer's rule in ONE shared double tree over those integers —
    no iterative solver, no accumulation order anywhere.

        SSE = Σy² − (a·Σy + b·Σyc + c·Σys),  R² = 1 − SSE/SST

    Scale: grid hash agg → per-metric hash agg → scalar algebra;
    |metrics| output rows."""
    keys = keys or ["metric"]
    tau = 6.283185307179586
    g = bucket_cents(series, keys, "hour")
    theta = (
        F.hour("hour_ts").cast("double") / F.lit(24.0) * F.lit(tau)
    )
    cu = snap(F.cos(theta), 6)
    su = snap(F.sin(theta), 6)
    t = g.select(
        *keys, "y", cu.alias("cu"), su.alias("su")
    )
    m = t.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cu").alias("sc"),
        F.sum("su").alias("ss"),
        F.sum(wide("cu") * wide("cu")).alias("scc"),
        F.sum(wide("su") * wide("su")).alias("sss"),
        F.sum(wide("cu") * wide("su")).alias("scs"),
        F.sum("y").alias("sy"),
        F.sum(wide("y") * wide("y")).alias("syy"),
        F.sum(wide("y") * wide("cu")).alias("syc"),
        F.sum(wide("y") * wide("su")).alias("sys"),
    ).where(F.col("n") >= 4)
    u = F.lit(1.0e6)
    n = F.col("n").cast("double")
    sc = F.col("sc").cast("double") / u
    ss = F.col("ss").cast("double") / u
    scc = F.col("scc").cast("double") / (u * u)
    sss = F.col("sss").cast("double") / (u * u)
    scs = F.col("scs").cast("double") / (u * u)
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    syc = F.col("syc").cast("double") / u
    sys_ = F.col("sys").cast("double") / u

    def det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
        return (
            a11 * (a22 * a33 - a23 * a32)
            - a12 * (a21 * a33 - a23 * a31)
            + a13 * (a21 * a32 - a22 * a31)
        )

    det = det3(n, sc, ss, sc, scc, scs, ss, scs, sss)
    det_a = det3(sy, sc, ss, syc, scc, scs, sys_, scs, sss)
    det_b = det3(n, sy, ss, sc, syc, scs, ss, sys_, sss)
    det_c = det3(n, sc, sy, sc, scc, syc, ss, scs, sys_)
    a = det_a / det
    b = det_b / det
    c = det_c / det
    sse = syy - (a * sy + b * syc + c * sys_)
    sst = syy - sy * sy / n
    r2 = F.when(sst > 0, F.lit(1.0) - sse / sst)
    amp = F.sqrt(b * b + c * c)
    ang = F.atan2(c, b)
    tau_l = F.lit(tau)
    phase = (
        F.when(ang < 0, ang + tau_l).otherwise(ang) / tau_l * F.lit(24.0)
    )
    sc_v = F.lit(float(SCALE))
    return m.where(F.abs(det) > 0).select(
        *keys,
        F.col("n").cast("long").alias("n_hours"),
        F.round(a / sc_v, 6).alias("intercept"),
        F.round(amp / sc_v, 6).alias("amplitude"),
        F.round(phase, 6).alias("phase_hour"),
        F.round(r2, 6).alias("r2"),
    )


def spectral_entropy(series: DataFrame,
                     periods: tuple[int, ...] = (6, 8, 12, 24, 48, 84,
                                                 168),
                     keys: list[str] | None = None) -> DataFrame:
    """(metric, n_periods, spectral_entropy, spectral_flatness): how
    PERIODIC vs broadband each metric's hourly series is, summarized
    from the already-gated periodogram amplitudes:

        p_i = amp_i² / Σ amp²           (power shares)
        H   = −Σ p_i ln p_i / ln(k)     (1 = flat/noisy, 0 = one tone)
        flatness = geomean(power)/mean(power)   (same reading, the
                    audio-DSP convention; 0 when any band is empty)

    Determinism: the composition starts from the periodogram's ALREADY
    6-dp-ROUNDED amps (bit-equal across engines by its own gate), then
    squares are snapped to integer NANO-units and every ln enters as a
    micro-nat integer — order-free sums throughout, one double tree at
    the end.

    Scale: |metrics|·k input rows — pure post-aggregate algebra."""
    keys = keys or ["metric"]
    pg = periodogram(series, periods, keys)
    q = pg.select(
        *keys,
        snap(F.col("amp") * F.col("amp"), 9).alias("qu"),
    )
    tot = q.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("k_bands"),
        F.sum("qu").alias("qsum"),
        F.min("qu").alias("qmin"),
    )
    j = q.join(tot, keys).where(F.col("qu") > 0)
    p = F.col("qu").cast("double") / F.col("qsum").cast("double")
    ent_u = snap(p * F.log(p), 6)
    lnq_u = snap(F.log(F.col("qu").cast("double")), 6)
    agg = j.groupBy(*keys, "k_bands", "qsum", "qmin").agg(
        F.sum(ent_u).alias("eu"),
        F.sum(lnq_u).alias("lu"),
        F.count(F.lit(1)).alias("k_pos"),
    )
    k = F.col("k_bands").cast("double")
    h = F.when(
        F.col("k_bands") > 1,
        -(F.col("eu").cast("double") / F.lit(1.0e6)) / F.log(k),
    )
    geo = F.exp(
        (F.col("lu").cast("double") / F.lit(1.0e6))
        / F.col("k_pos").cast("double")
    )
    mean_q = F.col("qsum").cast("double") / k
    flat = F.when(
        (F.col("qmin") > 0) & (mean_q > 0), geo / mean_q
    ).otherwise(F.lit(0.0))
    return agg.where(F.col("qsum") > 0).select(
        *keys,
        F.col("k_bands").cast("long").alias("n_periods"),
        F.round(h, 6).alias("spectral_entropy"),
        F.round(flat, 6).alias("spectral_flatness"),
    )


def hod_quantile_bands(series: DataFrame,
                       keys: list[str] | None = None,
                       min_days: int = 5) -> DataFrame:
    """(metric, hod, n_days, p10, p50, p90): the fan chart behind
    seasonal_profile's mean — per hour-of-day, the exact 10/50/90th
    ORDER STATISTICS of the hourly cent totals across days ("what does
    a normal-vs-bad 14:00 look like"), the capacity-planning view a
    mean hides.

    Quantiles are type-1 order statistics selected by row_number over
    the integer (y, day) order (the corr_winsorized rule: interpolated
    percentile_cont would hand each engine its own float edges) at
    index ⌈q·n⌉ — exact integers end to end, one /scale display
    divide.

    Scale: the hourly grid collapses the corpus first, so each
    (metric, hod) rank partition holds ≤ |days| rows — bounded,
    parallel windows; 24·|metrics| output rows."""
    keys = keys or ["metric"]
    g = bucket_cents(series, keys, "hour").select(
        *keys, F.hour("hour_ts").alias("hod"),
        F.date_trunc("day", "hour_ts").alias("d"), "y",
    )
    w = Window.partitionBy(*keys, "hod").orderBy("y", "d")
    wn = Window.partitionBy(*keys, "hod")
    r = g.select(
        *keys, "hod", "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q_num: int, q_den: int):
        idx = F.ceil(
            F.col("n") * F.lit(q_num) / F.lit(q_den)
        ).cast("long")
        return F.max(F.when(F.col("rn") == idx, F.col("y")))

    agg = r.groupBy(*keys, "hod", "n").agg(
        pick(1, 10).alias("c10"),
        pick(5, 10).alias("c50"),
        pick(9, 10).alias("c90"),
    ).where(F.col("n") >= int(min_days))
    sc = F.lit(float(SCALE))
    return agg.select(
        *keys,
        F.col("hod").cast("int").alias("hod"),
        F.col("n").cast("long").alias("n_days"),
        F.round(F.col("c10").cast("double") / sc, 6).alias("p10"),
        F.round(F.col("c50").cast("double") / sc, 6).alias("p50"),
        F.round(F.col("c90").cast("double") / sc, 6).alias("p90"),
    )


def lomb_scargle(series: DataFrame,
                 periods: tuple[int, ...] = (6, 8, 12, 24, 48, 84, 168),
                 keys: list[str] | None = None, min_n: int = 16) -> DataFrame:
    """(keys..., period_h, n, power): Lomb–Scargle normalized
    periodogram of the RAW irregularly-timestamped value series —
    `periodogram` needs the dense hourly grid (and a gap-fill policy
    to build it); Lomb–Scargle is the classical estimator that takes
    the observations exactly where they fall, the right spectral tool
    for transcript events whose arrival process IS the signal.

    The tau-rotated form is folded in algebraically so no atan2 of a
    derived double ever feeds another trig call (that chain would
    break cross-engine exactness).  With theta_i = 2*pi*((t_i - t0)
    mod P)/P (exact integer mod, then one small identical double) and
    demeaned integer numerator a_i = n*y_i - S (cents):

        YC = sum a_i*cos(theta_i)/n   YS likewise with sin
        CC = sum cos^2(theta_i)       SS = sum sin^2(theta_i)
        CS = sum cos*sin

        P(omega) = [CC*YS^2 + SS*YC^2 - 2*CS*YC*YS]
                   / (2*sigma^2*[CC*SS - CS^2])

    Exactness recipe: every trig term is micro-snapped to integer
    units BEFORE its sum (YC/YS at 1e4, CC/SS/CS at 1e6 — the
    last-ulp libm divergence is orders below the half-unit snap
    threshold, and integer sums are addition-order-free); sigma^2
    keeps the exact integer numerator n*Sum(y^2) - S^2; the final
    power is ONE identical double expression tree over those exact
    integers, so Spark and DuckDB agree bit-for-bit.  Scale factors:
    with YC,YS in cent*1e4 units and CC,SS,CS in 1e6 units,
    P = snapNum * n^2 / (200 * v_num * snapDen).

    Guards: NULL power when the series is constant (v_num = 0) or the
    snapped Gram determinant CC*SS - CS^2 degenerates to <= 0 (all
    phase mass on one axis); a (key, period) row emits only when the
    observed SPAN covers >= 2 periods and n >= min_n.

    Scale notes (100 TB): per-key moments collapse in ONE
    map-side-combined hash-agg to |keys| rows, broadcast-joined back;
    the explode multiplies raw points by |periods| (that product IS
    the algorithm's work) into a second hash-agg keyed
    (key, period) — no windows over raw data, no self-joins.
    Overflow bound: n*Sum(c^2) < 2^63 allows ~10^9 points/key at
    cent values < 10^5 (ANSI mode errors loudly beyond); term sums
    stay exact in int64 up to ~10^14 points/key."""
    import math

    keys = keys or ["metric"]
    pt = series.select(
        *keys,
        epoch_us(F.col("ts")).alias("t_us"),
        snap(F.col("value"), VALUE_DECIMALS).alias("c"),
    )
    stats = pt.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
        F.min("t_us").alias("t0"),
        F.max("t_us").alias("t1"),
    )
    j = pt.join(F.broadcast(stats), keys)
    ex = j.select(
        *keys, "t_us", "c", "n", "s", "ssq", "t0", "t1",
        F.explode(F.array(*[F.lit(p) for p in periods])).alias("period_h"),
    ).where(
        (F.col("n") >= F.lit(int(min_n)))
        & (F.col("t1") - F.col("t0")
           >= 2 * F.col("period_h").cast("long") * F.lit(HOUR_US))
    )
    p_us = (F.col("period_h").cast("long") * F.lit(HOUR_US)).cast("double")
    theta = (
        F.lit(2.0 * math.pi)
        * ((F.col("t_us") - F.col("t0"))
           % (F.col("period_h").cast("long") * F.lit(HOUR_US)))
        .cast("double") / p_us
    )
    a = (F.col("n") * F.col("c") - F.col("s")).cast("double")
    cos_t, sin_t = F.cos(theta), F.sin(theta)

    g = ex.groupBy(*keys, "period_h").agg(
        wide(F.sum(snap(a * cos_t / F.col("n"), 4))).alias("yc"),
        wide(F.sum(snap(a * sin_t / F.col("n"), 4))).alias("ys"),
        wide(F.sum(snap(cos_t * cos_t, 6))).alias("cc"),
        wide(F.sum(snap(sin_t * sin_t, 6))).alias("ss"),
        wide(F.sum(snap(cos_t * sin_t, 6))).alias("cs"),
        F.max("n").alias("n"),
        F.max(co_moment("n", "s", "s", "ssq")).alias("v_num"),
    )
    yc, ys = F.col("yc").cast("double"), F.col("ys").cast("double")
    cc, ss, cs = (F.col("cc").cast("double"), F.col("ss").cast("double"),
                  F.col("cs").cast("double"))
    snap_num = cc * ys * ys + ss * yc * yc - 2.0 * cs * yc * ys
    snap_den = cc * ss - cs * cs
    n_d = F.col("n").cast("double")
    power = (
        snap_num * n_d * n_d
        / (F.lit(200.0) * F.col("v_num").cast("double") * snap_den)
    )
    return g.select(
        *keys,
        F.col("period_h").cast("int").alias("period_h"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when((F.col("v_num") > 0) & (snap_den > 0), power), 6
        ).alias("power"),
    )


def cross_coherence(series: DataFrame,
                    periods: tuple[int, ...] = (6, 8, 12, 24),
                    keys: list[str] | None = None,
                    min_days: int = 5) -> DataFrame:
    """(ka, kb, period_h, n_days, coherence): magnitude-squared
    coherence between every key pair at candidate periods — "do these
    two metrics cycle TOGETHER, phase-locked day after day?", the
    frequency-domain sibling of corr_pairs (which asks about levels,
    not cycles).  A single segment's coherence is identically 1
    (Cauchy–Schwarz equality for one complex number), so the estimate
    only means something averaged over segments — here calendar DAYS,
    the Welch convention with the day as the natural segment:

        X_m(day) = Σ_t ã_t·e^{-iθ_t}   (per-day demeaned DFT)
        coh = |Σ_d X_a·conj(X_b)|² / (Σ_d|X_a|²·Σ_d|X_b|²)

    Exactness: per-day cos/sin sums use the periodogram discipline —
    reduced angle θ = 2π(t mod P)/P on the hour-of-day integer,
    demeaned integer numerator a_t = 24·y_t − S_day, each trig term
    micro-snapped to integer units BEFORE summation; the day-level
    cross/auto products are integer×integer summed in decimal38 /
    hugeint; coherence is ONE identical double tree over those exact
    integers.  Periods must divide 24 so every day holds whole cycles
    (a partial cycle would alias day-mean into the bin).

    Scale notes (100 TB): raw scan → |keys|·|hours| grid (map-side
    combine), per-(key, day, period) DFT rows = grid × |periods| into
    one hash-agg; the PAIR join runs on the |keys|·|days|·|periods|
    spectral table (NOT the grid) keyed (day, period) — with the
    ε-grid candidate prune composable in front exactly as for
    Pearson when |keys| is large.  Complete 24-hour days only."""
    keys = keys or ["metric"]
    import math

    assert all(24 % p == 0 for p in periods), "periods must divide 24"
    g = hourly_counts_dense(series, keys)
    day = g.select(
        *keys,
        F.timestamp_micros(
            (F.floor(F.col("h_us") / F.lit(86_400_000_000))
             * F.lit(86_400_000_000)).cast("long")
        ).alias("day_ts"),
        ((F.col("h_us") % F.lit(86_400_000_000))
         / F.lit(3_600_000_000)).cast("int").alias("t"),
        "y",
    )
    wd = Window.partitionBy(*keys, "day_ts")
    full = (
        day.withColumn("nh", F.count(F.lit(1)).over(wd))
        .withColumn("s_day", F.sum("y").over(wd))
        .where(F.col("nh") == 24)
    )
    ex = full.select(
        *keys, "day_ts", "t", "y", "s_day",
        F.explode(F.array(*[F.lit(p) for p in periods])).alias("period_h"),
    )
    theta = (
        F.lit(2.0 * math.pi)
        * (F.col("t") % F.col("period_h")).cast("double")
        / F.col("period_h").cast("double")
    )
    a = (F.lit(24) * F.col("y") - F.col("s_day")).cast("double")

    spec = ex.groupBy(*keys, "day_ts", "period_h").agg(
        F.sum(snap(a * F.cos(theta) / F.lit(24.0), 4)).alias("cr"),
        F.sum(snap(a * -F.sin(theta) / F.lit(24.0), 4)).alias("ci"),
    )
    lhs = spec.select(
        *[F.col(k).alias(f"{k}_a") for k in keys], "day_ts", "period_h",
        F.col("cr").alias("ar"), F.col("ci").alias("ai"),
    )
    rhs = spec.select(
        *[F.col(k).alias(f"{k}_b") for k in keys], "day_ts", "period_h",
        F.col("cr").alias("br"), F.col("ci").alias("bi"),
    )
    pairs = lhs.join(rhs, ["day_ts", "period_h"]).where(
        F.col(f"{keys[0]}_a") < F.col(f"{keys[0]}_b")
    )
    agg = pairs.groupBy(
        *[f"{k}_a" for k in keys], *[f"{k}_b" for k in keys], "period_h"
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(wide("ar") * wide("br") + wide("ai") * wide("bi"))
        .alias("xre"),
        F.sum(wide("ai") * wide("br") - wide("ar") * wide("bi"))
        .alias("xim"),
        F.sum(wide("ar") * wide("ar") + wide("ai") * wide("ai"))
        .alias("paa"),
        F.sum(wide("br") * wide("br") + wide("bi") * wide("bi"))
        .alias("pbb"),
    ).where(F.col("n_days") >= int(min_days))
    xre, xim = F.col("xre").cast("double"), F.col("xim").cast("double")
    paa, pbb = F.col("paa").cast("double"), F.col("pbb").cast("double")
    coh = (xre * xre + xim * xim) / (paa * pbb)
    out_cols = (
        [F.col(f"{k}_a").alias(f"{k}_a") for k in keys]
        + [F.col(f"{k}_b").alias(f"{k}_b") for k in keys]
    )
    return agg.select(
        *out_cols,
        F.col("period_h").cast("int").alias("period_h"),
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.when((paa > 0) & (pbb > 0), coh), 6).alias("coherence"),
    )


def dfa_fluctuation(series: DataFrame,
                    scales: tuple[int, ...] = (8, 16, 32, 64),
                    keys: list[str] | None = None,
                    min_blocks: int = 4) -> DataFrame:
    """(keys..., scale_h, n_blocks, fluct): detrended fluctuation
    analysis of the hourly count series — the log-log slope of
    fluct vs scale is the DFA scaling exponent alpha, the
    detrending-robust route to the SAME long-memory question hurst_rs
    (R/S) and wavelet_variance (spectral) answer; three independent
    estimators triangulate, which is the point of having all three.

    DFA-1 per scale L: profile P_t = cumulative sum of the demeaned
    series, split into ⌊n/L⌋ complete blocks, each block OLS-detrended
    (line WITH intercept), F(L) = RMS of the residuals.  Everything
    up to one final sqrt/divide is EXACT integer arithmetic:

        P_t = n·cumsum(y)_t − t·S          (scaled by n; exact)
        per block: A = L·Σx·P − Σx·ΣP,  C = L·ΣP² − (ΣP)²
        B = L²(L²−1)/12                    (x = 0..L−1, constant!)
        Σ_block SSE = Σ (C·B − A²) / (L·B)
        F(L) = sqrt(Σ(C·B − A²) / (N_b·L²·B)) / n

    C·B − A² is summed in decimal(38,0)/hugeint (P² alone can pass
    int64 at year-scale histories); the final expression is one
    identical double tree.  Closed forms: constant series → 0 at
    every scale; i.i.d.-like noise → slope ≈ 0.5; long-memory →
    slope → 1.

    Scale notes (100 TB): raw scan → |keys|·|hours| grid (map-side
    combine); ONE running-sum window per key over the grid builds the
    profile (the periodogram budget); the scale explode multiplies
    the GRID by |scales| into two hash-aggs keyed (key, scale, block)
    then (key, scale) — geometric block shrink, no joins, no raw-data
    windows."""
    keys = keys or ["metric"]
    g = hourly_counts_dense(series, keys)
    w = Window.partitionBy(*keys)
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("h_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prof = g.select(
        *keys,
        ((F.col("h_us") - F.min("h_us").over(w)) / F.lit(3_600_000_000))
        .cast("long").alias("t"),
        (F.count(F.lit(1)).over(w)).alias("n"),
        (F.sum("y").over(w)).alias("s"),
        F.sum("y").over(wcum).alias("cy"),
    ).select(
        *keys, "t", "n",
        (F.col("n") * F.col("cy")
         - (F.col("t") + 1) * F.col("s")).alias("p"),
    )
    lv = prof.select(
        *keys, "t", "n", "p",
        F.explode(F.array(*[F.lit(s) for s in scales])).alias("scale_h"),
    )
    blocks = lv.groupBy(
        *keys, "n", "scale_h",
        (F.col("t") / F.col("scale_h")).cast("long").alias("b"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(wide("p")).alias("sp"),
        F.sum(wide(F.col("t") % F.col("scale_h")) * wide("p"))
        .alias("sxp"),
        F.sum(wide("p") * wide("p")).alias("spp"),
    )
    L = wide("scale_h")
    sx = wide(F.col("scale_h") * (F.col("scale_h") - 1) / 2)
    a_m = L * F.col("sxp") - sx * F.col("sp")
    c_m = L * F.col("spp") - F.col("sp") * F.col("sp")
    b_den = wide(
        (F.col("scale_h").cast("long") * F.col("scale_h")
         * (F.col("scale_h") * F.col("scale_h") - 1)) / 12
    )
    per_scale = (
        blocks.where(F.col("cnt") == F.col("scale_h"))
        .select(
            *keys, "n", "scale_h",
            (c_m * b_den - a_m * a_m).alias("ssen"),
            b_den.alias("bd"),
        )
        .groupBy(*keys, "n", "scale_h")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("ssen").alias("ssen"),
            F.max("bd").alias("bd"),
        )
        .where(F.col("n_blocks") >= int(min_blocks))
    )
    f2 = (
        F.col("ssen").cast("double")
        / (F.col("n_blocks").cast("double")
           * F.col("scale_h").cast("double") * F.col("scale_h").cast("double")
           * F.col("bd").cast("double"))
    )
    fluct = F.sqrt(F.greatest(f2, F.lit(0.0))) / F.col("n").cast("double")
    return per_scale.select(
        *keys,
        F.col("scale_h").cast("int").alias("scale_h"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.round(fluct, 6).alias("fluct"),
    )


def ess_hourly(series: DataFrame, max_lag: int = 24,
               keys: list[str] | None = None, min_n: int = 8) -> DataFrame:
    """(keys..., n_hours, n_lags_used, tau, ess): integrated
    autocorrelation time and effective sample size of each key's dense
    hourly count series — the "how many INDEPENDENT hours is this
    really" correction every naive √n error bar on autocorrelated
    operational data silently needs (MCMC's ESS, applied to metrics):

        τ = 1 + 2·Σ_{k=1..K} ρ_k,      ESS = n/τ

    Fixed truncation K = max_lag (deterministic — adaptive
    initial-sequence rules would make the cut data-dependent); lags
    with NULL ρ (short series, zero variance) drop from the sum and
    are counted in n_lags_used.  τ ≤ 0 (strong anti-correlation at
    this truncation) yields NULL ESS rather than a negative size.

    Exactness: ρ comes 6-dp-rounded from acf_spectrum, so each ρ·10⁶
    is an exact integer — the cross-lag sum is an ORDER-FREE integer
    sum (a double sum of 24 rounded ρs would be addition-order
    ulp-dependent), and τ/ESS are one shared double tree.  n_hours is
    recovered as max(n_pairs + lag) — exact on the dense grid.

    Scale: acf_spectrum's shape (grid + one lag equi-join + hash-agg)
    then a |keys|-row aggregate."""
    keys = keys or ["metric"]
    a = acf_spectrum(series, max_lag, keys, min_n)
    t = a.groupBy(*keys).agg(
        F.max(F.col("n_pairs") + F.col("lag_h")).alias("n_hours"),
        F.sum(snap("acf", 6)).alias("su"),
        F.count("acf").alias("used"),
    )
    tau = F.lit(1.0) + F.lit(2.0) * (
        F.col("su").cast("double") / F.lit(1e6)
    )
    return t.select(
        *keys,
        F.col("n_hours").cast("long").alias("n_hours"),
        F.col("used").cast("long").alias("n_lags_used"),
        F.round(tau, 6).alias("tau"),
        F.round(
            F.when(tau > 0, F.col("n_hours").cast("double") / tau), 6
        ).alias("ess"),
    )
