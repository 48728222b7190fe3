"""Cross-metric co-movement: correlation matrix + lagged-predictive
(Granger-style) gain over the hourly aggregate grid.

Both operators follow the engine's aggregate-first discipline: the raw
scan collapses to |metrics|·|hours| rows in ONE map-side-combined hash
aggregation, and the pair space is |metrics|² over that tiny grid —
never over raw turns.  That is what makes "correlate everything
against everything" 100-TB-safe: with k metrics and H hours the pair
join is k²·H rows of pre-aggregated integers, independent of corpus
row count.

Exactness: `functions.exact`.  Overflow bound: n·Σy² < 10³⁸ holds until
≈10⁵ hours of ≈10¹² cents/hour — ANSI mode errors loudly beyond.
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

# the (a, b) pair moments as `moments` names them here
_AB = "n sa sb saa sbb sab"


def corr_matrix_daily(series: DataFrame, key: str = "metric",
                      min_hours: int = 4) -> DataFrame:
    """(metric_a, metric_b, day_ts, n_hours, r): Pearson correlation
    between every metric pair's hourly cent-sum series within each
    day, over the hours where BOTH metrics observed data (inner join —
    absence is missingness, not zero; a dense-grid variant is one
    gapfill away).

    This is the reference's pairwise-Pearson report re-pointed at the
    metric dimension: the ε-grid prune is unnecessary here because the
    pair space is k² over aggregates, not conversations² over raw
    rows."""
    h = bucket_cents(series, [key], "hour")
    a = h.select(
        F.col(key).alias("metric_a"), "hour_ts", F.col("y").alias("ya")
    )
    b = h.select(
        F.col(key).alias("metric_b"), "hour_ts", F.col("y").alias("yb")
    )
    pairs = a.join(b, "hour_ts").where(F.col("metric_a") < F.col("metric_b"))
    g = pairs.groupBy(
        "metric_a", "metric_b",
        F.date_trunc("day", "hour_ts").alias("day_ts"),
    ).agg(
        *moments("ya", "yb", names=_AB),
    )
    num = co_moment("n", "sa", "sb", "sab").cast("double")
    da = co_moment("n", "sa", "sa", "saa").cast("double")
    db = co_moment("n", "sb", "sb", "sbb").cast("double")
    return g.where(F.col("n") >= int(min_hours)).select(
        "metric_a", "metric_b", "day_ts",
        F.col("n").cast("long").alias("n_hours"),
        F.round(
            F.when(
                (da > 0) & (db > 0), num / F.sqrt(da) / F.sqrt(db)
            ),
            6,
        ).alias("r"),
    )


def granger_gain(series: DataFrame, key: str = "metric",
                 min_n: int = 24) -> DataFrame:
    """(metric_x, metric_y, n, r2_restricted, r2_full, gain): does
    metric x's PREVIOUS hour improve the prediction of metric y's
    current hour beyond y's own previous hour?  The Granger-causality
    screen collapsed to its R² comparison:

        restricted:  y_t ~ y_{t−1}              (R²_r = Pearson²)
        full:        y_t ~ y_{t−1} + x_{t−1}    (R²_f, 2-predictor OLS)
        gain = R²_f − R²_r  ∈ [0, 1]

    Observations are hours where y_t, y_{t−1} and x_{t−1} all exist
    (exact hour arithmetic pairs them — equi-joins, no window over an
    imputed grid).  The two-predictor R² is the closed form over
    centered moments

        R²_f = (C1y²·C22 + C2y²·C11 − 2·C1y·C2y·C12)
               / (Cyy·(C11·C22 − C12²))

    with every C assembled exactly (n·Σab − Σa·Σb in decimal38) and
    the polynomial evaluated in doubles with one fixed association —
    identical in the DuckDB oracle.  Degenerate designs (collinear or
    constant predictors) return NULL rather than a fabricated R².

    Directional: (x, y) and (y, x) are both emitted — that asymmetry
    is the point of the screen."""
    h = bucket_cents(series, [key], "hour")
    # a value observed at hour o serves as the lag-1 predictor for
    # hour o+1: re-key the lag sides FORWARD one hour
    nxt = F.col("hour_ts") + F.expr("INTERVAL 1 HOUR")
    yt = h.select(
        F.col(key).alias("metric_y"), "hour_ts", F.col("y").alias("yt")
    )
    yl = h.select(
        F.col(key).alias("metric_y"),
        nxt.alias("hour_ts"),
        F.col("y").alias("y1"),
    )
    xl = h.select(
        F.col(key).alias("metric_x"),
        nxt.alias("hour_ts"),
        F.col("y").alias("x1"),
    )
    obs = (
        yt.join(yl, ["metric_y", "hour_ts"])
        .join(xl, "hour_ts")
        .where(F.col("metric_x") != F.col("metric_y"))
    )
    g = obs.groupBy("metric_x", "metric_y").agg(
        *moments("y1", "yt", names="n s1 sy s11 syy s1y"),
        *moments("x1", "yt", names="- s2 - s22 - s2y"),
        F.sum(wide("y1") * wide("x1")).alias("s12"),
    )
    cyy = co_moment("n", "sy", "sy", "syy").cast("double")
    c11 = co_moment("n", "s1", "s1", "s11").cast("double")
    c22 = co_moment("n", "s2", "s2", "s22").cast("double")
    c1y = co_moment("n", "s1", "sy", "s1y").cast("double")
    c2y = co_moment("n", "s2", "sy", "s2y").cast("double")
    c12 = co_moment("n", "s1", "s2", "s12").cast("double")
    det = c11 * c22 - c12 * c12
    r2_r = F.when((cyy > 0) & (c11 > 0), c1y * c1y / (cyy * c11))
    r2_f = F.when(
        (cyy > 0) & (det > 0),
        (c1y * c1y * c22 + c2y * c2y * c11 - 2.0 * c1y * c2y * c12)
        / (cyy * det),
    )
    return g.where(F.col("n") >= int(min_n)).select(
        "metric_x", "metric_y",
        F.col("n").cast("long").alias("n"),
        F.round(r2_r, 6).alias("r2_restricted"),
        F.round(r2_f, 6).alias("r2_full"),
        F.round(r2_f - r2_r, 6).alias("gain"),
    )


def mutual_information_pairs(series: DataFrame, n_bins: int = 4) -> DataFrame:
    """Pairwise mutual information between metrics over co-occurring
    hours — (metric_x, metric_y, n_hours, mi_u, mi_nats): the
    dependence measure that catches what Pearson/Spearman miss
    (non-monotone coupling, e.g. one metric spiking whenever another
    is at EITHER extreme).

    Each metric's hourly means are quartile-binned with ntile(n_bins)
    — an exact integer RANK operation over a deterministic order
    (identical double means from exact cent sums, hour tie-break), so
    bins match across engines with no float threshold.  MI over the
    joint bin distribution of co-occurring hours:

        MI = Σ_xy (c_xy/N) · ln(c_xy·N / (c_x·c_y))

    with every ln over ONE ratio of exact integers and each term
    snapped to integer micro-nats before summation (the PSI/entropy
    recipe in drift.py — the ulp lives 6 orders below the snap).
    Marginals come from the PAIRED sample, so partial hour coverage
    cannot bias MI.

    Scale notes: the hourly aggregate is one hash-agg (map-side
    partials); everything after runs on |metrics|·|hours| rows —
    calendar-bounded metadata, like trend_daily's daily table.  The
    ntile window partitions per metric over those bounded rows.
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
    x = binned.select(F.col("m").alias("mx"), "h", F.col("b").alias("bx"))
    y = binned.select(F.col("m").alias("my"), "h", F.col("b").alias("by"))
    pairs = x.join(y, "h").where(F.col("mx") < F.col("my"))
    joint = pairs.groupBy("mx", "my", "bx", "by").agg(
        F.count(F.lit(1)).alias("cxy")
    )
    margx = pairs.groupBy("mx", "my", "bx").agg(
        F.count(F.lit(1)).alias("cx"))
    margy = pairs.groupBy("mx", "my", "by").agg(
        F.count(F.lit(1)).alias("cy"))
    tot = pairs.groupBy("mx", "my").agg(F.count(F.lit(1)).alias("nn"))
    jt = (
        joint.join(margx, ["mx", "my", "bx"])
        .join(margy, ["mx", "my", "by"])
        .join(tot, ["mx", "my"])
    )
    lnr = F.log(
        (F.col("cxy") * F.col("nn")).cast("double")
        / (F.col("cx") * F.col("cy")).cast("double")
    )
    term_u = snap(
        F.col("cxy").cast("double") / F.col("nn").cast("double") * lnr, 6
    )
    return (
        jt.select("mx", "my", "nn", term_u.alias("_t"))
        .groupBy(F.col("mx").alias("metric_x"),
                 F.col("my").alias("metric_y"))
        .agg(
            F.max("nn").cast("long").alias("n_hours"),
            F.sum("_t").cast("long").alias("mi_u"),
        )
        .withColumn(
            "mi_nats",
            F.round(F.col("mi_u").cast("double") / 1e6, 6),
        )
    )


def beta_daily(series: DataFrame, key: str = "metric",
               min_hours: int = 4) -> DataFrame:
    """(metric_x, metric_y, day_ts, n_hours, beta, alpha): per-day OLS
    of y's hourly cent sums on x's — the hedge-ratio / sensitivity
    companion to corr_matrix_daily (r says HOW TIGHTLY coupled; beta
    says HOW MUCH y moves per unit of x, alpha the baseline offset).
    Directional, so both (x, y) and (y, x) rows appear.

        beta  = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        alpha = (Σy − beta·Σx) / n            [value units, not cents]

    Exactness: same recipe as corr_matrix_daily — hourly values are
    exact integer cent sums, moments accumulate in decimal(38,0), and
    beta/alpha are each ONE identical double expression over those
    exact integers, so they match bit-for-bit cross-engine after 6-dp
    rounding.  Degenerate designs (zero x variance) → NULL.

    Scale notes: identical shape to corr_matrix_daily — one map-side
    hash-agg to |metrics|·|hours| rows, pair join k²·H on aggregates,
    never raw rows.
    """
    h = bucket_cents(series, [key], "hour")
    x = h.select(F.col(key).alias("metric_x"), "hour_ts",
                 F.col("y").alias("vx"))
    y = h.select(F.col(key).alias("metric_y"), "hour_ts",
                 F.col("y").alias("vy"))
    pairs = x.join(y, "hour_ts").where(
        F.col("metric_x") != F.col("metric_y")
    )
    g = pairs.groupBy(
        "metric_x", "metric_y",
        F.date_trunc("day", "hour_ts").alias("day_ts"),
    ).agg(
        *moments("vx", "vy", names="n sx sy sxx - sxy"),
    ).where(F.col("n") >= min_hours)
    num = co_moment("n", "sx", "sy", "sxy").cast("double")
    den = co_moment("n", "sx", "sx", "sxx").cast("double")
    beta = F.when(den > 0, num / den)
    alpha = (
        (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
        / F.col("n").cast("double") / F.lit(float(SCALE))
    )
    return g.select(
        "metric_x", "metric_y", "day_ts",
        F.col("n").cast("long").alias("n_hours"),
        F.round(beta, 6).alias("beta"),
        F.round(alpha, 6).alias("alpha"),
    )


def lead_lag_best(series: DataFrame, key: str = "metric",
                  max_lag_h: int = 3, min_n: int = 24) -> DataFrame:
    """(metric_x, metric_y, best_lag_h, n, r): for every ordered
    metric pair, the hourly lag in [−L, L] whose shifted Pearson
    correlation has the largest |r| — "does x LEAD y, lag it, or move
    with it?".  corr_matrix_daily answers coupling at lag 0;
    granger_gain tests one-step predictivity; this SCREENS the lag
    axis and names the best alignment (the StatStream-style lead-lag
    report).

    Argmax discipline: r is rounded to 6 dp FIRST (the exact-moments
    recipe makes the rounded value bit-identical cross-engine), then
    the winner is picked by a single packed int64 ordering key
    (|r|·10⁶, smaller |lag|, smaller lag) via max_by — scalar key, so
    the aggregate stays hash-aggregable (the packed_order_key rule),
    and ties cannot diverge between engines because the key is unique
    per (pair, lag).

    Scale notes: |metrics|·|hours| grid → |lags| shifted copies join
    on the shifted hour (equi-join, never theta); the argmax is one
    hash-agg over |metrics|²·|lags| rows.
    """
    h = bucket_cents(series, [key], "hour")
    lag_list = list(range(-int(max_lag_h), int(max_lag_h) + 1))
    lags = F.array(*[F.lit(int(x)) for x in lag_list])
    x = h.select(
        F.col(key).alias("mx"), F.col("hour_ts").alias("hx"),
        F.col("y").alias("vx"), F.explode(lags).alias("lag_h"),
    ).withColumn(
        "hj",
        F.timestamp_micros(
            F.unix_micros("hx") + F.col("lag_h").cast("long")
            * 3_600_000_000
        ),
    )
    yy = h.select(
        F.col(key).alias("my"), F.col("hour_ts").alias("hj"),
        F.col("y").alias("vy"),
    )
    g = (
        x.join(yy, "hj")
        .where(F.col("mx") < F.col("my"))
        .groupBy("mx", "my", "lag_h")
        .agg(
            *moments("vx", "vy"),
        )
        .where(F.col("n") >= min_n)
    )
    num = co_moment("n", "sx", "sy", "sxy").cast("double")
    dx = co_moment("n", "sx", "sx", "sxx").cast("double")
    dy = co_moment("n", "sy", "sy", "syy").cast("double")
    r = F.when(
        (dx > 0) & (dy > 0),
        F.round(num / F.sqrt(dx) / F.sqrt(dy), 6),
    )
    L = int(max_lag_h)
    per_lag = g.select(
        "mx", "my", "lag_h",
        F.col("n").cast("long").alias("n"), r.alias("r"),
    ).where(F.col("r").isNotNull())
    # packed ordering key: |r| micro-units dominate, then smaller
    # |lag|, then smaller lag (unique per row within the pair group)
    key_col = (
        snap(F.abs(F.col("r")), 6) * 10_000
        + (F.lit(L) - F.abs(F.col("lag_h"))).cast("long") * 100
        + (F.lit(L) - F.col("lag_h")).cast("long")
    )
    return per_lag.withColumn("_k", key_col).groupBy(
        F.col("mx").alias("metric_x"), F.col("my").alias("metric_y")
    ).agg(
        F.expr("max_by(lag_h, _k)").cast("int").alias("best_lag_h"),
        F.expr("max_by(n, _k)").alias("n"),
        F.expr("max_by(r, _k)").alias("r"),
    )


def partial_corr_daily(series: DataFrame, key: str = "metric",
                       min_hours: int = 4) -> DataFrame:
    """First-order partial correlation per day: for every metric pair
    (a, b) and every control metric z, the correlation that REMAINS
    after linearly removing z from both —

        r_ab·z = (r_ab − r_az·r_bz) / √((1 − r_az²)(1 − r_bz²))

    — the standard confounder screen on top of corr_matrix_daily ("do
    a and b move together, or do both just follow z?").  Computed from
    the day's pairwise matrix (each r already exact-moment-derived and
    6dp-snapped, so the formula sees IDENTICAL doubles in both engines
    and its one sqrt/divide chain is deterministic).  Degenerate
    controls (|r_az| = 1 or |r_bz| = 1) yield NULL, not ±inf.

    Scale notes: all joins are on the |metrics|²·|days| correlation
    matrix — metadata-sized next to the raw scan that built it; the
    raw data is touched exactly once inside corr_matrix_daily."""
    # the matrix is referenced three times (xy + both sym sides) —
    # checkpoint the metadata-sized result so the raw-data hash-agg +
    # hourly self-join behind it runs ONCE, not per reference
    m = corr_matrix_daily(series, key=key, min_hours=min_hours).where(
        F.col("r").isNotNull()
    ).localCheckpoint(eager=True)
    sym = m.select(
        F.col("metric_a").alias("x"), F.col("metric_b").alias("y"),
        "day_ts", "r",
    ).unionByName(
        m.select(
            F.col("metric_b").alias("x"), F.col("metric_a").alias("y"),
            "day_ts", "r",
        )
    )
    xy = m.select(
        "day_ts", F.col("metric_a").alias("x"),
        F.col("metric_b").alias("y"), F.col("r").alias("r_xy"),
    )
    xz = sym.select(
        "day_ts", "x", F.col("y").alias("z"), F.col("r").alias("r_xz")
    )
    yz = sym.select(
        "day_ts", F.col("x").alias("y"), F.col("y").alias("z"),
        F.col("r").alias("r_yz"),
    )
    t = (
        xy.join(xz, ["day_ts", "x"])
        .join(yz, ["day_ts", "y", "z"])
        .where(F.col("z") != F.col("y"))
    )
    den = (1 - F.col("r_xz") * F.col("r_xz")) * (
        1 - F.col("r_yz") * F.col("r_yz")
    )
    return t.select(
        F.col("x").alias("metric_a"),
        F.col("y").alias("metric_b"),
        F.col("z").alias("control"),
        "day_ts",
        "r_xy",
        F.when(
            den > 0,
            F.round(
                (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
                / F.sqrt(den),
                6,
            ),
        ).alias("r_partial"),
    )


def ols2_daily(series: DataFrame, y_key: str, x1_key: str, x2_key: str,
               key: str = "metric", min_hours: int = 4) -> DataFrame:
    """Per-day TWO-regressor OLS with intercept — beta_daily's big
    sibling: y's hourly cent sums regressed on two other metrics
    jointly, which is what "does purchase volume follow clicks once
    views are held fixed" actually asks (the single-regressor beta
    conflates the two whenever the regressors co-move).

        (day_ts, n_hours, b0, b1, b2, r2)

    Solved by Cramer's rule on the CENTERED normal equations: the
    centered second moments S·· = n·Σab − Σa·Σb are exact
    decimal(38,0)/hugeint integers (cent-scaled inputs, same recipe as
    corr_matrix_daily); each is then cast once to double — an exact,
    correctly-rounded cast both engines share — and the 2×2 solve

        det = S11·S22 − S12²
        b1  = (S22·S1y − S12·S2y) / det
        b2  = (S11·S2y − S12·S1y) / det
        b0  = (Σy − b1·Σx1 − b2·Σx2) / n      [descaled to value units]
        r2  = (b1·S1y + b2·S2y) / Syy

    is ONE fixed double expression over identical doubles, so results
    match bit-for-bit cross-engine after the 6-dp round.  det in
    double (not decimal) because three-moment products overflow 38
    digits long before they overflow a double's range.  Collinear
    designs (det ≤ 0 after the exact-int cancellation) and zero-
    variance y yield NULL, not ±inf.

    Scale notes: one map-side hash-agg to |metrics|·|hours| rows, a
    3-way hour equi-join on that aggregate (never raw rows), then a
    per-day hash-agg of 10 moments — no windows, no iteration."""
    h = bucket_cents(series, [key], "hour")

    def part(k, alias):
        return h.where(F.col(key) == k).select(
            "hour_ts", F.col("y").alias(alias)
        )

    j = (
        part(y_key, "vy")
        .join(part(x1_key, "v1"), "hour_ts")
        .join(part(x2_key, "v2"), "hour_ts")
    )
    g = j.groupBy(
        F.date_trunc("day", "hour_ts").alias("day_ts")
    ).agg(
        *moments("v1", "vy", names="n s1 sy s11 syy s1y"),
        *moments("v2", "vy", names="- s2 - s22 - s2y"),
        F.sum(wide("v1") * wide("v2")).alias("s12"),
    ).where(F.col("n") >= int(min_hours))

    def cen(sab, sa, sb):
        return co_moment("n", sa, sb, sab).cast("double")

    S11, S22, S12 = cen("s11", "s1", "s1"), cen("s22", "s2", "s2"), \
        cen("s12", "s1", "s2")
    S1y, S2y, Syy = cen("s1y", "s1", "sy"), cen("s2y", "s2", "sy"), \
        cen("syy", "sy", "sy")
    det = S11 * S22 - S12 * S12
    b1 = F.when(det > 0, (S22 * S1y - S12 * S2y) / det)
    b2 = F.when(det > 0, (S11 * S2y - S12 * S1y) / det)
    b0 = (
        F.col("sy").cast("double")
        - b1 * F.col("s1").cast("double")
        - b2 * F.col("s2").cast("double")
    ) / F.col("n").cast("double") / F.lit(float(SCALE))
    r2 = F.when((det > 0) & (Syy > 0), (b1 * S1y + b2 * S2y) / Syy)
    return g.select(
        "day_ts",
        F.col("n").cast("long").alias("n_hours"),
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


def corr_pair_moments(series: DataFrame, key: str = "metric") -> DataFrame:
    """The mergeable state behind corr_matrix_daily: per (pair, day)
    the six exact decimal(38,0) moments (n, sa, sb, saa, sbb, sab)
    over hourly cent sums.  Moments over disjoint HOUR sets are
    element-wise additive — the continuous-aggregate property that
    lets a correlation report update incrementally (sealed days +
    live tail) instead of rescanning history; hours are the atomic
    unit because splitting an hour breaks Σab additivity."""
    h = bucket_cents(series, [key], "hour")
    a = h.select(F.col(key).alias("metric_a"), "hour_ts",
                 F.col("y").alias("ya"))
    b = h.select(F.col(key).alias("metric_b"), "hour_ts",
                 F.col("y").alias("yb"))
    pairs = a.join(b, "hour_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )
    return pairs.groupBy(
        "metric_a", "metric_b",
        F.date_trunc("day", "hour_ts").alias("day_ts"),
    ).agg(
        *moments("ya", "yb", names=_AB),
    )


def merge_corr_moments(*parts: DataFrame) -> DataFrame:
    """Element-wise sum of corr_pair_moments tables over disjoint hour
    sets — the MERGE of the incremental maintenance story.  Exact:
    decimal integer addition has no order sensitivity."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("metric_a", "metric_b", "day_ts").agg(
        *[wide(F.sum(c)).alias(c) for c in _AB.split()]
    )


def corr_from_moments(m: DataFrame, min_hours: int = 4) -> DataFrame:
    """Assemble (metric_a, metric_b, day_ts, n_hours, r) from exact
    moments — corr_matrix_daily's terminal expression, factored so
    merged (incremental) state produces BIT-IDENTICAL reports to a
    full rescan."""
    num = co_moment("n", "sa", "sb", "sab").cast("double")
    da = co_moment("n", "sa", "sa", "saa").cast("double")
    db = co_moment("n", "sb", "sb", "sbb").cast("double")
    return m.where(F.col("n") >= int(min_hours)).select(
        "metric_a", "metric_b", "day_ts",
        F.col("n").cast("long").alias("n_hours"),
        F.round(
            F.when(
                (da > 0) & (db > 0), num / F.sqrt(da) / F.sqrt(db)
            ),
            6,
        ).alias("r"),
    )


def ccc_pairs(series: DataFrame, key: str = "metric",
              min_hours: int = 24) -> DataFrame:
    """(metric_a, metric_b, n_hours, r, ccc): Lin's concordance
    correlation coefficient per unordered metric pair over
    co-occurring hours — AGREEMENT, not just co-movement: Pearson is
    blind to scale/location (y = 2x + 5 scores r = 1), CCC charges
    for it.  The n²-scaling is uniform across all three variance
    terms, so CCC is ONE exact-integer ratio:

        CCC = 2·(nΣxy − ΣxΣy)
              / [(nΣx² − (Σx)²) + (nΣy² − (Σy)²) + (Σx − Σy)²]

    (each term is the population moment × n² — the scale cancels).
    Pearson r is reported alongside; CCC ≤ |r| always, with equality
    only at perfect location/scale agreement.

    Scale: corr_matrix_daily's shape — one grid hash-agg, pair equi-
    join on hour, one hash-agg per pair."""
    h = bucket_cents(series, [key], "hour")
    a = h.select(
        F.col(key).alias("metric_a"), "hour_ts", F.col("y").alias("ya")
    )
    b = h.select(
        F.col(key).alias("metric_b"), "hour_ts", F.col("y").alias("yb")
    )
    pairs = a.join(b, "hour_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )
    g = pairs.groupBy("metric_a", "metric_b").agg(
        *moments("ya", "yb", names=_AB),
    ).where(F.col("n") >= min_hours)
    n = F.col("n")
    num = co_moment("n", "sa", "sb", "sab")
    da = co_moment("n", "sa", "sa", "saa")
    db = co_moment("n", "sb", "sb", "sbb")
    dd = F.col("sa") - F.col("sb")
    denc = da + db + dd * dd
    r = F.when(
        (da.cast("double") > 0) & (db.cast("double") > 0),
        num.cast("double")
        / F.sqrt(da.cast("double")) / F.sqrt(db.cast("double")),
    )
    ccc = F.when(
        denc.cast("double") > 0,
        F.lit(2.0) * num.cast("double") / denc.cast("double"),
    )
    return g.select(
        "metric_a", "metric_b", n.cast("long").alias("n_hours"),
        F.round(r, 6).alias("r"), F.round(ccc, 6).alias("ccc"),
    )


def corr_deseasonalized(series: DataFrame, key: str = "metric",
                        min_hours: int = 48) -> DataFrame:
    """(metric_a, metric_b, n_hours, r_deseason): Pearson between
    metric pairs AFTER removing each metric's own hour-of-day profile
    — the shared-seasonality pitfall fix: two metrics that both peak
    at 14:00 read r ≈ 0.9 raw while their fluctuations are unrelated;
    correlating the residuals y_t − mean(same hour-of-day) answers
    the question users actually ask.

    Exactness: the hour-of-day mean is the exact integer ratio
    S_h/C_h; the residual (C_h·y_t − S_h)/(C_h·scale) is ONE shared
    double expression over exact integers, snapped to integer
    micro-units, and the pair Pearson then runs over exact decimal38
    moments of those integers (the engle_granger recipe).

    Scale: grid hash-agg → hod-mean window per (metric, hod) over
    aggregate rows → pair equi-join on hour → hash-agg."""
    h = bucket_cents(series, [key], "hour")
    whod = Window.partitionBy(key, F.hour("hour_ts"))
    res = h.select(
        F.col(key), "hour_ts",
        snap(
            (
                wide(F.count(F.lit(1)).over(whod)) * F.col("y")
                - F.sum(wide("y")).over(whod)
            ).cast("double")
            / (
                F.count(F.lit(1)).over(whod).cast("double")
                * F.lit(float(SCALE))
            ),
            6,
        ).alias("ru"),
    )
    a = res.select(
        F.col(key).alias("metric_a"), "hour_ts", F.col("ru").alias("ra")
    )
    b = res.select(
        F.col(key).alias("metric_b"), "hour_ts", F.col("ru").alias("rb")
    )
    pairs = a.join(b, "hour_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )
    g = pairs.groupBy("metric_a", "metric_b").agg(
        *moments("ra", "rb", names=_AB),
    ).where(F.col("n") >= min_hours)
    n = F.col("n")
    num = co_moment("n", "sa", "sb", "sab").cast("double")
    da = co_moment("n", "sa", "sa", "saa").cast("double")
    db = co_moment("n", "sb", "sb", "sbb").cast("double")
    r = F.when(
        (da > 0) & (db > 0), num / F.sqrt(da) / F.sqrt(db)
    )
    return g.select(
        "metric_a", "metric_b", n.cast("long").alias("n_hours"),
        F.round(r, 6).alias("r_deseason"),
    )


def corr_winsorized(series: DataFrame, key: str = "metric",
                    pct: int = 5, min_hours: int = 24) -> DataFrame:
    """(metric_a, metric_b, n_hours, lo_clip_a?, r_wins): Pearson
    between metric pairs after winsorizing each metric's hourly cents
    at its own [pct, 100−pct] order statistics — the robust
    correlation that one incident spike can't fake.

    Thresholds are ORDER STATISTICS, not interpolated percentiles:
    lo = the k_lo-th smallest value with k_lo = (pct·n) DIV 100 + 1
    and hi = the (n − (pct·n) DIV 100)-th, selected by row_number
    over the deterministic (y, hour_ts) order — integer-exact in both
    engines (interpolated percentile_cont would hand each engine its
    own float edge cases).  Clipped values stay exact integers, so
    the pair Pearson is the standard exact-moment tree.

    Scale: one rank window per metric over the aggregate grid, a
    broadcast-sized threshold join, then the usual pair machinery."""
    h = bucket_cents(series, [key], "hour")
    wr = Window.partitionBy(key).orderBy("y", "hour_ts")
    ranked = h.select(
        F.col(key), "hour_ts", "y",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("nn"),
    )
    k_lo = F.expr(f"CAST(({int(pct)} * nn) DIV 100 AS INT) + 1")
    k_hi = F.col("nn") - F.expr(
        f"CAST(({int(pct)} * nn) DIV 100 AS INT)"
    )
    thr = ranked.groupBy(key).agg(
        F.max(F.when(F.col("rk") == k_lo, F.col("y"))).alias("lo"),
        F.max(F.when(F.col("rk") == k_hi, F.col("y"))).alias("hi"),
    )
    clipped = h.join(thr, key).select(
        F.col(key), "hour_ts",
        F.least(F.greatest(F.col("y"), F.col("lo")), F.col("hi"))
        .alias("y"),
    )
    a = clipped.select(
        F.col(key).alias("metric_a"), "hour_ts", F.col("y").alias("ya")
    )
    b = clipped.select(
        F.col(key).alias("metric_b"), "hour_ts", F.col("y").alias("yb")
    )
    pairs = a.join(b, "hour_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )
    g = pairs.groupBy("metric_a", "metric_b").agg(
        *moments("ya", "yb", names=_AB),
    ).where(F.col("n") >= min_hours)
    n = F.col("n")
    num = co_moment("n", "sa", "sb", "sab").cast("double")
    da = co_moment("n", "sa", "sa", "saa").cast("double")
    db = co_moment("n", "sb", "sb", "sbb").cast("double")
    r = F.when((da > 0) & (db > 0), num / F.sqrt(da) / F.sqrt(db))
    return g.select(
        "metric_a", "metric_b", n.cast("long").alias("n_hours"),
        F.round(r, 6).alias("r_wins"),
    )


def kendall_tau_pairs(series: DataFrame, key: str = "metric",
                      min_days: int = 10) -> DataFrame:
    """(metric_a, metric_b, n_days, concordant, discordant, tau_b):
    Kendall's τ-b between every unordered metric pair's DAILY cent-sum
    series — the rank-concordance member of the pair-correlation
    family (Pearson = linear, Spearman = monotone-via-ranks, CCC =
    agreement; τ-b = monotone-via-pair-concordance, the most
    outlier-robust of the four and the one with an exact finite-sample
    tie correction):

        τ_b = (C − D) / sqrt((n₀ − n₁)(n₀ − n₂))

    with n₀ = n(n−1)/2 day-pairs, n₁/n₂ = pairs tied in a/b (ties in
    BOTH count toward each).  Every count is an exact integer — sign
    comparisons only, never the dx·dy product (which would overflow
    long at ~10¹² daily cents) — so C, D and the tie terms match
    DuckDB bit-for-bit and τ is ONE shared double expression.

    Scale (100 TB): the day grid is bounded by CALENDAR, not corpus —
    the raw scan collapses to |metrics|·|days| rows in one map-side-
    combined hash agg, and the O(n²) pair enumeration runs over that
    grid only: k²·D²/4 comparison rows (k=100 metrics, D=365 days →
    ~1.6×10⁸ integer comparisons, a few seconds of one stage)
    regardless of how many trillion raw rows fed the days.  This is
    the same bounded-grid policy as mann_kendall, but benchable
    because the grid is daily.  An O(n log n) merge-sort τ exists for
    single long series; at the pair-matrix shape the bounded
    quadratic over aggregates is simpler and shuffle-free beyond the
    one grid agg."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    a = d.select(F.col("m").alias("metric_a"), "day_ts",
                 F.col("y").alias("ya"))
    b = d.select(F.col("m").alias("metric_b"), "day_ts",
                 F.col("y").alias("yb"))
    pd_ = a.join(b, "day_ts").where(F.col("metric_a") < F.col("metric_b"))
    i = pd_.select("metric_a", "metric_b",
                   F.col("day_ts").alias("di"),
                   F.col("ya").alias("yai"), F.col("yb").alias("ybi"))
    j = pd_.select("metric_a", "metric_b",
                   F.col("day_ts").alias("dj"),
                   F.col("ya").alias("yaj"), F.col("yb").alias("ybj"))
    pp = i.join(j, ["metric_a", "metric_b"]).where(F.col("di") < F.col("dj"))
    dxp = F.col("yaj") > F.col("yai")
    dxn = F.col("yaj") < F.col("yai")
    dyp = F.col("ybj") > F.col("ybi")
    dyn = F.col("ybj") < F.col("ybi")
    dx0 = F.col("yaj") == F.col("yai")
    dy0 = F.col("ybj") == F.col("ybi")
    one = F.lit(1)
    g = pp.groupBy("metric_a", "metric_b").agg(
        F.count(one).alias("n0"),
        F.sum(F.when((dxp & dyp) | (dxn & dyn), one).otherwise(0))
         .alias("concordant"),
        F.sum(F.when((dxp & dyn) | (dxn & dyp), one).otherwise(0))
         .alias("discordant"),
        F.sum(F.when(dx0, one).otherwise(0)).alias("n1"),
        F.sum(F.when(dy0, one).otherwise(0)).alias("n2"),
    )
    days = pd_.groupBy("metric_a", "metric_b").agg(
        F.count(one).alias("n_days")
    )
    g = g.join(F.broadcast(days), ["metric_a", "metric_b"]).where(
        F.col("n_days") >= min_days
    )
    den = ((F.col("n0") - F.col("n1"))
           * (F.col("n0") - F.col("n2"))).cast("double")
    tau = F.when(
        den > 0,
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(den),
    )
    return g.select(
        "metric_a", "metric_b", F.col("n_days").cast("long").alias("n_days"),
        F.col("concordant").cast("long").alias("concordant"),
        F.col("discordant").cast("long").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    ).orderBy("metric_a", "metric_b")


def panel_fe(events: DataFrame, min_days: int = 2) -> DataFrame:
    """(beta, se, t_stat, r2_within, n_obs, n_entities): one-way
    fixed-effects (within) estimator of daily value-cents on daily
    event count across the user panel — "does a user's spend rise on
    their own busier days?", with every user's level absorbed.  The
    pooled-OLS answer (ols2_daily's shape) confounds across-user
    levels; demeaning INSIDE each user kills that, which is the whole
    point of FE.  β = Σx̃ỹ / Σx̃² over ỹ = y − ȳ_u, x̃ = x − x̄_u;
    classical SE with dof = n − N − 1 (one slope + N absorbed means).
    Exact for unbalanced panels (one-way demeaning is an exact
    projection; the two-way case needs alternating projections and is
    deliberately NOT offered).

    Exactness: the demeaned residual (y − S_u/C_u) is ONE shared
    double expression over exact integer sums, snapped to micro-units;
    all cross-products then accumulate in decimal(38,0)/hugeint, so β,
    SE and R²_within agree cross-engine bit-for-bit under round(6).

    Scale (100 TB): cell hash-agg → per-unit hash-agg → one equi-join
    back on the unit key (both sides already unit-partitioned by the
    shuffle) → one global agg.  No window, no quadratic anything;
    entities with < min_days cells carry zero within variance and are
    dropped (they only inflate dof)."""
    cells = events.groupBy(
        F.col("user_id").alias("u"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).agg(
        F.sum(snap("value", VALUE_DECIMALS)).alias("y"),
        F.count(F.lit(1)).alias("x"),
    )
    um = cells.groupBy("u").agg(
        F.sum("y").alias("sy"), F.sum("x").alias("sx"),
        F.count(F.lit(1)).alias("c"),
    ).where(F.col("c") >= min_days)
    j = cells.join(um, "u")
    yt = snap(
        F.col("y").cast("double")
        - F.col("sy").cast("double") / F.col("c").cast("double"), 6
    )
    xt = snap(
        F.col("x").cast("double")
        - F.col("sx").cast("double") / F.col("c").cast("double"), 6
    )
    p = j.select(yt.alias("yt"), xt.alias("xt"), "u")
    g = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("u").alias("ne"),
        F.sum(wide("xt") * wide("xt")).alias("sxx"),
        F.sum(wide("xt") * wide("yt")).alias("sxy"),
        F.sum(wide("yt") * wide("yt")).alias("syy"),
    )
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    n = F.col("n").cast("double")
    ne = F.col("ne").cast("double")
    beta = sxy / sxx                      # micro-units cancel
    rss = syy - sxy * sxy / sxx
    dof = n - ne - 1
    se = F.sqrt(rss / dof / sxx)
    return g.select(
        F.round(F.when(sxx > 0, beta), 6).alias("beta"),
        F.round(F.when((sxx > 0) & (dof > 0), se), 6).alias("se"),
        F.round(
            F.when((sxx > 0) & (dof > 0) & (rss > 0), beta / se), 6
        ).alias("t_stat"),
        F.round(
            F.when((sxx > 0) & (syy > 0), sxy * sxy / sxx / syy), 6
        ).alias("r2_within"),
        F.col("n").cast("long").alias("n_obs"),
        F.col("ne").cast("long").alias("n_entities"),
    )


def distance_corr(series: DataFrame, key: str = "metric",
                  min_days: int = 10) -> DataFrame:
    """(metric_a, metric_b, n_days, dcor2, dcor): Székely's DISTANCE
    correlation between every unordered metric pair's daily cent-sum
    series — the dependence measure that is ZERO if and only if the
    series are independent (Pearson/Spearman/τ can all read 0 on a
    perfect V-shape; dCor cannot):

        a_jk = |x_j − x_k|,  A_jk = a_jk − ā_j· − ā_·k + ā_··
        dCov² = Σ A_jk·B_jk / n²,   dCor² = dCov² / √(dVarₓ·dVar_y)

    EXACT integer core: with cent values, n²·A_jk = n²a_jk − n·Ra_j −
    n·Ra_k + Sa is an exact int64, every cross product Σ Tₐ·T_b
    accumulates in decimal(38,0) (≤ ~10³⁵ at a 366-day grid), and
    dCor² is ONE ratio of exact integers with a single sqrt — the
    double-centering means never materialize as floats.

    Scale: the grid is CALENDAR-bounded — n ≤ |days|, so the n²
    distance enumeration per pair is ≤ 134k rows at a year and the
    whole operator is k²·n² grid rows regardless of raw corpus size
    (the kendall_tau/mann_kendall bounded-quadratic policy).  Three
    hash aggs + two grid joins; nothing raw-sized."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    a = d.select(F.col("m").alias("metric_a"), "day_ts",
                 F.col("y").alias("ya"))
    b = d.select(F.col("m").alias("metric_b"), "day_ts",
                 F.col("y").alias("yb"))
    pd_ = a.join(b, "day_ts").where(F.col("metric_a") < F.col("metric_b"))
    i = pd_.select("metric_a", "metric_b",
                   F.col("day_ts").alias("di"),
                   F.col("ya").alias("yai"), F.col("yb").alias("ybi"))
    j = pd_.select("metric_a", "metric_b",
                   F.col("day_ts").alias("dj"),
                   F.col("ya").alias("yaj"), F.col("yb").alias("ybj"))
    pk = ["metric_a", "metric_b"]
    dist = i.join(j, pk).select(
        *pk, "di", "dj",
        F.abs(F.col("yai") - F.col("yaj")).alias("a"),
        F.abs(F.col("ybi") - F.col("ybj")).alias("b"),
    )
    rows = dist.groupBy(*pk, "di").agg(
        F.sum("a").alias("ra"), F.sum("b").alias("rb"),
        F.count(F.lit(1)).alias("n"),
    )
    tots = rows.groupBy(*pk).agg(
        F.sum("ra").alias("sa"), F.sum("rb").alias("sb"),
        F.max("n").alias("n"),
    ).where(F.col("n") >= int(min_days))
    ri = rows.select(*pk, "di",
                     F.col("ra").alias("ra_i"),
                     F.col("rb").alias("rb_i"))
    rj = rows.select(*pk, F.col("di").alias("dj"),
                     F.col("ra").alias("ra_j"),
                     F.col("rb").alias("rb_j"))
    full = (
        dist.join(F.broadcast(tots), pk)
        .join(ri, [*pk, "di"])
        .join(rj, [*pk, "dj"])
    )
    n = F.col("n")
    ta = (n * n * F.col("a") - n * F.col("ra_i") - n * F.col("ra_j")
          + F.col("sa"))
    tb = (n * n * F.col("b") - n * F.col("rb_i") - n * F.col("rb_j")
          + F.col("sb"))
    agg = full.groupBy(*pk, "n").agg(
        F.sum(wide(ta) * wide(tb)).alias("sab"),
        F.sum(wide(ta) * wide(ta)).alias("saa"),
        F.sum(wide(tb) * wide(tb)).alias("sbb"),
    )
    den = F.sqrt(
        F.col("saa").cast("double") * F.col("sbb").cast("double")
    )
    dcor2 = F.when(
        (F.col("saa") > 0) & (F.col("sbb") > 0),
        F.greatest(F.col("sab").cast("double") / den, F.lit(0.0)),
    )
    return agg.select(
        *pk,
        F.col("n").cast("long").alias("n_days"),
        F.round(dcor2, 6).alias("dcor2"),
        F.round(F.sqrt(dcor2), 6).alias("dcor"),
    )


def energy_distance_weekend(series: DataFrame, key: str = "metric",
                            min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, energy_dist, e_coef): Székely's
    ENERGY DISTANCE between the weekday and weekend distributions of
    daily cent sums per metric — the two-sample test sensitive to ANY
    distributional difference (KS caps at the single largest CDF gap;
    energy integrates all of them):

        E = 2·E|X−Y| − E|X−X′| − E|Y−Y′|        (V-statistic form)
        e_coef = E / (2·E|X−Y|) ∈ [0, 1]         (0 ⇔ same law)

    Every pair sum Σ|a−b| is an exact integer over the calendar-
    bounded day grid (ordered pairs incl. diagonal — the plain
    V-statistic), weekend membership by `timeutil.weekday`;
    E is one shared double tree.

    Scale: one grid self-join per metric — D² rows at D days,
    raw-size-independent (the distance_corr policy)."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    g1 = weekday("day_ts").isin(0, 6).cast("int")
    dd = d.select("m", "y", g1.alias("g"))
    a = dd.select("m", F.col("y").alias("ya"), F.col("g").alias("ga"))
    b = dd.select("m", F.col("y").alias("yb"), F.col("g").alias("gb"))
    pairs = a.join(b, "m")
    ad = F.abs(F.col("ya") - F.col("yb"))
    agg = pairs.groupBy("m").agg(
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("gb") == 1), ad)
            .otherwise(F.lit(0))
        ).alias("sxy"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("gb") == 0), ad)
            .otherwise(F.lit(0))
        ).alias("sxx"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("gb") == 1), ad)
            .otherwise(F.lit(0))
        ).alias("syy"),
    )
    cnt = dd.groupBy("m").agg(
        F.sum(F.lit(1) - F.col("g")).alias("nx"),
        F.sum("g").alias("ny"),
    )
    j = agg.join(cnt, "m").where(
        (F.col("nx") >= int(min_days)) & (F.col("ny") >= int(min_days))
    )
    nx = F.col("nx").cast("double")
    ny = F.col("ny").cast("double")
    exy = F.col("sxy").cast("double") / (nx * ny)
    exx = F.col("sxx").cast("double") / (nx * nx)
    eyy = F.col("syy").cast("double") / (ny * ny)
    e = F.lit(2.0) * exy - exx - eyy
    coef = F.when(exy > 0, e / (F.lit(2.0) * exy))
    sc = F.lit(float(SCALE))
    return j.select(
        F.col("m").alias("metric"),
        F.col("nx").cast("long").alias("n_weekday"),
        F.col("ny").cast("long").alias("n_weekend"),
        F.round(e / sc, 6).alias("energy_dist"),
        F.round(coef, 6).alias("e_coef"),
    )


def tail_dependence(series: DataFrame, key: str = "metric",
                    top_frac_num: int = 1, top_frac_den: int = 10,
                    min_days: int = 10) -> DataFrame:
    """(metric_a, metric_b, n_days, k_top, both_top, lambda_u): upper
    TAIL dependence between metric pairs' daily cent series — do their
    EXTREME days coincide?  Pearson/Spearman/dCor are bulk measures; a
    pair can read r = 0.9 and still never spike together (or vice
    versa), and it's the joint spikes that take systems down:

        λ_U ≈ |top-decile days of A ∩ top-decile days of B| / k

    with k = ⌈n/10⌉ top days per metric, membership decided by exact
    integer ORDER STATISTICS (row_number over (y, day) inside
    (pair, side) partitions — the corr_winsorized selection rule, so
    both engines pick identical day sets even under ties).  λ_U ≈ 0.1
    under independence (k/n), → 1 for co-moving extremes.

    Scale: the pair-day grid is |metrics|²·|days| aggregates; the
    rank windows partition per (pair, metric) — bounded, parallel."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    a = d.select(F.col("m").alias("metric_a"), "day_ts",
                 F.col("y").alias("ya"))
    b = d.select(F.col("m").alias("metric_b"), "day_ts",
                 F.col("y").alias("yb"))
    pd_ = a.join(b, "day_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )
    pk = ["metric_a", "metric_b"]
    wa = Window.partitionBy(*pk).orderBy("ya", "day_ts")
    wb = Window.partitionBy(*pk).orderBy("yb", "day_ts")
    wn = Window.partitionBy(*pk)
    r = pd_.select(
        *pk, "day_ts",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.ceil(
        F.col("n") * F.lit(int(top_frac_num)) / F.lit(int(top_frac_den))
    ).cast("long")
    flags = r.select(
        *pk, "n", k.alias("k"),
        (F.col("ra") > F.col("n") - k).cast("long").alias("ta"),
        (F.col("rb") > F.col("n") - k).cast("long").alias("tb"),
    )
    agg = flags.groupBy(*pk, "n", "k").agg(
        F.sum(F.col("ta") * F.col("tb")).alias("both")
    ).where(F.col("n") >= int(min_days))
    return agg.select(
        *pk,
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("k_top"),
        F.col("both").cast("long").alias("both_top"),
        F.round(
            F.col("both").cast("double") / F.col("k").cast("double"), 6
        ).alias("lambda_u"),
    )


def coburst_jaccard(series: DataFrame, key: str = "metric",
                    min_hours: int = 24) -> DataFrame:
    """(metric_a, metric_b, bursts_a, bursts_b, both, jaccard):
    co-burst overlap — Jaccard similarity of the two metrics'
    BURST-HOUR sets, where a burst hour is an hourly event count more
    than twice the metric's own mean hourly rate, decided by the
    exact integer cross-multiply c·H > 2·T (never a float mean).

    tail_dependence asks "do extreme VALUES coincide"; this asks "do
    VOLUME bursts coincide" — the incident-correlation view.

    Scale: hour grid + a burst-hours-only equi-join (bursts are ≲10%
    of hours by construction) — sparse by design."""
    h = series.groupBy(
        F.col(key).alias("m"), F.date_trunc("hour", "ts").alias("hh")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = h.groupBy("m").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("hcnt")
    ).where(F.col("hcnt") >= int(min_hours))
    bursts = h.join(F.broadcast(tot), "m").where(
        F.col("c") * F.col("hcnt") > F.lit(2) * F.col("t")
    ).select("m", "hh")
    sizes = bursts.groupBy("m").agg(F.count(F.lit(1)).alias("nb"))
    a = bursts.select(F.col("m").alias("metric_a"), "hh")
    b = bursts.select(F.col("m").alias("metric_b"), "hh")
    inter = a.join(b, "hh").where(
        F.col("metric_a") < F.col("metric_b")
    ).groupBy("metric_a", "metric_b").agg(
        F.count(F.lit(1)).alias("both")
    )
    sa = sizes.select(F.col("m").alias("metric_a"),
                      F.col("nb").alias("bursts_a"))
    sb = sizes.select(F.col("m").alias("metric_b"),
                      F.col("nb").alias("bursts_b"))
    pairs = (
        sa.crossJoin(F.broadcast(sb))
        .where(F.col("metric_a") < F.col("metric_b"))
        .join(inter, ["metric_a", "metric_b"], "left")
        .select(
            "metric_a", "metric_b", "bursts_a", "bursts_b",
            F.coalesce("both", F.lit(0)).alias("both"),
        )
    )
    union = F.col("bursts_a") + F.col("bursts_b") - F.col("both")
    return pairs.select(
        "metric_a", "metric_b",
        F.col("bursts_a").cast("long").alias("bursts_a"),
        F.col("bursts_b").cast("long").alias("bursts_b"),
        F.col("both").cast("long").alias("both"),
        F.round(
            F.when(
                union > 0,
                F.col("both").cast("double") / union.cast("double"),
            ).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    )


def corr_grain_audit(series: DataFrame, key: str = "metric",
                     min_hours: int = 24) -> DataFrame:
    """(metric_a, metric_b, n_minutes, n_hours, r_1m, r_1h, r_delta):
    the downsampling-fidelity audit for the tiered correlation
    operator — the SAME exact-moment Pearson computed at minute grain
    and at hour grain for every metric pair, with the difference the
    tier cascade would silently absorb.

    The reference's design correlates over downsampled aggregates;
    this operator MEASURES what that costs per pair: |r_delta| small
    → the 1h tier is a faithful correlation substrate and the
    cheaper grain is safe; large → this pair's structure lives below
    the hour (aliasing), correlate it at the finer tier.  Both
    grains use exact decimal38 integer moments over co-observed
    buckets (inner join — absence is missingness) and ONE shared
    double expression each, 6 dp.

    Scale: two grid hash-aggs (|metrics|·|minutes| dominates), one
    k² aggregate-sized pair join per grain — the corr_matrix_daily
    shape twice, no raw self-joins."""

    def _grain(trunc: str, rname: str, nname: str):
        g = bucket_cents(series, [F.col(key).alias("k")], trunc)
        b = f"{trunc}_ts"
        a = g.select(F.col("k").alias("metric_a"), b,
                     F.col("y").alias("ya"))
        bb = g.select(F.col("k").alias("metric_b"), b,
                      F.col("y").alias("yb"))
        p = a.join(bb, b).where(F.col("metric_a") < F.col("metric_b"))
        ya, yb = wide("ya"), wide("yb")
        m = p.groupBy("metric_a", "metric_b").agg(
            wide(F.count(F.lit(1))).alias("n"),
            F.sum(ya).alias("sx"), F.sum(yb).alias("sy"),
            F.sum(ya * ya).alias("sxx"), F.sum(yb * yb).alias("syy"),
            F.sum(ya * yb).alias("sxy"),
        )
        n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
        cov = (n * F.col("sxy") - sx * sy).cast("double")
        vx = (n * F.col("sxx") - sx * sx).cast("double")
        vy = (n * F.col("syy") - sy * sy).cast("double")
        r = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        return m.select(
            "metric_a", "metric_b",
            n.cast("long").alias(nname),
            F.round(r, 6).alias(rname),
        )

    hm = _grain("minute", "r_1m", "n_minutes")
    hh = _grain("hour", "r_1h", "n_hours").where(
        F.col("n_hours") >= int(min_hours)
    )
    j = hm.join(hh, ["metric_a", "metric_b"])
    return j.select(
        "metric_a", "metric_b", "n_minutes", "n_hours",
        "r_1m", "r_1h",
        F.round(F.col("r_1m") - F.col("r_1h"), 6).alias("r_delta"),
    )


def xcorr_prewhitened(series: DataFrame, key: str = "metric",
                      min_hours: int = 24) -> DataFrame:
    """(metric_a, metric_b, n_hours, r_raw, r_prewhitened): cross-
    correlation per metric pair BEFORE and AFTER AR(1) prewhitening —
    the Box-Jenkins guard against spurious correlation: two metrics
    that are each strongly autocorrelated (every diurnal series is)
    show inflated raw r even when their innovations are independent;
    correlating the residuals e_t = y_t − ρ·y_{t−1} removes exactly
    that channel.  r_raw ≫ r_prewhitened is the signature of "both
    just follow the clock"; r_prewhitened holding up means the
    co-movement is in the innovations themselves.

    Exactness recipe: ρ per metric is the lag-1 autocorrelation from
    exact decimal38 moments over consecutive observed-hour pairs (ONE
    shared double expression).  Residuals are ρ-weighted differences
    of integer cents — doubles — SNAPPED to integer milli-cents
    (round(e·1000)); both engines build the identical expression
    tree, so the snapped integers agree and everything downstream
    (the pair join's Pearson moments) is exact again.

    Scale: one grid hash-agg, two per-metric lag windows over grid
    rows, one k² aggregate-sized pair join per statistic — the
    corr_matrix_daily shape with a prewhitening stage in front."""
    h = bucket_cents(series, [key], "hour")
    w = Window.partitionBy(key).orderBy("hour_ts")
    lagged = h.select(
        key, "hour_ts", "y",
        F.lag("y", 1).over(w).alias("yp"),
        (
            epoch_us(F.col("hour_ts"))
            - F.lag(epoch_us(F.col("hour_ts")), 1).over(w)
        ).alias("dt_us"),
    )
    # consecutive observed hours only: the AR(1) step is an hour, so
    # a gap splices for rho's moment sums the way autocorr_lag1 does,
    # but the RESIDUAL stream keeps only true lag-1 pairs (a residual
    # across a gap would mix horizons)
    pairs = lagged.where(F.col("yp").isNotNull())
    u, v = wide("yp"), wide("y")
    mom = pairs.groupBy(key).agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(u).alias("su"), F.sum(v).alias("sv"),
        F.sum(u * v).alias("suv"),
        F.sum(u * u).alias("suu"), F.sum(v * v).alias("svv"),
    )
    nn, su, sv = F.col("n"), F.col("su"), F.col("sv")
    cov = (nn * F.col("suv") - su * sv).cast("double")
    vu = (nn * F.col("suu") - su * su).cast("double")
    vv = (nn * F.col("svv") - sv * sv).cast("double")
    rho = F.when((vu > 0) & (vv > 0), cov / F.sqrt(vu * vv)).otherwise(
        F.lit(0.0)
    )
    rhod = mom.select(key, rho.alias("rho"))
    res = (
        lagged.join(F.broadcast(rhod), key)
        .where(
            F.col("yp").isNotNull()
            & (F.col("dt_us") == F.lit(3_600_000_000))
        )
        .select(
            key, "hour_ts",
            F.col("y").cast("long").alias("yc"),
            snap(
                F.col("y").cast("double")
                - F.col("rho") * F.col("yp").cast("double"), 3
            ).alias("e_u"),
        )
    )

    def _pearson(df, val, rname):
        a = df.select(F.col(key).alias("metric_a"), "hour_ts",
                      F.col(val).alias("xa"))
        b = df.select(F.col(key).alias("metric_b"), "hour_ts",
                      F.col(val).alias("xb"))
        p = a.join(b, "hour_ts").where(
            F.col("metric_a") < F.col("metric_b")
        )
        xa, xb = wide("xa"), wide("xb")
        m = p.groupBy("metric_a", "metric_b").agg(
            wide(F.count(F.lit(1))).alias("n"),
            F.sum(xa).alias("sx"), F.sum(xb).alias("sy"),
            F.sum(xa * xb).alias("sxy"),
            F.sum(xa * xa).alias("sxx"), F.sum(xb * xb).alias("syy"),
        )
        n2, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
        c2 = (n2 * F.col("sxy") - sx * sy).cast("double")
        v1 = (n2 * F.col("sxx") - sx * sx).cast("double")
        v2 = (n2 * F.col("syy") - sy * sy).cast("double")
        rr = F.when((v1 > 0) & (v2 > 0), c2 / F.sqrt(v1 * v2))
        return m.select(
            "metric_a", "metric_b",
            n2.cast("long").alias("n"),
            F.round(rr, 6).alias(rname),
        )

    raw = _pearson(res, "yc", "r_raw")
    pre = _pearson(res, "e_u", "r_prewhitened")
    j = raw.join(pre, ["metric_a", "metric_b"]).where(
        (F.col("r_raw").isNotNull())
        & (raw["n"] >= int(min_hours))
    )
    return j.select(
        "metric_a", "metric_b",
        raw["n"].alias("n_hours"),
        "r_raw", "r_prewhitened",
    )


def tier_info_loss(series: DataFrame, key: str = "metric",
                   min_minutes: int = 60) -> DataFrame:
    """(metric, n_minutes, n_hours, var_within_share, var_retained):
    the VALUE-side tier-fidelity audit next to corr_grain_audit's
    correlation one — a one-way variance decomposition of the minute
    series into between-hour (what the 1h tier keeps) and within-hour
    (what rolling up destroys):

        var_retained = 1 − SSW/SST

    Each hour's within-sum SSW_h = Σy² − (Σy)²/n_h is one double
    expression over exact integers snapped to micro-cents² (the
    nptests recipe), so the per-hour terms sum exactly; SST gets the
    same treatment globally.  var_retained ≈ 1 → the hour tier is a
    faithful substrate for value analytics on this metric;
    ≈ 0 → the structure lives below the hour and queries should
    route to the finer tier (the read-side answer retention ladders
    need before they age the 1m tier out).

    Scale: two grid hash-aggs (minute grain dominates), per-metric
    scalar algebra — no joins beyond aggregate-sized."""
    g = bucket_cents(series, [key], "minute")
    hs = g.groupBy(
        key, F.date_trunc("hour", "minute_ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(wide("y") * wide("y")).alias("sxx"),
    )
    ssw_u = wide(F.round(
        (F.col("sxx").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double")
           / F.col("n").cast("double")) * F.lit(1e6)
    ))
    per = hs.select(
        key, "n", "s", "sxx", ssw_u.alias("ssw_u")
    ).groupBy(key).agg(
        F.sum("n").alias("n_minutes"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("s").alias("st"),
        F.sum("sxx").alias("sxxt"),
        F.sum("ssw_u").alias("ssw_u"),
    ).where(F.col("n_minutes") >= int(min_minutes))
    sst = (
        F.col("sxxt").cast("double")
        - F.col("st").cast("double") * F.col("st").cast("double")
          / F.col("n_minutes").cast("double")
    )
    share = F.when(
        sst > 0,
        F.col("ssw_u").cast("double") / F.lit(1e6) / sst,
    )
    return per.select(
        key,
        F.col("n_minutes").cast("long").alias("n_minutes"),
        F.col("n_hours").cast("long").alias("n_hours"),
        F.round(share, 6).alias("var_within_share"),
        F.round(F.lit(1.0) - share, 6).alias("var_retained"),
    )
