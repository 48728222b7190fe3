"""Nonparametric & contingency tests over the hourly aggregate grid:
chi-square independence (metric × day-of-week), Kruskal-Wallis rank
ANOVA, and the paired day-over-day sign test.

These complete the hypothesis-test family: dow_anova (decompose.py) is
the parametric mean comparison, kruskal_wallis is its rank-based twin
(outlier-immune, no normality assumption), chi2 tests count-mix
independence, and the sign test is the paired nonparametric
contrast.

Exactness: `functions.exact`; a per-group rational is snapped to
micro-units, or floor-DIVed where the quotient itself must be exact.

Day-of-week is used as a GROUPING only and never output by the test
operators: Spark's dayofweek() is 1-7 Sunday-first and DuckDB's is
0-6 Sunday-first — the induced partitions are identical, the labels
are not.  The one op that DOES output a weekday (chi2_cells) derives
an engine-neutral ISO label from `timeutil.weekday`'s integer rule.

Scale notes (100 TB): each operator is one map-side-combined hash-agg
from the raw scan down to |metrics|·|hours| (or |metrics|·7 /
|metrics|·|dows| directly), then aggregate-sized joins/windows; no raw
self-joins, no global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    idiv,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import weekday


def chi2_independence(events: DataFrame) -> DataFrame:
    """(n_events, n_rows, n_cols, df, chi2): Pearson chi-square test
    of independence between event_type and day-of-week over raw event
    counts — "is the metric mix the same every weekday?".

        chi2 = Σ_cells (N·O − R·C)² / (N·R·C)

    computed over the COMPLETE row×col grid (absent cells enter as
    O = 0, contributing R·C/N — omitting them understates the
    statistic).  (N·O − R·C)² is an exact decimal38 integer; each
    cell's term is one double divide of exact integers snapped to
    integer micro-units (1e-6), the micro-units sum exactly, one final
    divide reports chi2.

    Scale: one hash-agg to |rows|·7 cells, then broadcast-sized
    margin joins — the grid never exceeds |distinct row values|·7.
    """
    cells = events.groupBy(
        F.col("event_type").alias("rv"), F.dayofweek("ts").alias("cv")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("rv").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("cv").agg(F.sum("o").alias("c"))
    tot = cells.agg(wide(F.sum("o")).alias("nn"))
    full = (
        rows.crossJoin(F.broadcast(cols))
        .join(cells, ["rv", "cv"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "rv", "cv", "nn",
            wide("r").alias("r"),
            wide("c").alias("c"),
            wide(F.coalesce(F.col("o"), F.lit(0))).alias("o"),
        )
    )
    num = F.col("nn") * F.col("o") - F.col("r") * F.col("c")
    term_u = snap(
        (num * num).cast("double")
        / (F.col("nn") * F.col("r") * F.col("c")).cast("double"), 6
    )
    g = full.select("rv", "cv", "nn", term_u.alias("t_u")).groupBy().agg(
        F.max("nn").cast("long").alias("n_events"),
        F.countDistinct("rv").alias("n_rows"),
        F.countDistinct("cv").alias("n_cols"),
        F.sum("t_u").alias("chi2_u"),
    )
    return g.select(
        "n_events", "n_rows", "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("df"),
        F.round(F.col("chi2_u").cast("double") / F.lit(1e6), 6).alias("chi2"),
    )


def kruskal_wallis(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, n_hours, k_groups, tie_sum, h): Kruskal-Wallis H test
    of hourly cent-sum level across day-of-week groups per metric —
    dow_anova's rank-based twin (no normality assumption, immune to
    the heavy hours that drag a mean-based F).

    Average ranks stay integer by doubling: a tie group of size t
    starting at dense position m has average rank (2m + t − 1)/2, so
    r2 = 2·rank() + cnt_over(y) − 1 is exact.  Per-group
    Σ(R_g²/n_g) is accumulated as t_u = (R2_g²·250000) DIV n_g
    (floor-quantized micro-units; 250000 = 10⁶/4 undoes the
    doubling), then

        H = 12·(Σt_u/10⁶)/(N(N+1)) − 3(N+1),
        H' = H / (1 − Σ(t³−t)/(N³−N))        (tie correction)

    one double expression over exact integers.  NULL when k < 2 or
    all values tie (correction → 0).  Overflow bound: R2_g²·250000
    needs N ≲ 2·10³ hours per metric in int64 — the decimal38 cast
    used here extends that to ~10¹³; ANSI errors loudly beyond.

    Scale: grid hash-agg → per-metric rank window over ≤|hours| rows
    (aggregate-sized partitions) → two tiny hash-aggs.
    """
    h = bucket_cents(series, [key], "hour")
    wr = Window.partitionBy(key).orderBy("y")
    wt = Window.partitionBy(key, "y")
    ranked = h.select(
        F.col(key), F.dayofweek("hour_ts").alias("dow"), "y",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .alias("r2"),
    )
    per_g = ranked.groupBy(key, "dow").agg(
        wide(F.count(F.lit(1))).alias("ng"),
        F.sum(wide("r2")).alias("r2g"),
    )
    t_u = idiv(F.col("r2g") * F.col("r2g") * wide(F.lit(250000)), "ng")
    per_m = per_g.select(key, "ng", t_u.alias("t_u")).groupBy(key).agg(
        wide(F.sum("ng")).alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("t_u").alias("s_u"),
    )
    ties = h.groupBy(key, "y").agg(
        wide(F.count(F.lit(1))).alias("t")
    ).groupBy(key).agg(
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tt")
    )
    j = per_m.join(ties, key)
    nd = F.col("n").cast("double")
    h_raw = (
        F.lit(12.0) * (F.col("s_u").cast("double") / F.lit(1e6))
        / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("tt").cast("double") / (
        F.col("n") * F.col("n") * F.col("n") - F.col("n")
    ).cast("double")
    h_stat = F.when((F.col("k_groups") >= 2) & (corr > 0), h_raw / corr)
    return j.select(
        key, F.col("n").cast("long").alias("n_hours"), "k_groups",
        F.col("tt").cast("long").alias("tie_sum"),
        F.round(h_stat, 6).alias("h"),
    )


def sign_test_dod(series: DataFrame, key: str = "metric",
                  min_pairs: int = 6) -> DataFrame:
    """(metric, day_ts, n_pairs, wins, losses, z): paired day-over-day
    sign test per metric-day — each observed hour is paired with the
    SAME hour yesterday (both observed), ties dropped, and

        z = (wins − losses) / sqrt(wins + losses)

    the distribution-free "is today systematically above yesterday?"
    contrast (wow_delta's hypothesis-test companion at day grain).
    Exact integer counts; z one double expression, 6 dp.

    Scale: grid hash-agg, then ONE equi-join of the grid against
    itself shifted 24 h on (metric, hour) — aggregate-sized shuffle.
    """
    h = bucket_cents(series, [key], "hour")
    prev = h.select(
        F.col(key),
        (F.col("hour_ts") + F.expr("INTERVAL 24 HOURS")).alias("hour_ts"),
        F.col("y").alias("y_prev"),
    )
    pairs = h.join(prev, [key, "hour_ts"])
    g = pairs.groupBy(
        key, F.date_trunc("day", "hour_ts").alias("day_ts")
    ).agg(
        F.sum(F.when(F.col("y") > F.col("y_prev"), 1).otherwise(0))
        .alias("wins"),
        F.sum(F.when(F.col("y") < F.col("y_prev"), 1).otherwise(0))
        .alias("losses"),
    ).where(F.col("wins") + F.col("losses") >= min_pairs)
    w, lo = F.col("wins").cast("double"), F.col("losses").cast("double")
    return g.select(
        key, "day_ts",
        (F.col("wins") + F.col("losses")).cast("long").alias("n_pairs"),
        F.col("wins").cast("long").alias("wins"),
        F.col("losses").cast("long").alias("losses"),
        F.round((w - lo) / F.sqrt(w + lo), 6).alias("z"),
    )


def grubbs_daily(series: DataFrame, key: str = "metric",
                 min_n: int = 3) -> DataFrame:
    """(metric, day_ts, n, mean_v, sd_v, suspect_value, g_stat):
    Grubbs' statistic per metric-day — the single-outlier screen
    G = max|x − x̄| / s, reported with the suspect observation so an
    operator can eyeball it (the critical value depends on a
    t-quantile; compare downstream, the mann_kendall |z|>1.96
    policy).

    The argmax needs NO float comparison: with integer cents c and
    T = Σc, the deviation order is the INTEGER order of
    d = |n·c − T|, and the extreme is always one of {min c, max c} —
    so min/max aggregates decide the suspect, and the cross-engine
    tie rule (max side wins when both deviations equal) is one
    integer CASE.  G itself is one shared double tree over the exact
    (n, T, Σc², maxd) integers.

    Scale: one hash agg per (metric, day) — no self-join, no window,
    grid-sized output."""
    pt = series.select(
        F.col(key).alias("metric"),
        F.date_trunc("day", "ts").alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    agg = pt.groupBy("metric", "day_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("t_tot"),
        F.sum(wide("c") * wide("c")).alias("sxx"),
        F.min("c").alias("c_min"),
        F.max("c").alias("c_max"),
    ).where(F.col("n") >= int(min_n))
    d_hi = F.col("n") * F.col("c_max") - F.col("t_tot")
    d_lo = F.col("t_tot") - F.col("n") * F.col("c_min")
    maxd = F.greatest(d_hi, d_lo)
    suspect_c = F.when(d_hi >= d_lo, F.col("c_max")).otherwise(
        F.col("c_min")
    )
    n = F.col("n").cast("double")
    t = F.col("t_tot").cast("double")
    sxx = F.col("sxx").cast("double")
    var = (sxx - t * t / n) / (n - F.lit(1.0))
    # t²/n can exceed sxx by one ulp when the true variance is 0 —
    # clamp so sqrt never sees a negative (both engines mirror this)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    g = F.when(var > 0, (maxd.cast("double") / n) / sd)
    return agg.select(
        "metric", "day_ts",
        F.col("n").cast("long").alias("n"),
        F.round(t / n / F.lit(float(SCALE)), 6).alias("mean_v"),
        F.round(sd / F.lit(float(SCALE)), 6).alias("sd_v"),
        F.round(
            suspect_c.cast("double") / F.lit(float(SCALE)), 6
        ).alias("suspect_value"),
        F.round(g, 6).alias("g_stat"),
    )


def _weekend_daily(series: DataFrame, key: str) -> DataFrame:
    """(m, y, g): daily cent sums tagged weekend (g=1) / weekday by
    `timeutil.weekday` — shared scaffold of the two-sample
    family (Welch t / Mann-Whitney / energy distance)."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    g1 = weekday("day_ts").isin(0, 6).cast("int")
    return d.select("m", "y", g1.alias("g"))


def welch_t_weekend(series: DataFrame, key: str = "metric",
                    min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, mean_diff, t_stat, df): Welch's
    unequal-variance t-test of weekend vs weekday daily value means —
    the parametric member of the two-sample triad (Mann-Whitney:
    ranks; energy distance: full distribution):

        t = (ȳ_w − ȳ_d) / √(s_w²/n_w + s_d²/n_d)
        df = Welch–Satterthwaite

    Exact integer moments per arm (Σy, Σy² in decimal38); t and df
    are one shared double tree.  mean_diff in value units."""
    dd = _weekend_daily(series, key)
    agg = dd.groupBy("m").agg(
        F.sum(F.lit(1) - F.col("g")).alias("nx"),
        F.sum("g").alias("ny"),
        F.sum(
            F.when(F.col("g") == 0, F.col("y")).otherwise(0)
        ).alias("sx"),
        F.sum(
            F.when(F.col("g") == 1, F.col("y")).otherwise(0)
        ).alias("sy"),
        F.sum(
            F.when(F.col("g") == 0,
                   wide("y") * wide("y"))
            .otherwise(wide(F.lit(0)))
        ).alias("sxx"),
        F.sum(
            F.when(F.col("g") == 1,
                   wide("y") * wide("y"))
            .otherwise(wide(F.lit(0)))
        ).alias("syy"),
    ).where(
        (F.col("nx") >= int(min_days)) & (F.col("ny") >= int(min_days))
    )
    nx = F.col("nx").cast("double")
    ny = F.col("ny").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    vx = (F.col("sxx").cast("double") - sx * sx / nx) / (nx - F.lit(1.0))
    vy = (F.col("syy").cast("double") - sy * sy / ny) / (ny - F.lit(1.0))
    a = vx / nx
    b = vy / ny
    se2 = a + b
    t = F.when(se2 > 0, (sy / ny - sx / nx) / F.sqrt(se2))
    df = F.when(
        (a > 0) | (b > 0),
        se2 * se2
        / (a * a / (nx - F.lit(1.0)) + b * b / (ny - F.lit(1.0))),
    )
    return agg.select(
        F.col("m").alias("metric"),
        F.col("nx").cast("long").alias("n_weekday"),
        F.col("ny").cast("long").alias("n_weekend"),
        F.round((sy / ny - sx / nx) / F.lit(float(SCALE)), 6)
        .alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("df"),
    )


def mann_whitney_weekend(series: DataFrame, key: str = "metric",
                         min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, u2_stat, z): Mann-Whitney
    rank-sum test of weekend vs weekday daily values — the
    nonparametric member of the two-sample triad.  DOUBLED U keeps
    half-counted ties integer:

        U2 = Σ_{x∈wd, y∈we} (2·[x < y] + [x = y])
        z = (U2/2 − n_x n_y/2) / σ_U,
        σ²_U = n_x n_y [ (n+1) − Σ(t³−t)/(n(n−1)) ] / 12   (tie-adj.)

    U2 and the tie term are exact integers from the bounded day-grid
    pair enumeration; z is one shared double tree.

    Scale: D² pair rows per metric over the calendar-bounded grid —
    same policy as energy_distance/pettitt."""
    dd = _weekend_daily(series, key)
    x = dd.where(F.col("g") == 0).select("m", F.col("y").alias("yx"))
    y = dd.where(F.col("g") == 1).select("m", F.col("y").alias("yy"))
    u = x.join(y, "m").groupBy("m").agg(
        F.sum(
            F.lit(2) * (F.col("yx") < F.col("yy")).cast("long")
            + (F.col("yx") == F.col("yy")).cast("long")
        ).alias("u2")
    )
    cnt = dd.groupBy("m").agg(
        F.sum(F.lit(1) - F.col("g")).alias("nx"),
        F.sum("g").alias("ny"),
    )
    ties = (
        dd.groupBy("m", "y").agg(F.count(F.lit(1)).alias("t"))
        .groupBy("m")
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tie_term")
        )
    )
    j = u.join(cnt, "m").join(ties, "m").where(
        (F.col("nx") >= int(min_days)) & (F.col("ny") >= int(min_days))
    )
    nx = F.col("nx").cast("double")
    ny = F.col("ny").cast("double")
    nn = nx + ny
    tt = F.col("tie_term").cast("double")
    var_u = nx * ny / F.lit(12.0) * (
        (nn + F.lit(1.0)) - tt / (nn * (nn - F.lit(1.0)))
    )
    z = F.when(
        var_u > 0,
        (F.col("u2").cast("double") / F.lit(2.0) - nx * ny / F.lit(2.0))
        / F.sqrt(var_u),
    )
    return j.select(
        F.col("m").alias("metric"),
        F.col("nx").cast("long").alias("n_weekday"),
        F.col("ny").cast("long").alias("n_weekend"),
        F.col("u2").cast("long").alias("u2_stat"),
        F.round(z, 6).alias("z"),
    )


def wilcoxon_signed(series: DataFrame, key: str = "metric",
                    lag_days: int = 7,
                    min_pairs: int = 6) -> DataFrame:
    """(metric, n_pairs, w2_plus, tie_sum, z): Wilcoxon signed-rank
    test of week-over-week level shift per metric — each day's cent
    sum paired with the SAME WEEKDAY `lag_days` earlier, so the weekly
    cycle cancels inside the pair and what is tested is the pure
    level shift.  The PAIRED member of the two-sample family
    (welch_t: means; mann_whitney: independent ranks; sign_test_dod:
    paired signs only — this adds the rank weighting the sign test
    throws away).

    Exactness (house doubled-rank recipe): zero diffs drop (Wilcoxon
    convention), |diff| average ranks stay integer as
    r2 = 2·rank() + cnt_over(|d|) − 1, so

        W2+ = Σ_{d>0} r2            (= 2·W+, exact integer)
        z   = (2·W2+ − n(n+1)) / 4
              ───────────────────────────────
              √( (2n(n+1)(2n+1) − Σ(t³−t)) / 48 )

    one shared double tree over the exact integers (W2+, n, tie sum);
    NULL when the tie-corrected variance degenerates (all |d| equal
    at n=1) or n < min_pairs.

    Scale: daily grid hash-agg per metric (tiny), ONE equi-join of the
    grid against itself shifted `lag_days` on (metric, day), one rank
    window over per-metric day counts (aggregate-sized partitions),
    two hash-aggs.  No raw-row pair space anywhere."""
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    prev = d.select(
        "m",
        (F.col("day_ts")
         + F.expr(f"INTERVAL {int(lag_days)} DAYS")).alias("day_ts"),
        F.col("y").alias("y_prev"),
    )
    diffs = (
        d.join(prev, ["m", "day_ts"])
        .select("m", (F.col("y") - F.col("y_prev")).alias("dv"))
        .where(F.col("dv") != 0)
        .select("m", "dv", F.abs("dv").alias("ad"))
    )
    wr = Window.partitionBy("m").orderBy("ad")
    wt = Window.partitionBy("m", "ad")
    ranked = diffs.select(
        "m", "dv",
        (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1)
        .alias("r2"),
    )
    agg = ranked.groupBy("m").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("dv") > 0, F.col("r2")).otherwise(0))
         .alias("w2p"),
    ).where(F.col("n") >= int(min_pairs))
    ties = (
        diffs.groupBy("m", "ad").agg(F.count(F.lit(1)).alias("t"))
        .groupBy("m")
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            ).alias("tt")
        )
    )
    j = agg.join(ties, "m")
    n = F.col("n").cast("double")
    var48 = (
        F.lit(2.0) * n * (n + F.lit(1.0)) * (F.lit(2.0) * n + F.lit(1.0))
        - F.col("tt").cast("double")
    )
    z = F.when(
        var48 > 0,
        (F.lit(2.0) * F.col("w2p").cast("double")
         - n * (n + F.lit(1.0))) / F.lit(4.0)
        / F.sqrt(var48 / F.lit(48.0)),
    )
    return j.select(
        F.col("m").alias("metric"),
        F.col("n").cast("long").alias("n_pairs"),
        F.col("w2p").cast("long").alias("w2_plus"),
        F.col("tt").cast("long").alias("tie_sum"),
        F.round(z, 6).alias("z"),
    )


def brown_forsythe_weekend(series: DataFrame, key: str = "metric",
                           min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, med_weekday, med_weekend,
    f_stat): Brown-Forsythe test (median-centered Levene) of weekend
    vs weekday daily-value VARIANCE equality — the dispersion member
    of the two-sample family (welch_t/mann_whitney/wilcoxon test
    LEVEL; this asks "are weekends more volatile?", the
    outlier-robust variant of Levene's mean-centered form).

    Exactness: the group center is the LOWER median (k-th smallest at
    k = (n+1) DIV 2) — exact integer cents, no cross-engine
    even-count-interpolation hazard; the documented bias is half a
    gap on even groups, irrelevant to a dispersion contrast.
    Absolute deviations z = |y − med_g| are exact integers; with
    exactly k = 2 groups the one-way ANOVA F on z clears BOTH
    denominators exactly (no micro-snap, no DIV — Spark's decimal
    DIV returns LONG and silently wraps past 9.2e18, so the usual
    (S²·10⁶) DIV n trick is UNSAFE for cent-scale deviation sums):

        bnum = N·(n1·S0² + n0·S1²) − n0·n1·(S0+S1)²
        wnum = N·(n0·n1·(Q0+Q1) − n1·S0² − n0·S1²)
        F    = (N − 2) · bnum / wnum   (one double divide, 6 dp)

    bnum/wnum are exact integers in decimal(38,0) both engines
    (DuckDB: hugeint).  NULL F when wnum = 0 (each group's
    deviations all equal, i.e. both groups constant).

    Scale: daily grid hash-agg per metric, ONE row_number window over
    per-(metric, group) day counts (aggregate-sized) for the median,
    one broadcast-sized equi-join back, two hash-aggs.  No raw-row
    work after the first agg."""
    dd = _weekend_daily(series, key)
    wg = Window.partitionBy("m", "g").orderBy("y")
    wc = Window.partitionBy("m", "g")
    # lower median: rn == (ng + 1) DIV 2 — integral comparison only
    med = (
        dd.select(
            "m", "g", "y",
            F.row_number().over(wg).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("ng"),
        )
        .where(
            F.col("rn")
            == F.expr("CAST((ng + 1) DIV 2 AS INT)")
        )
        .select("m", "g", F.col("y").alias("med"))
    )
    z = (
        dd.join(med, ["m", "g"])
        .select("m", "g", F.abs(F.col("y") - F.col("med")).alias("z"),
                "med")
    )
    per_g = z.groupBy("m", "g").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(wide("z")).alias("s"),
        F.sum(wide("z") * wide("z")).alias("q"),
        F.min("med").alias("med"),
    )
    per_m = per_g.groupBy("m").agg(
        F.sum(F.when(F.col("g") == 0, F.col("ng"))).alias("n0"),
        F.sum(F.when(F.col("g") == 1, F.col("ng"))).alias("n1"),
        F.max(F.when(F.col("g") == 0, F.col("med"))).alias("med0"),
        F.max(F.when(F.col("g") == 1, F.col("med"))).alias("med1"),
        F.sum(F.when(F.col("g") == 0, F.col("s"))).alias("s0"),
        F.sum(F.when(F.col("g") == 1, F.col("s"))).alias("s1"),
        F.sum("q").alias("q_tot"),
        F.count(F.lit(1)).alias("k"),
    ).where(
        (F.col("k") == 2)
        & (F.col("n0") >= int(min_days))
        & (F.col("n1") >= int(min_days))
    )
    # k = 2 exact clearing: every term < ~1e28 at plausible cent
    # scales — well inside decimal(38,0); no intermediate division.
    bnum = F.expr(
        "(n0 + n1) * (n1 * s0 * s0 + n0 * s1 * s1)"
        " - n0 * n1 * (s0 + s1) * (s0 + s1)"
    )
    wnum = F.expr(
        "(n0 + n1) * (n0 * n1 * q_tot - n1 * s0 * s0 - n0 * s1 * s1)"
    )
    f = F.when(
        wnum > 0,
        (F.col("n0") + F.col("n1") - 2).cast("double")
        * bnum.cast("double") / wnum.cast("double"),
    )
    scale_d = float(SCALE)
    return per_m.select(
        F.col("m").alias("metric"),
        F.col("n0").cast("long").alias("n_weekday"),
        F.col("n1").cast("long").alias("n_weekend"),
        F.round(F.col("med0").cast("double") / scale_d, 6)
         .alias("med_weekday"),
        F.round(F.col("med1").cast("double") / scale_d, 6)
         .alias("med_weekend"),
        F.round(f, 6).alias("f_stat"),
    )


def bh_adjust(tests: DataFrame, key: str = "metric",
              q: float = 0.05) -> DataFrame:
    """(key, p_raw, bh_rank, p_adj, significant): Benjamini-Hochberg
    ADJUSTED-p report over a FAMILY of per-key p-values — the
    multiple-testing layer the per-metric test battery (pettitt,
    welch_t, mann_whitney, ...) needs before anyone acts on "metric X
    changed": with m metrics tested at α, ~m·α false alarms arrive
    per sweep; BH caps the expected false-discovery RATE at q
    instead.

    Companion to activity.bh_fdr, NOT a duplicate: bh_fdr consumes
    EXACT RATIONAL p (p_num/p_den) and emits only the step-up
    rejection set per family (the fleet-scale anomaly-list gate);
    this one consumes the 6-dp-rounded double p the gated test
    operators emit and reports the standard ADJUSTED p-value
    (min_{j≥i} m·p_(j)/j) a human reads off a dashboard.  Identical
    rejection decisions at the same q on the same inputs.

        adj_(i) = min_{j ≥ i} (m · p_(j) / j), capped at 1
        significant ⇔ adj ≤ q          (step-up procedure)

    Tie-order invariance: equal p at ranks i < i' both receive the
    reverse running min over j ≥ i, which includes the smaller
    m·p/i' candidate, so tied p-values get IDENTICAL adj regardless
    of how row_number broke the tie (the key tiebreak fixes only the
    REPORTED rank, cross-engine).  p inputs arrive 6-dp rounded from
    the gated upstream test; m·p/j is then one deterministic IEEE
    expression per row and min() is order-free.

    Scale: input is one row per TEST — the test family is
    aggregate-sized and does not grow with the corpus — so the rank
    and the reverse running min are computed as broadcast theta-joins
    over the m-row family (m² ≈ hundreds of comparisons), NOT as
    ordered windows: a partition-less ordered Window is the repo's
    banned single-partition-sort shape (plans/audit.py lints every
    headline plan for it), and Catalyst constant-folds literal
    partition keys away, so the join form is the honest one.  Both
    joins broadcast the aggregate side (the BNLJ-with-tiny-broadcast
    pattern the audit module documents as acceptable)."""
    base = tests.select(
        F.col(key).alias("k"), F.col("p_approx").alias("p_raw")
    )
    tot = base.agg(F.count(F.lit(1)).alias("m"))
    rhs = base.select(
        F.col("k").alias("k2"), F.col("p_raw").alias("p2")
    )
    # rank = 1 + #strictly-smaller (p, key) pairs — identical to
    # row_number over (p, key) because key is unique per test
    lt = (F.col("p2") < F.col("p_raw")) | (
        (F.col("p2") == F.col("p_raw")) & (F.col("k2") < F.col("k"))
    )
    ranked = (
        base.join(F.broadcast(rhs), lt, "left")
        .groupBy("k", "p_raw")
        .agg((F.count("k2") + 1).alias("bh_rank"))
        .crossJoin(F.broadcast(tot))
    )
    c = ranked.select(
        "k", "p_raw", "bh_rank",
        (F.col("m").cast("double") * F.col("p_raw")
         / F.col("bh_rank").cast("double")).alias("cand"),
    )
    rhs2 = c.select(
        F.col("k").alias("k2"), F.col("p_raw").alias("p2"),
        F.col("cand").alias("cand2"),
    )
    # reverse running min over rank order == min over (p, key) >= self
    ge = (F.col("p2") > F.col("p_raw")) | (
        (F.col("p2") == F.col("p_raw")) & (F.col("k2") >= F.col("k"))
    )
    a = (
        c.join(F.broadcast(rhs2), ge)
        .groupBy("k", "p_raw", "bh_rank")
        .agg(F.least(F.min("cand2"), F.lit(1.0)).alias("adj"))
    )
    return a.select(
        F.col("k").alias(key),
        F.round("p_raw", 6).alias("p_raw"),
        F.col("bh_rank").cast("long").alias("bh_rank"),
        F.round("adj", 6).alias("p_adj"),
        F.when(F.col("adj") <= float(q), F.lit(1))
         .otherwise(F.lit(0)).alias("significant"),
    )


def chi2_cells(events: DataFrame) -> DataFrame:
    """(metric, dow_iso, o, e, std_resid, cramers_v): the effect-size
    companion to chi2_independence — WHICH metric × weekday cell
    drives the dependence, and HOW MUCH dependence there is overall.
    Per cell of the complete row×col grid (absent cells enter O = 0):

        e         = R·C/N                       (expected count)
        std_resid = (O − E)/√(E(1 − R/N)(1 − C/N))   (adjusted
                    residual — asymptotically N(0,1) under
                    independence, so |resid| > 2 flags the cell)
        cramers_v = √( (χ²/N) / min(r−1, c−1) )      (repeated per
                    row: the report is a per-cell drill-down of one
                    global association)

    Unlike chi2_independence, the weekday IS output — as dow_iso
    (Mon=1..Sun=7), `timeutil.weekday` shifted to start on Monday,
    identical both engines (Spark's dayofweek() is 1-7 Sunday-first,
    DuckDB's 0-6 Sunday-first, so the NATIVE labels never cross the
    oracle).  χ² reuses the micro-snapped cell terms; e/std_resid
    are ONE shared double tree over exact integer (O, R, C, N) —
    no snapping needed, every engine sees identical IEEE inputs.
    NULL std_resid when a margin exhausts N (single row/col value).

    Scale: one hash-agg to |rows|·7 cells, broadcast-sized margin
    joins, and one broadcast 1-row global agg for the χ² total —
    the grid never exceeds |distinct row values|·7."""
    dow = (F.pmod(weekday("ts") + F.lit(6), F.lit(7)) + F.lit(1)).cast("int")
    cells = events.groupBy(
        F.col("event_type").alias("rv"), dow.alias("dw")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows = cells.groupBy("rv").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dw").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("nn"))
    full = (
        rows.crossJoin(F.broadcast(cols))
        .join(cells, ["rv", "dw"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "rv", "dw", "nn",
            F.col("r").cast("long").alias("r"),
            F.col("c").cast("long").alias("c"),
            F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o"),
        )
    )
    # chi2 micro-terms exactly as chi2_independence computes them
    num = wide("nn") * wide("o") - wide("r") * wide("c")
    den = wide("nn") * wide("r") * wide("c")
    t_u = snap((num * num).cast("double") / den.cast("double"), 6)
    terms = full.select(
        "rv", "dw", "nn", "r", "c", "o", t_u.alias("t_u")
    )
    glob = terms.agg(
        F.sum("t_u").alias("chi2_u"),
        F.countDistinct("rv").alias("n_rows"),
        F.countDistinct("dw").alias("n_cols"),
    )
    g = terms.crossJoin(F.broadcast(glob))
    rd, cd, nd, od = (F.col(x).cast("double") for x in ("r", "c", "nn", "o"))
    e = rd * cd / nd
    vfac = e * (F.lit(1.0) - rd / nd) * (F.lit(1.0) - cd / nd)
    resid = F.when(vfac > 0, (od - e) / F.sqrt(vfac))
    mindf = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v = F.when(
        mindf > 0,
        F.sqrt(F.col("chi2_u").cast("double") / F.lit(1e6) / nd
               / mindf.cast("double")),
    )
    return g.select(
        F.col("rv").alias("metric"),
        F.col("dw").cast("int").alias("dow_iso"),
        F.col("o").cast("long").alias("o"),
        F.round(e, 6).alias("e"),
        F.round(resid, 6).alias("std_resid"),
        F.round(v, 6).alias("cramers_v"),
    )


def effect_sizes_weekend(series: DataFrame, key: str = "metric",
                         min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, cohens_d, hedges_g,
    cliffs_delta): the EFFECT-SIZE layer for the weekend two-sample
    family — welch_t/mann_whitney/brown_forsythe say whether the
    contrast is real; this says how BIG it is, in the units people
    compare across metrics (p-values shrink with n, effect sizes
    don't):

        d      = (ȳ_we − ȳ_wd) / s_p     (pooled-SD standardized
                 mean difference; scale-invariant — cents cancel)
        g      = J·d,  J = 1 − 3/(4N−9)  (Hedges small-sample
                 de-bias)
        δ      = (#(we > wd) − #(we < wd)) / (n0·n1)   (Cliff's
                 delta over all day pairs ∈ [−1, 1]; identically the
                 two-group rank-biserial r = 2U/(n0 n1) − 1)

    Exactness: s_p² clears both denominators —
    s_p² = [n1(n0·Q0 − S0²) + n0(n1·Q1 − S1²)] / (n0·n1·(N−2)) with
    Q/S exact decimal38/hugeint — so d/g are ONE shared double tree;
    δ's win/loss counts are exact integers from the calendar-bounded
    n0×n1 day-pair enumeration (the mann_whitney policy: pair space
    is |days|² per metric regardless of corpus size).  NULL d/g when
    s_p = 0 (both arms constant).

    Scale: daily grid hash-agg, one aggregate-sized self-join for
    the pair counts, two tiny hash-aggs, one broadcast-sized join."""
    dd = _weekend_daily(series, key)
    x = wide("y")
    mo = dd.groupBy("m").agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("g") == 0, x)).alias("s0"),
        F.sum(F.when(F.col("g") == 1, x)).alias("s1"),
        F.sum(F.when(F.col("g") == 0, x * x)).alias("q0"),
        F.sum(F.when(F.col("g") == 1, x * x)).alias("q1"),
    ).where(
        (F.col("n0") >= int(min_days)) & (F.col("n1") >= int(min_days))
    )
    a = dd.where(F.col("g") == 0).select("m", F.col("y").alias("ya"))
    b = dd.where(F.col("g") == 1).select("m", F.col("y").alias("yb"))
    pc = a.join(b, "m").groupBy("m").agg(
        F.sum(F.when(F.col("yb") > F.col("ya"), 1).otherwise(0))
        .alias("wins"),
        F.sum(F.when(F.col("yb") < F.col("ya"), 1).otherwise(0))
        .alias("losses"),
    )
    j = mo.join(pc, "m")
    n0d, n1d = (F.col(c).cast("double") for c in ("n0", "n1"))
    nd = n0d + n1d
    md = F.col("s1").cast("double") / n1d \
        - F.col("s0").cast("double") / n0d
    sp_num = (
        wide("n1")
        * (wide("n0") * wide("q0")
           - F.col("s0") * F.col("s0"))
        + wide("n0")
        * (wide("n1") * wide("q1")
           - F.col("s1") * F.col("s1"))
    ).cast("double")
    sp2 = sp_num / (n0d * n1d * (nd - F.lit(2.0)))
    d = md / F.sqrt(sp2)
    jf = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * nd - F.lit(9.0))
    delta = (
        (F.col("wins") - F.col("losses")).cast("double")
        / (n0d * n1d)
    )
    return j.select(
        F.col("m").alias("metric"),
        F.col("n0").cast("long").alias("n_weekday"),
        F.col("n1").cast("long").alias("n_weekend"),
        F.when(sp_num > 0, F.round(d, 6)).alias("cohens_d"),
        F.when(sp_num > 0, F.round(jf * d, 6)).alias("hedges_g"),
        F.round(delta, 6).alias("cliffs_delta"),
    )


def esd_outliers(series: DataFrame, key: str = "metric",
                 k_rounds: int = 3,
                 min_n: int = 8) -> DataFrame:
    """(metric, day_ts, round, n_remaining, suspect_value, g_stat):
    generalized ESD (Rosner) multi-outlier screen per metric-day —
    grubbs_daily finds ONE outlier; masking hides the second behind
    the first.  ESD removes the extreme and re-tests k times, which
    is exactly a FIXED-depth unroll: each round recomputes (n, T,
    Σc²) over the surviving points, flags the max-|deviation| point,
    and hands the remainder to the next round.

    Round-r argmax is decided by INTEGERS end to end: dev = |n·c − T|
    ordered desc, ties prefer the high side (the grubbs rule) then
    the earliest (ts, turn) — so removal is deterministic and the
    DuckDB oracle replays the identical three rounds.  g_stat is
    grubbs' G = (dev/n)/sd, one shared double tree per round, 6 dp;
    rounds stop contributing when n_remaining < min_n (degenerate
    sd → NULL g).

    Scale: k · (one day-grouped hash-agg + one day-bounded window) —
    the bounded-day policy (windows never span groups larger than a
    calendar day's points)."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    pt = series.select(
        F.col(key).alias("m"),
        F.date_trunc("day", "ts").alias("day_ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("turn_idx").cast("long").alias("o"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    out_rounds = []
    cur = pt
    for r in range(1, int(k_rounds) + 1):
        agg = cur.groupBy("m", "day_ts").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("t_tot"),
            F.sum(wide("c") * wide("c")).alias("sxx"),
        ).where(F.col("n") >= int(min_n))
        j = cur.join(agg, ["m", "day_ts"])
        dev = F.abs(F.col("n") * F.col("c") - F.col("t_tot"))
        w = Window.partitionBy("m", "day_ts").orderBy(
            dev.desc(), F.col("c").desc(), "t_us", "o"
        )
        picked = j.select(
            "m", "day_ts", "t_us", "o", "c", "n", "t_tot", "sxx",
            dev.alias("dev"),
            F.row_number().over(w).alias("rn"),
        ).where(F.col("rn") == 1)
        n = F.col("n").cast("double")
        t = F.col("t_tot").cast("double")
        sxx = F.col("sxx").cast("double")
        var = (sxx - t * t / n) / (n - F.lit(1.0))
        sd = F.sqrt(F.greatest(var, F.lit(0.0)))
        g = F.when(var > 0, (F.col("dev").cast("double") / n) / sd)
        out_rounds.append(picked.select(
            F.col("m").alias(key), "day_ts",
            F.lit(r).alias("round"),
            F.col("n").cast("long").alias("n_remaining"),
            F.round(
                F.col("c").cast("double") / F.lit(float(SCALE)), 6
            ).alias("suspect_value"),
            F.round(g, 6).alias("g_stat"),
        ))
        cur = cur.join(
            picked.select("m", "day_ts", "t_us", "o"),
            ["m", "day_ts", "t_us", "o"], "left_anti",
        )
    out = out_rounds[0]
    for more in out_rounds[1:]:
        out = out.unionByName(more)
    return out
