"""Paired/blocked binary tests and rank scale tests over the
aggregate grids: McNemar's week-over-week paired binary contrast,
Cochran's Q across day-of-week blocks, the two-sample Cramér–von
Mises distribution test, and Mood's rank test of scale.

These close the remaining quadrants of the hypothesis-test family:
sign_test_dod / wilcoxon_signed pair CONTINUOUS outcomes; McNemar and
Cochran's Q pair/block BINARY outcomes (above/below the metric's own
median — a level-free discretization both engines replicate exactly).
mann_whitney tests LOCATION and brown_forsythe tests SPREAD via
deviations; cvm_weekend tests the WHOLE distribution and
mood_weekend tests spread via squared centered ranks.

Exactness recipe (house style, see nptests.py): counts and ranks
accumulate as exact integers — midranks and own-sample indexes are
DOUBLED so ties stay integer — and each final statistic is ONE
identical double expression over those integers, rounded to 6 dp.
The binary threshold is the metric's doubled interpolated median
(2·percentile(y, 0.5) on Spark ≡ 2·quantile_cont on DuckDB — an
exact integer either way, so `2y > med2` is an integer comparison).

Calendar conventions are engine-neutral integer rules on the epoch
day/hour (weekdays are `timeutil.weekday`; weeks block as
`(day+4) DIV 7`): native dayofweek()/week() label differently across
engines, integer arithmetic cannot.

Scale notes (100 TB): every operator is one map-side-combined
hash-agg from the raw scan down to |metrics|·|hours| (or ·|days|),
then aggregate-sized joins/windows partitioned per metric — no raw
self-joins, no global sorts, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import bucket_cents, snap
from timeseriescorrelation_spark.functions.timeutil import (
    epoch_day,
    epoch_us,
    weekday,
)


def mcnemar_wow(series: DataFrame, key: str = "metric",
                min_pairs: int = 10) -> DataFrame:
    """(metric, n_pairs, b01, b10, chi2_cc): McNemar's paired test of
    week-over-week change in the binary state "hour ran above the
    metric's median volume", pairing each observed hour with the SAME
    hour-of-week slot one week earlier (both observed):

        b01 = pairs flipping 0→1,   b10 = pairs flipping 1→0
        chi2_cc = (|b01 − b10| − 1)² / (b01 + b10)

    (continuity-corrected; the |·|−1 is clamped at 0 so a one-flip
    imbalance never goes negative).  Concordant pairs carry no
    information and only enter n_pairs.  This is the binary-outcome
    twin of wilcoxon_signed's lag-7 pairing.

    Scale: hour-grid hash-agg, broadcast-sized median join, ONE
    equi-join of the grid against itself shifted one week on
    (metric, slot, week) — aggregate-sized throughout."""
    h = bucket_cents(series, [key], "hour")
    # the median rides a grid WINDOW, not a join: a separate median
    # aggregate + join would re-scan the raw table a third time (the
    # grid is not cached by contract); the window runs over the
    # already-aggregated grid partitioned per metric
    w_med = Window.partitionBy(key)
    med2 = snap(F.lit(2) * F.percentile("y", F.lit(0.5)).over(w_med))
    eh = F.floor(
        epoch_us(F.col("hour_ts")) / F.lit(3_600_000_000)
    ).cast("long")
    day = F.floor(eh / F.lit(24)).cast("long")
    tagged = h.select(
        F.col(key),
        F.floor((day + F.lit(4)) / F.lit(7)).cast("long").alias("week"),
        F.pmod(eh + F.lit(4 * 24), F.lit(168)).cast("long").alias("slot"),
        (F.lit(2) * F.col("y") > med2).cast("int").alias("b"),
    )
    prev = tagged.select(
        F.col(key), (F.col("week") + 1).alias("week"), "slot",
        F.col("b").alias("b_prev"),
    )
    pairs = tagged.join(prev, [key, "week", "slot"])
    g = pairs.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(((F.col("b_prev") == 0) & (F.col("b") == 1)).cast("long"))
        .alias("b01"),
        F.sum(((F.col("b_prev") == 1) & (F.col("b") == 0)).cast("long"))
        .alias("b10"),
    ).where(F.col("n_pairs") >= int(min_pairs))
    disc = F.col("b01") + F.col("b10")
    num = F.greatest(
        F.abs(F.col("b01") - F.col("b10")) - F.lit(1), F.lit(0)
    )
    chi2 = F.when(disc > 0, (num * num).cast("double") / disc.cast("double"))
    return g.select(
        key,
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("b01").cast("long").alias("b01"),
        F.col("b10").cast("long").alias("b10"),
        F.round(chi2, 6).alias("chi2_cc"),
    )


def cochran_q_dow(series: DataFrame, key: str = "metric",
                  min_blocks: int = 3) -> DataFrame:
    """(metric, n_blocks, n_success, q_stat): Cochran's Q test of
    whether the binary state "day ran above the metric's median daily
    volume" has the same success rate across the k = 7 day-of-week
    treatments, blocking by week — the k-treatment generalization of
    McNemar (and the binary twin of friedman_test):

        Q = (k−1) · (k·ΣC_j² − N²) / (k·N − ΣR_i²)

    over COMPLETE blocks only (weeks with all 7 days observed —
    incomplete blocks would need the Skillings-Mack extension).  C_j
    = successes per weekday, R_i = successes per week, N = ΣC = ΣR;
    every term is an exact integer, Q is one double divide.

    Scale: day-grid hash-agg (|metrics|·|days| rows), broadcast
    median join, two grid-sized re-aggregations."""
    d = bucket_cents(series, [key], "day")
    w_med = Window.partitionBy(key)
    med2 = snap(F.lit(2) * F.percentile("y", F.lit(0.5)).over(w_med))
    ed = epoch_day("day_ts")
    tagged = d.select(
        F.col(key),
        F.floor((ed + F.lit(4)) / F.lit(7)).cast("long").alias("week"),
        weekday("day_ts").cast("long").alias("dow"),
        (F.lit(2) * F.col("y") > med2).cast("long").alias("b"),
    )
    complete = (
        tagged.groupBy(key, "week")
        .agg(F.count(F.lit(1)).alias("nd"), F.sum("b").alias("r_i"))
        .where(F.col("nd") == 7)
        .select(key, "week", "r_i")
    )
    kept = tagged.join(complete, [key, "week"])
    cols = kept.groupBy(key, "dow").agg(F.sum("b").alias("c_j"))
    csum = cols.groupBy(key).agg(
        F.sum(F.col("c_j") * F.col("c_j")).alias("sum_c2"),
        F.sum("c_j").alias("n_succ"),
    )
    rsum = complete.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("r_i") * F.col("r_i")).alias("sum_r2"),
    )
    j = csum.join(rsum, key).where(F.col("n_blocks") >= int(min_blocks))
    k7 = F.lit(7)
    den = k7 * F.col("n_succ") - F.col("sum_r2")
    q = F.when(
        den > 0,
        ((k7 - 1) * (k7 * F.col("sum_c2")
                         - F.col("n_succ") * F.col("n_succ"))).cast("double")
        / den.cast("double"),
    )
    return j.select(
        key,
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_succ").cast("long").alias("n_success"),
        F.round(q, 6).alias("q_stat"),
    )


def _ranked_weekend(series: DataFrame, key: str) -> DataFrame:
    """Shared rank scaffold of cvm/mood: daily cent sums split
    weekend/weekday with doubled combined midranks (r2 = 2·minrank +
    ties − 1, exact integer) and doubled own-sample order index i2 —
    Σ(r2 − i2)² over a tie run is invariant to intra-tie order, so a
    deterministic (y, day) ordering makes both engines agree."""
    # _weekend_daily drops day_ts, which the deterministic in-sample
    # tiebreak needs (the day grid is unique per (m, day), so (y,
    # day_ts) is a total order) — rebuild the tagged grid inline.
    d = bucket_cents(series, [F.col(key).alias("m")], "day")
    g1 = weekday("day_ts").isin(0, 6).cast("int")
    d = d.select("m", "day_ts", "y", g1.alias("g"))
    w_min = Window.partitionBy("m").orderBy("y")
    w_tie = Window.partitionBy("m", "y")
    w_own = Window.partitionBy("m", "g").orderBy("y", "day_ts")
    return d.select(
        "m", "g", "y",
        (F.lit(2) * F.rank().over(w_min)
         + F.count(F.lit(1)).over(w_tie) - F.lit(1))
        .cast("long").alias("r2"),
        (F.lit(2) * F.row_number().over(w_own))
        .cast("long").alias("i2"),
    )


def cvm_weekend(series: DataFrame, key: str = "metric",
                min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, u4_stat, t_stat): two-sample
    Cramér–von Mises test of weekend vs weekday daily volume — the
    whole-distribution member of the two-sample family (Mann-Whitney
    sees location, Brown-Forsythe sees spread, CvM sees ANY
    distributional difference).  Anderson's rank form:

        U = n·Σᵢ(rᵢ − i)² + m·Σⱼ(sⱼ − j)²
        T = U / (N·n·m) − (4nm − 1) / (6N)

    with rᵢ the combined-sample midranks of sample 1 in sorted order
    and i its own-sample index.  DOUBLED ranks keep midrank ties
    integer: u4 = 4U = n·Σ(r2−i2)² + m·Σ(s2−j2)² exactly, and
    T = u4/(4Nnm) − (4nm−1)/(6N) is one double expression.  Ties use
    midranks; the variance normalization is the continuous-case one
    (documented convention, both engines identical).

    Scale: day-grid hash-agg then per-metric windows over ≤|days|
    rows — aggregate-sized."""
    r = _ranked_weekend(series, key)
    # conditional aggregation, not a per-group split + self-join: the
    # rank scaffold is not cached by contract, so referencing it
    # twice would recompute it (and re-scan raw) twice
    sq = (F.col("r2") - F.col("i2")) * (F.col("r2") - F.col("i2"))
    j = r.groupBy("m").agg(
        F.sum((F.lit(1) - F.col("g")).cast("long")).alias("nx"),
        F.sum(F.col("g").cast("long")).alias("ny"),
        F.sum(F.when(F.col("g") == 0, sq).otherwise(F.lit(0)))
        .alias("s4x"),
        F.sum(F.when(F.col("g") == 1, sq).otherwise(F.lit(0)))
        .alias("s4y"),
    ).where(
        (F.col("nx") >= int(min_days)) & (F.col("ny") >= int(min_days))
    )
    u4 = F.col("nx") * F.col("s4x") + F.col("ny") * F.col("s4y")
    nx, ny = F.col("nx").cast("double"), F.col("ny").cast("double")
    nn = nx + ny
    t = (
        u4.cast("double") / (F.lit(4.0) * nn * nx * ny)
        - (F.lit(4.0) * nx * ny - F.lit(1.0)) / (F.lit(6.0) * nn)
    )
    return j.select(
        F.col("m").alias("metric"),
        F.col("nx").cast("long").alias("n_weekday"),
        F.col("ny").cast("long").alias("n_weekend"),
        u4.cast("long").alias("u4_stat"),
        F.round(t, 6).alias("t_stat"),
    )


def mood_weekend(series: DataFrame, key: str = "metric",
                 min_days: int = 4) -> DataFrame:
    """(metric, n_weekday, n_weekend, m4_stat, z): Mood's two-sample
    test of SCALE on weekend vs weekday daily volume — squared
    centered combined ranks of the weekend sample:

        M = Σ_{weekend} (r − (N+1)/2)²,   doubled: m4 = Σ(r2 − (N+1))²
        z = (m4/4 − E[M]) / sqrt(Var[M])
        E[M] = m(N²−1)/12,  Var[M] = nm(N+1)(N²−4)/180

    the rank companion to brown_forsythe (which tests spread through
    deviations from the median — outliers move it; Mood only moves
    with rank positions).  Midranks for ties; the classical no-tie
    variance (documented convention shared with the oracle).

    Scale: identical shape to cvm_weekend — day-grid hash-agg plus
    per-metric windows."""
    r = _ranked_weekend(series, key)
    # single-pass: m4 = Σ_{g=1}(r2 − (N+1))² expands to
    # Σr2² − 2(N+1)Σr2 + m(N+1)² over exact integers, so N never
    # needs a join back onto the scaffold
    g = r.groupBy("m").agg(
        F.sum((F.lit(1) - F.col("g")).cast("long")).alias("nx"),
        F.sum(F.col("g").cast("long")).alias("ny"),
        F.sum(F.when(F.col("g") == 1, F.col("r2")).otherwise(F.lit(0)))
        .alias("sr2"),
        F.sum(
            F.when(F.col("g") == 1, F.col("r2") * F.col("r2"))
            .otherwise(F.lit(0))
        ).alias("sr22"),
    ).where(
        (F.col("nx") >= int(min_days)) & (F.col("ny") >= int(min_days))
    )
    np1 = F.col("nx") + F.col("ny") + F.lit(1)
    j = g.select(
        "m", "nx", "ny",
        (F.col("sr22") - F.lit(2) * np1 * F.col("sr2")
         + F.col("ny") * np1 * np1).alias("m4"),
    )
    nx, ny = F.col("nx").cast("double"), F.col("ny").cast("double")
    nn = nx + ny
    e_m = ny * (nn * nn - F.lit(1.0)) / F.lit(12.0)
    var_m = (
        nx * ny * (nn + F.lit(1.0)) * (nn * nn - F.lit(4.0))
        / F.lit(180.0)
    )
    z = F.when(
        var_m > 0,
        (F.col("m4").cast("double") / F.lit(4.0) - e_m) / F.sqrt(var_m),
    )
    return j.select(
        F.col("m").alias("metric"),
        F.col("nx").cast("long").alias("n_weekday"),
        F.col("ny").cast("long").alias("n_weekend"),
        F.col("m4").cast("long").alias("m4_stat"),
        F.round(z, 6).alias("z"),
    )
