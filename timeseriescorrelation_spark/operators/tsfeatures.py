"""Complexity / information features over the hourly aggregate grid:
permutation entropy, sample entropy, Hjorth parameters, and the
tsfresh-style nonlinearity trio (CID-CE, c3, time-reversal asymmetry).

These are the "is this series structured or noise?" features a
training-data pipeline computes per series to score, stratify, and
filter — the per-day fingerprint that separates a bursty agent loop
from organic traffic.

All four operators follow the engine's aggregate-first discipline
(same as operators/tsdiag.py): the raw scan collapses to
|metrics|·|hours| rows in ONE map-side-combined hash aggregation
(exact integer cent sums via `exact.bucket_cents`), and every
feature after that runs over the tiny grid — per-(metric, day) frames
are ≤24 rows of aggregates, so the family is 100-TB-safe regardless
of raw turn count.

Exactness: `functions.exact` (ordinal patterns and template-match
counts are exact integers too).  The sample-entropy tolerance is an
INTEGER cent radius (not 0.2·σ in doubles) precisely so the |Δ| ≤ r
comparisons never tie-break in float space.

Sequence convention: features operate on the SEQUENCE of observed
hourly values ordered by hour_ts — a grid gap splices neighbours
(missing hour = missing, not zero), matching the reference's
normalized-dataset view; a dense-grid variant is one gapfill away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    bucket_cents,
    wide,
)


def permutation_entropy(series: DataFrame, key: str = "metric",
                        min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_pat, n_distinct, pe, pe_norm): permutation
    entropy (Bandt–Pompe 2002) of order m=3 per metric-day — Shannon
    entropy of the distribution of ordinal patterns of consecutive
    hourly triples, normalised by ln(3!) so 1.0 = white noise and
    0.0 = monotone.

    Pattern coding is pure integer comparison: the triple
    (a, b, c) = (y_t, y_{t+1}, y_{t+2}) maps to

        pat = 4·[a>b] + 2·[b>c] + [a>c]        (∈ {0..7}, 6 reachable)

    with ties resolved by ≤ (order of appearance — the Bandt–Pompe
    convention), so the code is deterministic in both engines with no
    rank function.  Entropy = ln(N) − Σ cnt·ln(cnt)/N over the exact
    integer pattern counts.

    Scale: grid agg → ≤24-row lead window per (metric, day) →
    hash-agg on (metric, day, pat) → hash-agg.  No shuffle grows
    with raw rows.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    w = Window.partitionBy(key, day).orderBy("hour_ts")
    t = h.select(
        F.col(key), day.alias("day_ts"),
        F.col("y").alias("a"),
        F.lead("y", 1).over(w).alias("b"),
        F.lead("y", 2).over(w).alias("c"),
    ).where(F.col("c").isNotNull())
    pat = (
        F.when(F.col("a") > F.col("b"), 4).otherwise(0)
        + F.when(F.col("b") > F.col("c"), 2).otherwise(0)
        + F.when(F.col("a") > F.col("c"), 1).otherwise(0)
    )
    per_pat = t.groupBy(key, "day_ts", pat.alias("pat")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    g = per_pat.groupBy(key, "day_ts").agg(
        F.sum("cnt").alias("n_pat"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")))
        .alias("slc"),
    ).where(F.col("n_pat") >= min_hours - 2)
    nd = F.col("n_pat").cast("double")
    pe = F.log(nd) - F.col("slc") / nd
    return g.select(
        key, "day_ts",
        F.col("n_pat").cast("long").alias("n_pat"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(pe, 6).alias("pe"),
        F.round(pe / F.log(F.lit(6.0)), 6).alias("pe_norm"),
    )


def sample_entropy(series: DataFrame, key: str = "metric", r_cents: int = 500,
                   min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, b_m, a_m1, sampen): sample entropy
    (Richman–Moorman 2000) with template length m=2 and an INTEGER
    Chebyshev tolerance of `r_cents` per metric-day:

        B = #{i<j ≤ n−2 : |y_i−y_j| ≤ r ∧ |y_{i+1}−y_{j+1}| ≤ r}
        A = #{i<j ≤ n−2 : … ∧ |y_{i+2}−y_{j+2}| ≤ r}
        SampEn = −ln(A/B)                (NULL when A or B is 0)

    Both counts run over the SAME template index range i ≤ n−(m+1)
    (the Richman–Moorman convention), so A/B is a true conditional
    probability and a constant series reports SampEn = 0 exactly.

    The classical r = 0.2·σ is replaced by a fixed integer cent
    radius so the ≤ comparisons are exact in both engines — a
    float-σ radius would tie-break in double space on the boundary.
    (Callers wanting adaptive r: compute σ once and pass a rounded
    integer.)

    Scale: the template match is an O(n²)-per-group self-join with n
    ≤ 24 (hours per metric-day) — ≤276 pairs per group, the same
    bounded-quadratic budget as mann_kendall; groups shuffle once.
    For unbounded n, permutation_entropy is the O(n) scale path.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    w = Window.partitionBy(key, day).orderBy("hour_ts")
    t = h.select(
        F.col(key), day.alias("day_ts"),
        F.row_number().over(w).alias("i"),
        F.col("y").alias("v0"),
        F.lead("y", 1).over(w).alias("v1"),
        F.lead("y", 2).over(w).alias("v2"),
    )
    n_per = t.groupBy(key, "day_ts").agg(
        F.count(F.lit(1)).alias("n_hours")
    ).where(F.col("n_hours") >= min_hours)
    a = t.select(F.col(key), "day_ts", F.col("i").alias("ii"),
                 F.col("v0").alias("x0"), F.col("v1").alias("x1"),
                 F.col("v2").alias("x2"))
    b = t.select(F.col(key), "day_ts", F.col("i").alias("jj"),
                 F.col("v0").alias("z0"), F.col("v1").alias("z1"),
                 F.col("v2").alias("z2"))
    r = F.lit(int(r_cents))
    pairs = a.join(b, [key, "day_ts"]).where(
        (F.col("ii") < F.col("jj"))
        & F.col("x2").isNotNull() & F.col("z2").isNotNull()
    )
    m_ok = (
        (F.abs(F.col("x0") - F.col("z0")) <= r)
        & (F.abs(F.col("x1") - F.col("z1")) <= r)
    )
    m1_ok = m_ok & (F.abs(F.col("x2") - F.col("z2")) <= r)
    g = pairs.groupBy(key, "day_ts").agg(
        F.sum(F.when(m_ok, 1).otherwise(0)).alias("b_m"),
        F.sum(F.when(m1_ok, 1).otherwise(0)).alias("a_m1"),
    )
    out = g.join(n_per, [key, "day_ts"])
    sampen = F.when(
        (F.col("a_m1") > 0) & (F.col("b_m") > 0),
        F.round(-F.log(
            F.col("a_m1").cast("double") / F.col("b_m").cast("double")
        ), 6),
    )
    return out.select(
        key, "day_ts", F.col("n_hours").cast("long").alias("n_hours"),
        F.col("b_m").cast("long").alias("b_m"),
        F.col("a_m1").cast("long").alias("a_m1"),
        sampen.alias("sampen"),
    )


def hjorth_params(series: DataFrame, key: str = "metric",
                  min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, activity, mobility, complexity):
    Hjorth descriptors (1970) of each metric's hourly cent-sum
    sequence per day — the EEG-era trio that summarises a series by
    the variance of itself and its first two differences:

        activity   = Var(y)
        mobility   = √(Var(Δy) / Var(y))
        complexity = √(Var(Δ²y) / Var(Δy)) / mobility

    Variances are population variances assembled from exact integer
    sums: Var = (n·Σx² − (Σx)²) / n², each level computed over its
    own support (n, n−1, n−2 rows).  Integer moments in
    decimal(38,0) / hugeint; the three doubles are one shared
    expression tree, 6 dp.  Activity is reported in natural value
    units² (÷ scale²) — mobility/complexity are scale-free ratios —
    keeping the rounded magnitude inside DuckDB's exact-round range
    (see complexity_stats docstring).

    Scale: grid agg → one ≤24-row lag window → hash-agg.
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    w = Window.partitionBy(key, day).orderBy("hour_ts")
    t = h.select(
        F.col(key), day.alias("day_ts"), F.col("y"),
        (F.col("y") - F.lag("y", 1).over(w)).alias("d1"),
        (F.col("y") - 2 * F.lag("y", 1).over(w)
         + F.lag("y", 2).over(w)).alias("d2"),
    )
    g = t.groupBy(key, "day_ts").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(wide("y")).alias("s0"),
        F.sum(wide("y") * wide("y")).alias("q0"),
        F.count("d1").alias("n1"),
        F.sum(wide("d1")).alias("s1"),
        F.sum(wide("d1") * wide("d1")).alias("q1"),
        F.count("d2").alias("n2"),
        F.sum(wide("d2")).alias("s2"),
        F.sum(wide("d2") * wide("d2")).alias("q2"),
    ).where(F.col("n0") >= min_hours)

    def var(n, s, q):
        nd = F.col(n).cast("double")
        return (
            nd * F.col(q).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double")
        ) / (nd * nd)

    v0, v1, v2 = var("n0", "s0", "q0"), var("n1", "s1", "q1"), \
        var("n2", "s2", "q2")
    # degeneracy guards on the exact INTEGER numerators (n·Σx²−(Σx)²):
    # Var(y)=0 (constant day) ⇒ mobility undefined ⇒ NULL;
    # Var(Δy)=0 (pure trend)  ⇒ mobility 0, complexity NULL.
    num0 = (wide("n0") * wide("q0")
            - F.col("s0") * F.col("s0"))
    num1 = (wide("n1") * wide("q1")
            - F.col("s1") * F.col("s1"))
    mob = F.sqrt(v1 / v0)
    return g.select(
        key, "day_ts", F.col("n0").cast("long").alias("n_hours"),
        F.round(v0 / F.lit(float(SCALE) * float(SCALE)), 6).alias("activity"),
        F.when(num0 > 0, F.round(mob, 6)).alias("mobility"),
        F.when(
            (num0 > 0) & (num1 > 0),
            F.round(F.sqrt(v2 / v1) / mob, 6),
        ).alias("complexity"),
    )


def complexity_stats(series: DataFrame, key: str = "metric",
                     min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, cid_ce, cid_norm, c3, trev): the
    tsfresh nonlinearity trio per metric-day over the hourly grid:

        cid_ce  = √(Σ (Δy)²)           — complexity-invariant
                   distance kernel (Batista 2014); cid_norm divides
                   by population σ so it reads "wiggles per unit
                   amplitude"
        c3      = mean(y_t · y_{t+1} · y_{t+2})   — third-order
                   autocovariance proxy (Schreiber–Schmitz 1997),
                   over the n−2 complete triples
        trev    = mean(y_{t+1}²·y_t − y_t²·y_{t+1}) — time-reversal
                   asymmetry, 0 in expectation for reversible series

    Products of three cent values fit decimal(38,0)/hugeint until
    |y| ≈ 10¹², loud ANSI overflow beyond.  One shared double tree,
    6 dp.  Scale: grid agg → ≤24-row lead window → hash-agg.

    Outputs are reported in NATURAL value units (cents ÷ the kit's
    SCALE = 10^VALUE_DECIMALS): cid_ce ÷ SCALE, c3/trev ÷ SCALE³.
    This is not cosmetic — DuckDB's round(x, 6) on doubles ≳ 2³³
    is lossy (it detours through x·10⁶ which overflows exact double
    space) while Spark's BigDecimal round is exact, so 6-dp-rounded
    cent-cubed magnitudes (~10¹²⁺) disagree at the ulp.  Unit-scaled
    values stay comfortably inside the exact-round range in both
    engines (measured: duckdb round(9876543210987.555, 6) →
    …987.557).
    """
    h = bucket_cents(series, [key], "hour")
    day = F.date_trunc("day", "hour_ts")
    w = Window.partitionBy(key, day).orderBy("hour_ts")
    t = h.select(
        F.col(key), day.alias("day_ts"), F.col("y").alias("a"),
        F.lead("y", 1).over(w).alias("b"),
        F.lead("y", 2).over(w).alias("c"),
    )
    g = t.groupBy(key, "day_ts").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(wide("a")).alias("s"),
        F.sum(wide("a") * wide("a")).alias("q"),
        F.sum(
            wide(F.col("b") - F.col("a")) * wide(F.col("b") - F.col("a"))
        ).alias("dq"),
        F.count(F.col("c")).alias("n3"),
        F.sum(wide("a") * wide("b") * wide("c")).alias("p3"),
        F.sum(
            wide("b") * wide("b") * wide("a")
            - wide("a") * wide("a") * wide("b")
        ).alias("tr"),
    ).where(F.col("n_hours") >= min_hours)
    nd = F.col("n_hours").cast("double")
    var = (nd * F.col("q").cast("double")
           - F.col("s").cast("double") * F.col("s").cast("double")) \
        / (nd * nd)
    cid = F.sqrt(F.col("dq").cast("double"))
    n1d = nd - F.lit(1.0)
    n3d = F.col("n3").cast("double")
    cube = F.lit(float(SCALE) ** 3)
    # σ = 0 (constant day) ⇒ cid_norm undefined ⇒ NULL — guard on
    # the exact integer numerator, never the double.
    vnum = (wide("n_hours") * wide("q")
            - F.col("s") * F.col("s"))
    return g.select(
        key, "day_ts", F.col("n_hours").cast("long").alias("n_hours"),
        F.round(cid / F.lit(float(SCALE)), 6).alias("cid_ce"),
        F.when(
            vnum > 0,
            F.round(cid / F.sqrt(var) / F.sqrt(n1d), 6),
        ).alias("cid_norm"),
        F.round(F.col("p3").cast("double") / n3d / cube, 6).alias("c3"),
        F.round(F.col("tr").cast("double") / n1d / cube, 6).alias("trev"),
    )
