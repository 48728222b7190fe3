"""Distribution-drift detectors: two-sample Kolmogorov–Smirnov
day-over-day, Shannon entropy of the event mix, and a Benford
first-digit conformance check.

These complete the engine's drift family — lm.source_drift is KL over
token distributions (categorical), ks_drift is the CONTINUOUS-value
counterpart (did the latency/length distribution shift shape, not just
mean — MAD and anomaly_1h only see location/scale), entropy watches
mix collapse (one event type swallowing the stream is how upstream
breakage usually presents), and Benford flags fabricated or clipped
numeric feeds.

Exactness discipline (all gate-oracle-able):
- KS: D = max|F_A − F_B| evaluated as max over the INTEGER numerator
  |cumA·nB − cumB·nA| — no float enters the max; one double division
  at the end.  Ties handled by a RANGE window frame (all rows of equal
  value accumulate before the ECDF is read), the textbook treatment.
- entropy/Benford: per-term doubles are snapped to integer micro-units
  BEFORE summation (round(x·10⁶) — the lm.py recipe, gate-proven), so
  group sums are exact integers and engines can't disagree on
  accumulation order.

Scale notes (100 TB): ks_drift shuffles each metric-day's values twice
(once as "today", once as "yesterday's baseline") and sorts within
(metric, day) groups — O(n log n) per group, groups day-bounded;
entropy and Benford collapse map-side to |days|·|types| and
|metrics|·9 rows respectively before any shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    snap,
)

M = 1_000_000

# Benford expected first-digit probabilities log10(1 + 1/d), hardcoded
# so no cross-engine log10 enters the oracle comparison.
BENFORD_P = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def ks_drift_daily(series: DataFrame, keys: list[str] | None = None,
                   min_n: int = 8) -> DataFrame:
    """(keys..., day_ts, n_prev, n_cur, d_num, d_stat): two-sample KS
    statistic between each (key, day)'s value distribution and the
    SAME key's previous calendar day.

    d_num is the exact integer max|cumA·nB − cumB·nA|; d_stat is the
    usual D = d_num/(nA·nB).  Days without a previous-day sample (or
    with fewer than min_n points on either side) are dropped — a
    1-point baseline is not a distribution."""
    keys = keys or ["metric"]
    pt = series.select(
        *keys,
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    cur = pt.select(*keys, "day_ts", "c", F.lit(1).alias("is_b"))
    prev = pt.select(
        *keys,
        (F.col("day_ts") + F.expr("INTERVAL 1 DAY")).alias("day_ts"),
        "c",
        F.lit(0).alias("is_b"),
    )
    u = cur.unionByName(prev)
    # RANGE frame on the value: every row of an equal value is inside
    # the frame before the ECDF difference is read — exact tie
    # handling, identical in the oracle's RANGE window.
    wv = (
        Window.partitionBy(*keys, "day_ts")
        .orderBy("c")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys, "day_ts")
    e = u.select(
        *keys, "day_ts",
        F.sum(1 - F.col("is_b")).over(wv).alias("cum_a"),
        F.sum("is_b").over(wv).alias("cum_b"),
        F.sum(1 - F.col("is_b")).over(wall).alias("n_a"),
        F.sum("is_b").over(wall).alias("n_b"),
    )
    g = e.groupBy(*keys, "day_ts").agg(
        F.max(
            F.abs(
                F.col("cum_a") * F.col("n_b")
                - F.col("cum_b") * F.col("n_a")
            )
        ).alias("d_num"),
        F.max("n_a").alias("n_prev"),
        F.max("n_b").alias("n_cur"),
    )
    return g.where(
        (F.col("n_prev") >= int(min_n)) & (F.col("n_cur") >= int(min_n))
    ).select(
        *keys, "day_ts",
        F.col("n_prev").cast("long").alias("n_prev"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.col("d_num").cast("long").alias("d_num"),
        F.round(
            F.col("d_num").cast("double")
            / (F.col("n_prev") * F.col("n_cur")).cast("double"),
            6,
        ).alias("d_stat"),
    )


def entropy_daily(events: DataFrame) -> DataFrame:
    """(day_ts, n, n_types, entropy_nats): Shannon entropy of the
    categorical mix per day via H = ln(n) − (Σ c·ln c)/n — each
    c·ln(c) term micro-nat-snapped before the sum, so the only
    engine-variable float op is one ln of an exact integer per
    DISTINCT type (micro-rounding absorbs the ulp)."""
    cnt = events.groupBy(
        F.date_trunc("day", "ts").alias("day_ts"),
        F.col("event_type").alias("cat"),
    ).agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c").cast("double")
    term_u = snap(c * F.log(c), 6)
    g = cnt.groupBy("day_ts").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(term_u).alias("sum_u"),
    )
    h = (
        F.log(F.col("n").cast("double"))
        - F.col("sum_u").cast("double")
        / F.lit(float(M))
        / F.col("n").cast("double")
    )
    return g.select(
        "day_ts",
        F.col("n").cast("long").alias("n"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(h, 6).alias("entropy_nats"),
    )


def benford_check(series: DataFrame, keys: list[str] | None = None,
                  min_n: int = 50) -> DataFrame:
    """(keys..., n, chi2): Pearson χ² of the first-significant-digit
    distribution of |value| against Benford's law, per key.  The digit
    is read from the DECIMAL STRING of the cent-snapped integer —
    never from log10/pow, whose last-ulp at decade boundaries differs
    across libms and would flip digits between engines.  Zero-valued
    cents carry no leading digit and are excluded (standard).  All 9
    digits contribute (missing digits count as observed-zero cells);
    χ² terms are micro-snapped before the sum.  χ²(8 dof) > 20.1 is
    the usual 99% nonconformance call, left to the reader."""
    keys = keys or ["metric"]
    c = snap(F.abs(F.col("value")), VALUE_DECIMALS)
    d = series.select(
        *keys, c.alias("c")
    ).where(F.col("c") > 0).select(
        *keys,
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d"),
    )
    obs = d.groupBy(*keys, "d").agg(F.count(F.lit(1)).alias("o"))
    tot = d.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    digits = tot.sparkSession.createDataFrame(
        [(i + 1, p) for i, p in enumerate(BENFORD_P)], "d int, p double"
    )
    grid = tot.crossJoin(F.broadcast(digits)).join(
        obs, [*keys, "d"], "left"
    ).select(
        *keys, "n", "d", "p",
        F.coalesce(F.col("o"), F.lit(0)).alias("o"),
    )
    exp = F.col("n").cast("double") * F.col("p")
    dev = F.col("o").cast("double") - exp
    term_u = snap(dev * dev / exp, 6)
    g = grid.groupBy(*keys).agg(
        F.max("n").alias("n"), F.sum(term_u).alias("chi2_u")
    )
    return g.where(F.col("n") >= int(min_n)).select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round(F.col("chi2_u").cast("double") / F.lit(float(M)), 6).alias(
            "chi2"
        ),
    )


def psi_daily(series: DataFrame, keys: list[str] | None = None,
              n_bins: int = 10) -> DataFrame:
    """Population Stability Index day-over-day per key — the industry
    drift score (credit-risk monitoring's standard): bin today's
    values by YESTERDAY's decile edges and compare proportions,

        PSI = Σ_bins (p_today − p_base) · ln(p_today / p_base)

    with Laplace(+1) smoothing on the integer bin counts so empty bins
    are defined (p_i = (c_i + 1)/(n + B) on both sides) — the same
    role ks_drift's rank statistic plays, but in the bucketed form
    monitoring dashboards expect, with a conventional severity scale
    (< 0.1 stable, 0.1–0.25 moderate, > 0.25 major).

    Exactness: edges are exact interpolated percentiles on cent ints
    (the mad_outliers contract); bin assignment is an IN-ROW fold over
    the 9-edge array (strict >, ties go left — both engines share the
    rule); each bin term's ln() sees ONE ratio of exact integers
    ((c_p+1)·(n_q+B)) / ((c_q+1)·(n_p+B)) and the term is snapped to
    integer micro-units before summation (lm.py recipe), so the group
    sum is exact.  Output (keys..., day_ts, psi_u, n_today, n_base).

    Scale notes (100 TB): two hash-aggs over cent values (edges +
    counts), one 1-day self-join of the TINY per-(key, day) edge/count
    tables (|keys|·|days|·B rows), never a raw-row self-join; the
    only per-row work is the in-row edge fold."""
    keys = keys or ["metric"]
    b = int(n_bins)
    pcts = [i / b for i in range(1, b)]
    v = series.select(
        *keys,
        F.date_trunc("day", "ts").alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("_v"),
    )
    edges = v.groupBy(*keys, "day_ts").agg(
        F.percentile("_v", F.lit(pcts).cast("array<double>")).alias("_edges")
    )
    # bin id = 1 + #edges strictly below the value (ties go left)
    def _binned(vals, edge_day_offset):
        e = edges.select(
            *keys,
            (F.col("day_ts") + F.expr(f"interval {edge_day_offset} days")
             ).alias("day_ts"),
            "_edges",
        )
        j = vals.join(F.broadcast(e), [*keys, "day_ts"])
        bin_id = F.lit(1) + F.aggregate(
            "_edges",
            F.lit(0),
            lambda acc, ed: acc
            + F.when(F.col("_v") > ed, F.lit(1)).otherwise(F.lit(0)),
        )
        return j.groupBy(*keys, "day_ts", bin_id.alias("bin")).agg(
            F.count(F.lit(1)).alias("c")
        )
    cur = _binned(v, 1)     # today's values vs yesterday's edges
    base = _binned(v, 0)    # yesterday's values vs its own edges
    base = base.select(
        *keys,
        (F.col("day_ts") + F.expr("interval 1 day")).alias("day_ts"),
        "bin",
        F.col("c").alias("c_b"),
    )
    both = cur.withColumnRenamed("c", "c_t").join(
        base, [*keys, "day_ts", "bin"], "full_outer"
    ).select(
        *keys, "day_ts", "bin",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    tot = both.groupBy(*keys, "day_ts").agg(
        F.sum("c_t").alias("n_t"), F.sum("c_b").alias("n_b")
    )
    # drop day pairs with an empty side (first day has no baseline;
    # the full-outer already guarantees every bin row has both totals)
    jt = both.join(tot, [*keys, "day_ts"]).where(
        (F.col("n_t") > 0) & (F.col("n_b") > 0)
    )
    p_num = (F.col("c_t") + 1).cast("double") / (F.col("n_t") + b).cast("double")
    q_num = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + b).cast("double")
    lnr = F.log(
        ((F.col("c_t") + 1) * (F.col("n_b") + b)).cast("double")
        / ((F.col("c_b") + 1) * (F.col("n_t") + b)).cast("double")
    )
    term_u = snap((p_num - q_num) * lnr, 6)
    return (
        jt.select(*keys, "day_ts", "n_t", "n_b", term_u.alias("_t"))
        .groupBy(*keys, "day_ts")
        .agg(
            F.sum("_t").cast("long").alias("psi_u"),
            F.max("n_t").cast("long").alias("n_today"),
            F.max("n_b").cast("long").alias("n_base"),
        )
    )


def js_drift_daily(series: DataFrame, keys: list[str] | None = None,
                   n_bins: int = 10) -> DataFrame:
    """Jensen–Shannon divergence day-over-day per key — PSI's bounded,
    symmetric sibling (JS ∈ [0, ln 2] nats; PSI is unbounded and blows
    up on near-empty bins even smoothed).  Both days' values are
    binned by YESTERDAY's decile edges (psi_daily's binning, so the
    two scores are comparable on identical buckets), then

        JS = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),   m = (p + q)/2

    with p = a_i/A, q = b_i/B over raw integer bin counts — no Laplace
    smoothing needed because 0·ln(0) = 0 is JS's own convention and m
    > 0 whenever the bin exists on either side.

    Exactness: both ln arguments reduce to ONE ratio of exact
    integers — p/m = 2·a_i·B / (a_i·B + b_i·A) and symmetrically for
    q/m — and the combined per-bin term is snapped to integer
    micro-nats before summation (lm.py recipe).  Output
    (keys..., day_ts, js_u, js_nats, n_today, n_base).

    Scale notes: identical shape to psi_daily — two hash-aggs plus a
    1-day self-join of |keys|·|days|·B rows; per-row work is the
    in-row 9-edge fold."""
    keys = keys or ["metric"]
    b = int(n_bins)
    pcts = [i / b for i in range(1, b)]
    v = series.select(
        *keys,
        F.date_trunc("day", "ts").alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("_v"),
    )
    edges = v.groupBy(*keys, "day_ts").agg(
        F.percentile("_v", F.lit(pcts).cast("array<double>")).alias("_edges")
    )

    def _binned(edge_day_offset):
        e = edges.select(
            *keys,
            (F.col("day_ts") + F.expr(f"interval {edge_day_offset} days")
             ).alias("day_ts"),
            "_edges",
        )
        j = v.join(F.broadcast(e), [*keys, "day_ts"])
        bin_id = F.lit(1) + F.aggregate(
            "_edges",
            F.lit(0),
            lambda acc, ed: acc
            + F.when(F.col("_v") > ed, F.lit(1)).otherwise(F.lit(0)),
        )
        return j.groupBy(*keys, "day_ts", bin_id.alias("bin")).agg(
            F.count(F.lit(1)).alias("c")
        )

    cur = _binned(1)      # today's values vs yesterday's edges
    base = _binned(0)     # yesterday's values vs its own edges
    base = base.select(
        *keys,
        (F.col("day_ts") + F.expr("interval 1 day")).alias("day_ts"),
        "bin",
        F.col("c").alias("c_b"),
    )
    both = cur.withColumnRenamed("c", "c_t").join(
        base, [*keys, "day_ts", "bin"], "full_outer"
    ).select(
        *keys, "day_ts", "bin",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    tot = both.groupBy(*keys, "day_ts").agg(
        F.sum("c_t").alias("n_t"), F.sum("c_b").alias("n_b")
    )
    jt = both.join(tot, [*keys, "day_ts"]).where(
        (F.col("n_t") > 0) & (F.col("n_b") > 0)
    )
    # mix denominator a·B + b·A is shared by both ln arguments
    mix = (F.col("c_t") * F.col("n_b") + F.col("c_b") * F.col("n_t"))
    t_p = F.when(
        F.col("c_t") > 0,
        F.col("c_t").cast("double") / F.col("n_t").cast("double")
        * F.log((2 * F.col("c_t") * F.col("n_b")).cast("double")
                / mix.cast("double")),
    ).otherwise(F.lit(0.0))
    t_q = F.when(
        F.col("c_b") > 0,
        F.col("c_b").cast("double") / F.col("n_b").cast("double")
        * F.log((2 * F.col("c_b") * F.col("n_t")).cast("double")
                / mix.cast("double")),
    ).otherwise(F.lit(0.0))
    term_u = snap((t_p + t_q) / 2, 6)
    return (
        jt.select(*keys, "day_ts", "n_t", "n_b", term_u.alias("_t"))
        .groupBy(*keys, "day_ts")
        .agg(
            F.sum("_t").cast("long").alias("js_u"),
            F.max("n_t").cast("long").alias("n_today"),
            F.max("n_b").cast("long").alias("n_base"),
        )
        .withColumn(
            "js_nats", F.round(F.col("js_u").cast("double") / F.lit(float(M)),
                               6)
        )
    )


def emd_drift_daily(series: DataFrame, keys: list[str] | None = None,
                    n_bins: int = 10) -> DataFrame:
    """Earth mover's distance day-over-day per key on yesterday's-decile
    bins — the TRANSPORT-cost member of the drift family (PSI/JS score
    density ratios per bin and are blind to WHERE mass moved; KS takes
    one max; EMD charges each unit of probability by how many bins it
    travelled, so a one-bin shimmer and a nine-bin exodus finally
    separate).  For 1-D histograms over B equal-population bins,

        EMD = (1/B) · Σ_{i<B} |CumP_i − CumQ_i|

    and every |·| term is EXACT: |cum_ct·n_b − cum_cb·n_t| is integer
    (cumulative bin counts cross-multiplied by the day totals), summed
    exactly, with ONE double divide by n_t·n_b·B at the end — no
    smoothing, no per-term snapping needed (contrast psi/js whose ln()
    forces micro-snapping).  Output: (keys..., day_ts, emd, n_today,
    n_base); emd ∈ [0, 1−1/B], rounded 6dp.

    Scale notes: identical shape to psi_daily — two hash-aggs on cent
    values, a 1-day self-join of |keys|·|days|·B metadata rows, one
    cumulative window over B bins per (key, day)."""
    keys = keys or ["metric"]
    b = int(n_bins)
    pcts = [i / b for i in range(1, b)]
    v = series.select(
        *keys,
        F.date_trunc("day", "ts").alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("_v"),
    )
    edges = v.groupBy(*keys, "day_ts").agg(
        F.percentile("_v", F.lit(pcts).cast("array<double>")).alias("_edges")
    )

    def _binned(edge_day_offset):
        e = edges.select(
            *keys,
            (F.col("day_ts") + F.expr(f"interval {edge_day_offset} days")
             ).alias("day_ts"),
            "_edges",
        )
        j = v.join(F.broadcast(e), [*keys, "day_ts"])
        bin_id = F.lit(1) + F.aggregate(
            "_edges",
            F.lit(0),
            lambda acc, ed: acc
            + F.when(F.col("_v") > ed, F.lit(1)).otherwise(F.lit(0)),
        )
        return j.groupBy(*keys, "day_ts", bin_id.alias("bin")).agg(
            F.count(F.lit(1)).alias("c")
        )

    cur = _binned(1)
    base = _binned(0).select(
        *keys,
        (F.col("day_ts") + F.expr("interval 1 day")).alias("day_ts"),
        "bin",
        F.col("c").alias("c_b"),
    )
    both = cur.withColumnRenamed("c", "c_t").join(
        base, [*keys, "day_ts", "bin"], "full_outer"
    ).select(
        *keys, "day_ts", "bin",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    tot = both.groupBy(*keys, "day_ts").agg(
        F.sum("c_t").alias("n_t"), F.sum("c_b").alias("n_b")
    )
    # densify to ALL B bins: a bin empty on BOTH days still carries
    # the previous cum's |difference| — skipping it undercounts EMD
    grid = tot.where(
        (F.col("n_t") > 0) & (F.col("n_b") > 0)
    ).select(
        *keys, "day_ts", "n_t", "n_b",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("bin"),
    )
    jt = grid.join(both, [*keys, "day_ts", "bin"], "left").select(
        *keys, "day_ts", "bin", "n_t", "n_b",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    w = (
        Window.partitionBy(*keys, "day_ts")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = jt.select(
        *keys, "day_ts", "bin", "n_t", "n_b",
        F.abs(
            F.sum("c_t").over(w) * F.col("n_b")
            - F.sum("c_b").over(w) * F.col("n_t")
        ).alias("_num"),
    )
    return cums.groupBy(*keys, "day_ts").agg(
        F.round(
            F.sum(F.when(F.col("bin") < b, F.col("_num")).otherwise(0))
            .cast("double")
            / (F.max("n_t") * F.max("n_b") * b).cast("double"),
            6,
        ).alias("emd"),
        F.max("n_t").cast("long").alias("n_today"),
        F.max("n_b").cast("long").alias("n_base"),
    )


def psi_fixed_hourly(series: DataFrame, edges: list[float],
                     keys: list[str] | None = None) -> DataFrame:
    """Expanding PSI against a FIXED reference histogram, one row per
    (keys..., hour-with-data): the population-stability score of ALL
    values seen up to and including that hour, binned on the given
    edge list, against the uniform reference those edges were built
    from (B = len(edges)+1 equal-mass bins).  This is the ONLINE drift
    monitor's exact batch semantics — streaming/psi_stream.py carries
    the same cumulative bin counts as int64 state and emits BIT-EQUAL
    rows at hour closures.

    psi = Σ_b (p_b − 1/B)·ln(B·p_b),  p_b = c'_b/n,  c' = max(c, 1)
    (the standard ε-floor so empty bins don't produce ln 0; counts are
    exact cumulative ints, each bin term is micro-snapped before the
    10-term sum — engine addition order can't matter).

    Hours with no events emit nothing (their cumulative state equals
    the previous row's) — matching the stream, which only closes an
    hour when a later event arrives.

    Scale notes (100 TB): one hash-agg to (keys, hour, bin), then B
    fixed conditional cumulative sums over ONE per-key hour-ordered
    window — never a per-bin join or a dense grid."""
    keys = keys or ["metric"]
    b_n = len(edges) + 1
    edges_c = [int(round(e * SCALE)) for e in edges]
    v = snap("value", VALUE_DECIMALS)
    bin_id = F.lit(1)
    for e in edges_c:
        bin_id = bin_id + F.when(v > e, 1).otherwise(0)
    hb = series.select(
        *keys,
        F.date_trunc("hour", "ts").alias("hour_ts"),
        bin_id.alias("bin"),
    ).groupBy(*keys, "hour_ts", "bin").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy(*keys)
        .orderBy("hour_ts")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cums = [
        F.sum(F.when(F.col("bin") == i, F.col("c")).otherwise(0))
        .over(w).alias(f"c{i}")
        for i in range(1, b_n + 1)
    ]
    per_hour = (
        hb.select(*keys, "hour_ts", "bin", "c", *cums)
        .groupBy(*keys, "hour_ts")
        .agg(*[F.max(f"c{i}").alias(f"c{i}") for i in range(1, b_n + 1)])
    )
    n = sum(F.col(f"c{i}") for i in range(1, b_n + 1))
    terms = []
    for i in range(1, b_n + 1):
        cp = F.greatest(F.col(f"c{i}"), F.lit(1)).cast("double")
        nd = F.col("_n").cast("double")
        t = (
            (F.lit(b_n) * cp - nd) / (F.lit(b_n) * nd)
        ) * F.log(F.lit(b_n) * cp / nd)
        terms.append(snap(t, 6))
    out = per_hour.withColumn("_n", n)
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return out.select(
        *keys, "hour_ts",
        F.col("_n").cast("long").alias("n_total"),
        (total.cast("double") / F.lit(1e6)).alias("psi"),
    )
