"""Activity-shape operators over transcript event streams: exact
trailing-window distinct actors, inter-arrival burstiness, and
frequency-weighted medians.

Reference parity: the reference's normalization stage summarizes each
series' activity profile before pruning (BASELINE.json:6 "dataset
normalization"); these operators are that profile family re-expressed
as Spark aggregates over the transcript table (BASELINE.json:15).

Exactness: `functions.exact` (integer microsecond gaps are the snapped
units here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import epoch_us


def trailing_distinct(events: DataFrame, keys: list[str] | None = None,
                      window_hours: int = 24) -> DataFrame:
    """Exact count of distinct actors active in the trailing
    `window_hours` hours, reported for every hour a window covers —
    (keys..., bucket_ts, n_active).

    The exact counterpart of the trailing HLL rollup
    (sketches.hll_trailing): same window semantics, exact distinct.

    Scale notes (100 TB): NO range join and NO per-hour re-scan.  The
    raw scan collapses to distinct (keys, actor, hour) tuples first
    (one hash-agg with map-side partial dedup); each tuple then
    explodes into the ≤`window_hours` buckets it contributes to
    (linear ×W row growth on the already-collapsed tuples, not the raw
    events); one final count-distinct shuffle keyed (keys, bucket).
    Bucket skew is bounded by true actor cardinality per window.
    Buckets are clipped at the global max event hour ("now"), so no
    phantom future buckets; the 1-row max side is broadcast.
    """
    keys = keys or ["metric"]
    hour = F.date_trunc("hour", F.col("ts"))
    pairs = (
        events.select(*keys, F.col("conv_id").alias("_actor"),
                      hour.alias("_h"))
        .distinct()
    )
    now = events.agg(F.max(hour).alias("_mx"))
    exploded = (
        pairs.join(F.broadcast(now))
        .select(
            *keys, "_actor",
            F.explode(
                F.sequence(
                    F.col("_h"),
                    F.least(
                        F.col("_h")
                        + F.expr(f"INTERVAL {window_hours - 1} HOURS"),
                        F.col("_mx"),
                    ),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("bucket_ts"),
        )
    )
    return (
        exploded.groupBy(*keys, "bucket_ts")
        .agg(F.countDistinct("_actor").alias("n_active"))
    )


def burstiness_daily(series: DataFrame,
                     keys: list[str] | None = None) -> DataFrame:
    """Inter-arrival burstiness per (keys..., day): Goh–Barabási
    B = (σ−μ)/(σ+μ) over within-series gap lengths, plus the mean gap
    and coefficient of variation.  B → −1 for metronome streams,
    0 for Poisson, → +1 for heavy-tailed bursty streams — the
    standard "is this agent idling or thrashing" triage stat.

    Gaps are integer microseconds between consecutive events of the
    same (series, keys) stream (stable (ts, ord) ordering per the
    per-turn invariant, BASELINE.json:15), assigned to the day of the
    LATER event.  μ and σ derive from exact integer sums: Σg as
    decimal(38,0), Σg² as decimal (gaps up to a day square to ~7.5e21,
    past int64 — cast BEFORE multiply), Var = (nΣg² − (Σg)²)/n² as a
    double division of two exact integers.  Zero-gap-only groups
    (σ+μ = 0) yield NULL, not NaN.

    Scale notes: one window (partitioned by the series key — no global
    sort) + one hash agg keyed (keys, day); partial aggregation
    map-side; decimal(38,0) holds Σg² for ~1e16 gaps per group.
    """
    keys = keys or ["metric"]
    w = Window.partitionBy("conv_id", *keys).orderBy(
        epoch_us(F.col("ts")), "turn_idx"
    )
    us = epoch_us(F.col("ts"))
    g = (
        series.select(
            *keys, "conv_id",
            F.date_trunc("day", F.col("ts")).alias("day_ts"),
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    agg = g.groupBy(*keys, "day_ts").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        wide(F.sum("gap_us")).alias("sg"),
        F.sum(wide("gap_us") * wide("gap_us")).alias("sgg"),
    )
    n = F.col("n_gaps")
    mu = F.col("sg").cast("double") / n.cast("double")
    vnum = n * F.col("sgg") - F.col("sg") * F.col("sg")
    sigma = F.sqrt(vnum.cast("double") / (n * n).cast("double"))
    return agg.select(
        *keys, "day_ts", "n_gaps",
        F.round(mu / 1e6, 6).alias("mean_gap_s"),
        F.when(sigma + mu > 0,
               F.round((sigma - mu) / (sigma + mu), 6)).alias("burstiness"),
        F.when(mu > 0, F.round(sigma / mu, 6)).alias("cv"),
    )


def weighted_median(grouped: DataFrame, keys: list[str],
                    value_col: str) -> DataFrame:
    """Weighted median by the cumulative-weight rule: the smallest
    value v whose running weight `w` (ordered by value) reaches half the
    total — (keys..., n_items, total_w, w_median).

    Integer weights keep the pick exact: the condition is
    2·cumw ≥ W_total compared in int64, so no float threshold ever
    decides an element.  Ties on value are broken by the remaining
    projected columns for a stable cumsum order.

    Scale notes: the window is partitioned by `keys` — exact weighted
    quantiles need a per-key value ordering, so a key whose item count
    is huge serializes on one reducer.  For 100 TB-wide keys compose
    the fixed-precision bucketing of analytics.quantiles_bucketed
    (bucket → cum bucket weights → exact within the straddling bucket)
    — same rule, bounded partitions.  Here keys are low-cardinality
    metrics over per-conv aggregates, which is the exact tool's lane.
    """
    other = [c for c in grouped.columns
             if c not in (*keys, value_col, "w")]
    wsort = Window.partitionBy(*keys).orderBy(value_col, *other)
    wall = Window.partitionBy(*keys)
    ranked = grouped.select(
        *keys, value_col, "w",
        F.sum("w").over(
            wsort.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cumw"),
        F.sum("w").over(wall).alias("total_w"),
        F.count(F.lit(1)).over(wall).alias("n_items"),
        F.row_number().over(wsort).alias("_rn"),
    )
    hit = ranked.where(2 * F.col("_cumw") >= F.col("total_w"))
    wpick = Window.partitionBy(*keys).orderBy("_rn")
    return (
        hit.select(
            *keys, "n_items", "total_w",
            F.col(value_col).alias("_v"),
            F.row_number().over(wpick).alias("_first"),
        )
        .where(F.col("_first") == 1)
        .select(*keys, "n_items", "total_w",
                F.round("_v", 6).alias("w_median"))
    )


def sax_motifs(sax: DataFrame, keys: list[str] | None = None,
               min_len: int = 24) -> DataFrame:
    """Recurring-shape census over SAX words (sax.sax_daily output):
    full-length words seen on ≥2 series-days —
    (sax_word, n_occ, n_series, first_day, last_day).

    This is motif mining by symbolic collision (Lin/Keogh SAX, DMKD
    2007 §6): identical words ⇒ near-identical z-normalized daily
    shapes.  A census (GROUP BY word), not a pair join — output is
    linear in distinct words, never quadratic in days, which is what
    makes it the 100 TB-safe first stage; downstream can equi-join
    days on sax_word to materialize actual motif pairs for only the
    words this census surfaces.
    """
    keys = keys or ["metric"]
    full = sax.where(
        F.col("sax_word").isNotNull() & (F.col("n_hours") >= min_len)
    )
    first_key = keys[0]
    return (
        full.groupBy("sax_word")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct(first_key).alias("n_series"),
            F.min("day_ts").alias("first_day"),
            F.max("day_ts").alias("last_day"),
        )
        .where(F.col("n_occ") >= 2)
    )


def decayed_leaderboard(series: DataFrame, keys: list[str] | None = None,
                        half_life_s: float = 86400.0,
                        top_k: int = 10) -> DataFrame:
    """Exponentially time-decayed top-k per key: each event contributes
    value · 2^(−Δt/half_life) with Δt measured back from the table's
    own max timestamp ("now", broadcast 1-row side) — the standard
    trending/leaderboard score where yesterday counts half of today.
    Output (keys..., rank, series, score).

    Cross-engine determinism: Δt is exact integer µs; the exponent is
    ONE double division by a literal; the per-event term is snapped to
    CENTI-cent units before summation (round(c·2^x·100) as int64), so
    the only cross-engine float is pow(2, x).  Margin: a 1-ulp pow
    disagreement moves the term by ≲1e-16·|term| ≤ 5e-8 centi-cents —
    five orders below the 0.5 rounding boundary, so the int64 sums
    (and therefore ranks) match bit-for-bit.  Same measured-margin
    policy as bm25.py's fixed-point scores.

    Scale notes: one hash-agg keyed (keys, series) with map-side
    partial int64 sums; the rank window partitions by `keys` over the
    AGGREGATED per-series rows (bounded by series-per-key, not
    events), and Spark rewrites the rank≤k filter into
    WindowGroupLimit so only k rows per key survive the shuffle.
    """
    keys = keys or ["metric"]
    us = epoch_us(F.col("ts"))
    now = series.agg(F.max(us).alias("_now_us"))
    c = snap(F.col("value"), VALUE_DECIMALS)
    expo = (us - F.col("_now_us")).cast("double") / F.lit(
        float(half_life_s) * 1e6
    )
    term = snap(c.cast("double") * F.pow(F.lit(2.0), expo), 2)
    per = (
        series.join(F.broadcast(now))
        .select(*keys, F.col("conv_id").alias("series"),
                term.alias("t"))
        .groupBy(*keys, "series")
        .agg(F.sum("t").alias("score_cc"))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("score_cc").desc(), "series"
    )
    return (
        per.select(*keys, "series", "score_cc",
                   F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= top_k)
        .select(
            *keys, "rank", "series",
            F.round(
                F.col("score_cc").cast("double") / (100.0 * SCALE), 4
            ).alias("score"),
        )
    )


def conformal_pvalue(series: DataFrame, keys: list[str] | None = None,
                     window_days: int = 28, alpha: float = 0.05,
                     exact_cols: bool = False) -> DataFrame:
    """Conformal anomaly p-value per (keys..., day): the rank of
    today's daily mean among the trailing `window_days` daily means,
    p = (1 + #{prior days with mean ≥ today}) / (n_prior + 1) — the
    distribution-free alternative to z-score anomaly flags (exact
    finite-sample validity, no normality assumption).

    EXACT end to end: daily means are never materialized as floats —
    the comparison mean_b ≥ mean_a is the integer cross-multiply
    sc_b·n_a ≥ sc_a·n_b (n > 0 keeps the inequality direction), and
    p is one double division of two small ints.  A day with no prior
    window is p = 1 (never anomalous), not dropped.

    Scale notes: runs on the DAILY aggregate (|keys|·|days| rows — a
    metadata-sized table even for years of 10^12-turn data), so the
    range self-join is bounded by window_days per row; int64 cross-
    multiply holds to |sc| ≤ 9·10^13 per day-group (switch the two
    products to decimal(38,0) past that).
    """
    keys = keys or ["metric"]
    daily = series.groupBy(
        *keys, F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(F.col("value"), VALUE_DECIMALS)).alias("sc"),
    )
    a = daily.select(*keys, "day_ts", F.col("n").alias("na"),
                     F.col("sc").alias("sa"))
    b = daily.select(*keys, F.col("day_ts").alias("pday"),
                     F.col("n").alias("nb"), F.col("sc").alias("sb"))
    j = a.join(
        b,
        [*keys],
    ).where(
        (F.datediff(F.col("day_ts"), F.col("pday")) >= 1)
        & (F.datediff(F.col("day_ts"), F.col("pday"))
           <= int(window_days))
    )
    cnt = j.groupBy(*keys, "day_ts").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.sum(
            (F.col("sb") * F.col("na") >= F.col("sa") * F.col("nb"))
            .cast("long")
        ).alias("n_ge"),
    )
    # exact_cols=True additionally exposes the p-value's exact integer
    # numerator/denominator (p = p_num/p_den before any rounding) for
    # downstream all-integer procedures (bh_fdr) — default off so the
    # original output schema is unchanged
    extra = (
        [
            (F.lit(1) + F.coalesce("n_ge", F.lit(0)))
            .cast("long").alias("p_num"),
            (F.coalesce("n_prior", F.lit(0)) + F.lit(1))
            .cast("long").alias("p_den"),
        ]
        if exact_cols
        else []
    )
    out = a.join(cnt, [*keys, "day_ts"], "left").select(
        *keys, "day_ts",
        F.coalesce("n_prior", F.lit(0)).alias("n_prior"),
        F.round(
            (F.lit(1) + F.coalesce("n_ge", F.lit(0))).cast("double")
            / (F.coalesce("n_prior", F.lit(0)) + F.lit(1)).cast("double"),
            6,
        ).alias("p_value"),
        *extra,
    )
    return out.withColumn(
        "is_anomalous", F.col("p_value") <= F.lit(float(alpha))
    )


def bh_fdr(pvals: DataFrame, family_keys: list[str], q_num: int = 1,
           q_den: int = 10, order_cols: list[str] | None = None) -> DataFrame:
    """Benjamini–Hochberg step-up over EXACT rational p-values, one
    test family per distinct `family_keys` tuple: with the family's m
    p-values sorted ascending, reject ranks 1..i* where

        i* = max { i : p_(i) <= i/m * q },   q = q_num/q_den,

    i.e. every discovery's p-value sits under the rising BH line — the
    multiple-testing control that turns per-test p-values (e.g.
    conformal_pvalue's) into a defensible anomaly list when thousands
    of (metric, day) tests run every day (per-test alpha would page
    on noise alone at fleet scale).

    Exactness: p-values arrive as integer num/den pairs, the BH
    compare is the cross-multiply num·q_den·m <= i·q_num·den (int64 —
    bounded by den·m·q_den, metadata-sized here), and `rejected` is
    rank <= max passing rank.  The SORT is by the double num/den,
    which cannot misorder fractions whose denominators are small
    (conformal's den <= window+1: distinct fractions differ by
    >= 1/(den_max·(den_max−1)), ~12 orders above double rounding);
    ties in p are broken by `order_cols` for a deterministic rank,
    and the rejection SET is tie-order-invariant (equal p's pass or
    fail together at the group's max rank).

    Scale notes: three windows, all PARTITIONED by the family keys —
    families are independent, so the procedure parallelizes across
    them; within a family the input is the test list (|days| rows per
    metric here), never raw events."""
    order_cols = order_cols or []
    fam = Window.partitionBy(*family_keys)
    w = fam.orderBy(
        (F.col("p_num").cast("double") / F.col("p_den")).asc(),
        *[F.col(c).asc() for c in order_cols],
    )
    ranked = pvals.withColumn(
        "rank_i", F.row_number().over(w).cast("long")
    ).withColumn("m", F.count(F.lit(1)).over(fam).cast("long"))
    passing = ranked.withColumn(
        "_pass_rank",
        F.when(
            F.col("p_num") * F.lit(int(q_den)) * F.col("m")
            <= F.col("rank_i") * F.lit(int(q_num)) * F.col("p_den"),
            F.col("rank_i"),
        ),
    )
    return passing.withColumn(
        "rejected",
        F.col("rank_i")
        <= F.coalesce(F.max("_pass_rank").over(fam), F.lit(0)),
    ).drop("_pass_rank")


def gini_concentration(series: DataFrame, keys: list[str] | None = None,
                       trunc: str = "day") -> DataFrame:
    """Gini coefficient of per-actor activity within each (keys...,
    bucket) — "is this metric's volume spread across conversations or
    owned by a few whales?".  The distributional companion to
    key_skew_report: skew_report ranks the hot GROUPS, gini scores how
    unequal each group's internal actor mix is (0 = perfectly even,
    →1 = one actor owns everything), which is what decides whether the
    salted path is worth it BEFORE a shuffle ever runs hot.

    Over the ascending-sorted per-actor event counts c_(1) ≤ … ≤ c_(n)
    (ties broken by actor id — a full deterministic order, though G is
    tie-order-invariant because equal counts commute in Σ i·c_(i)):

        G = (2·Σ i·c_(i) − (n+1)·Σc) / (n·Σc)

    Exactness: numerator and denominator are exact integers
    (decimal(38,0) accumulation); ONE double divide at the end, 6-dp
    rounded — bit-identical cross-engine.  n = 1 gives G = 0 exactly.

    Scale notes (100 TB): the raw scan collapses map-side to one row
    per (keys, bucket, actor); the rank window partitions by (keys,
    bucket) — group size = actors per bucket, the same bound every
    per-bucket distinct pays.  No joins, no grids."""
    keys = keys or ["metric"]
    per_actor = series.groupBy(
        *keys,
        F.date_trunc(trunc, "ts").alias("bucket_ts"),
        F.col("conv_id").alias("_actor"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(*keys, "bucket_ts").orderBy("c", "_actor")
    ranked = per_actor.select(
        *keys, "bucket_ts", "c",
        F.row_number().over(w).alias("i"),
    )
    g = ranked.groupBy(*keys, "bucket_ts").agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(wide("c")).alias("s"),
        F.sum(wide("i") * wide("c")).alias("si"),
    )
    num = (2 * F.col("si") - (F.col("n") + 1) * F.col("s")).cast("double")
    den = (F.col("n") * F.col("s")).cast("double")
    return g.select(
        *keys, "bucket_ts",
        F.col("n").cast("long").alias("n_actors"),
        F.col("s").cast("long").alias("n_events"),
        F.round(num / den, 6).alias("gini"),
    )


def growth_accounting(events: DataFrame) -> DataFrame:
    """Daily growth accounting — the standard MAU-ledger decomposition:
    every active (actor, day) is exactly one of

        new         first day this actor ever appears
        retained    also active the previous calendar day
        resurrected active before, but not the previous day

    and churned(d) counts actors active on d−1 who did not return on d,
    so the ledger telescopes: active(d) − active(d−1)
    = new(d) + resurrected(d) − churned(d) (asserted in
    tests/test_activity.py).

    Output: (day_ts, n_active, n_new, n_retained, n_resurrected,
    n_churned), ordered by day only at the consumer.

    Shape: one distinct to (actor, day), one window per actor (lag of
    the actor's previous active day — NOT a calendar join, so idle
    stretches cost nothing), a day-level hash-agg, then churned joins
    the day ledger to itself shifted one day — |days| rows, broadcast.
    At 100 TB the only data-sized shuffles are the distinct and the
    per-actor window, both keyed on the actor."""
    ud = events.select(
        F.col("conv_id").alias("_a"),
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
    ).distinct()
    w = Window.partitionBy("_a").orderBy("day_ts")
    flagged = ud.select(
        "_a", "day_ts", F.lag("day_ts").over(w).alias("_prev")
    ).select(
        "day_ts",
        F.when(F.col("_prev").isNull(), "new")
        .when(
            F.col("_prev") == F.col("day_ts") - F.expr("interval 1 day"),
            "retained",
        )
        .otherwise("resurrected")
        .alias("_st"),
    )
    daily = flagged.groupBy("day_ts").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("_st") == "new", 1).otherwise(0))
        .cast("long").alias("n_new"),
        F.sum(F.when(F.col("_st") == "retained", 1).otherwise(0))
        .cast("long").alias("n_retained"),
        F.sum(F.when(F.col("_st") == "resurrected", 1).otherwise(0))
        .cast("long").alias("n_resurrected"),
    )
    prev = daily.select(
        (F.col("day_ts") + F.expr("interval 1 day")).alias("day_ts"),
        F.col("n_active").alias("_prev_active"),
    )
    return daily.join(F.broadcast(prev), "day_ts", "left").select(
        "day_ts", "n_active", "n_new", "n_retained", "n_resurrected",
        (F.coalesce(F.col("_prev_active"), F.lit(0)) - F.col("n_retained"))
        .cast("long").alias("n_churned"),
    )


def fano_factor_daily(series: DataFrame,
                      keys: list[str] | None = None) -> DataFrame:
    """Count overdispersion per (keys..., day): Fano factor
    Var(c)/Mean(c) of the 24 hourly event counts — the COUNT-side
    companion to burstiness_daily's inter-arrival view (Poisson
    arrivals → 1; clumped/bursty → >1; quota-limited/regular → <1).

    The day always has 24 hour slots and empty hours contribute 0 to
    both Σc and Σc², so no grid densify is needed — with n fixed at
    24,  F = Var/μ = (24·Σc² − (Σc)²) / (24·Σc),  one double divide
    of exact BIGINT moments (counts ≤ ~6e8/hour before 24·Σc²
    approaches int64; ANSI mode errors loudly past that).

    Scale notes: two cascaded hash-aggs (metric×day×hour →
    metric×day), both map-side combinable; no windows, no joins."""
    keys = keys or ["metric"]
    hc = series.groupBy(
        *keys,
        F.date_trunc("day", "ts").alias("day_ts"),
        F.hour("ts").alias("_h"),
    ).agg(F.count(F.lit(1)).alias("c"))
    g = hc.groupBy(*keys, "day_ts").agg(
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.count(F.lit(1)).alias("nz"),
    )
    return g.select(
        *keys, "day_ts",
        F.col("s").cast("long").alias("n_events"),
        F.col("nz").cast("long").alias("nonzero_hours"),
        F.round(
            (F.lit(24) * F.col("q") - F.col("s") * F.col("s"))
            .cast("double")
            / (F.lit(24) * F.col("s")).cast("double"),
            6,
        ).alias("fano"),
    )


def rank_churn(events: DataFrame) -> DataFrame:
    """(day_ts, cat, n_rows, rank_today, rank_prev, rank_delta):
    day-over-day leaderboard churn — each category's daily volume
    rank vs yesterday's (positive delta = climbed).  The "what moved"
    complement to category_churn's "what appeared/vanished": a
    category can exist both days yet silently triple its share.

    Rank ties break on the category name (rank by (rows DESC, cat)),
    so the leaderboard is deterministic in both engines.  Categories
    absent yesterday carry NULL rank_prev/rank_delta rather than a
    fake rank.  Day 1 has no baseline and is excluded.

    Scale: one hash-agg to |days|·|categories| rows, one rank window
    per day over that tiny table, one self-join shifted a day.
    """
    per = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.col("event_type").alias("cat"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    wd = Window.partitionBy("day_ts").orderBy(
        F.col("n_rows").desc(), F.col("cat")
    )
    ranked = per.select(
        "day_ts", "cat", "n_rows",
        F.row_number().over(wd).alias("rank_today"),
    )
    prev = ranked.select(
        (F.col("day_ts") + F.expr("INTERVAL 24 HOURS")).alias("day_ts"),
        "cat",
        F.col("rank_today").alias("rank_prev"),
    )
    days_with_prev = per.select("day_ts").distinct().join(
        per.select(
            (F.col("day_ts") + F.expr("INTERVAL 24 HOURS"))
            .alias("day_ts")
        ).distinct(),
        "day_ts",
    )
    return (
        ranked.join(prev, ["day_ts", "cat"], "left")
        .join(days_with_prev, "day_ts")
        .select(
            "day_ts", "cat",
            F.col("n_rows").cast("long").alias("n_rows"),
            "rank_today", "rank_prev",
            (F.col("rank_prev") - F.col("rank_today"))
            .alias("rank_delta"),
        )
    )


def theil_index_daily(events: DataFrame, min_cells: int = 10) -> DataFrame:
    """(day_ts, n_cells, n_groups, theil_total, theil_between,
    theil_within): Theil T inequality index of per-day activity value
    across (unit, group) cells, with the exact between/within
    decomposition — the question gini_concentration can't answer:
    HOW MUCH of today's concentration is composition across groups
    vs inequality inside them.

        T        = (Σ y·ln y)/Y + ln N − ln Y
        T_between = (Σ_g Y_g·ln(Y_g/N_g))/Y + ln N − ln Y
        T_within  = T − T_between        (additivity is an identity,
                                          pytest-asserted, not assumed)

    Cells with y ≤ 0 carry no entropy mass and are excluded
    (standard).  Each y·ln y and Y_g·ln(Y_g/N_g) term is
    micro-nat-snapped to a long before summation (the repo-wide
    entropy recipe, drift.entropy_daily), so the only engine-variable
    floats are one ln per distinct cell/group absorbed by the snap,
    plus the final ln N / ln Y under round(6).

    Scale (100 TB): two stacked hash aggregations (cells → groups →
    days), all map-side combinable; no window, no join, output
    day-grid-sized."""
    m = 1_000_000
    cells = bucket_cents(
        events,
        [F.col("event_type").alias("grp"), F.col("user_id").alias("unit")],
        "day",
    ).where(F.col("y") > 0)
    yd = F.col("y").cast("double")
    cells = cells.withColumn(
        "yln_u", snap(yd * F.log(yd), 6)
    )
    g = cells.groupBy("day_ts", "grp").agg(
        F.sum("y").alias("yg"),
        F.count(F.lit(1)).alias("ng"),
        F.sum("yln_u").alias("s_yln"),
    )
    ygd = F.col("yg").cast("double")
    ngd = F.col("ng").cast("double")
    g = g.withColumn(
        "bterm_u", snap(ygd * F.log(ygd / ngd), 6)
    )
    d = g.groupBy("day_ts").agg(
        F.sum("yg").alias("ytot"),
        F.sum("ng").alias("n_cells"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("s_yln").alias("s_yln"),
        F.sum("bterm_u").alias("s_b"),
    ).where(F.col("n_cells") >= min_cells)
    ytd = F.col("ytot").cast("double")
    nd = F.col("n_cells").cast("double")
    base = F.log(nd) - F.log(ytd)
    t_total = F.col("s_yln").cast("double") / m / ytd + base
    t_between = F.col("s_b").cast("double") / m / ytd + base
    t_within = (
        (F.col("s_yln") - F.col("s_b")).cast("double") / m / ytd
    )
    return d.select(
        "day_ts",
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.round(t_total, 6).alias("theil_total"),
        F.round(t_between, 6).alias("theil_between"),
        F.round(t_within, 6).alias("theil_within"),
    )


def hhi_hourly(events: DataFrame) -> DataFrame:
    """(hour_ts, n, n_cats, hhi, hhi_norm): Herfindahl-Hirschman
    concentration of the category mix per hour — the antitrust
    statistic read as an ops one: hhi → 1 means one event type owns
    the hour (a runaway retry loop looks exactly like a monopoly).

        HHI = Σ_c (n_c/n)² = Σ n_c² / n²       (exact integers)
        HHI_norm = (HHI − 1/k) / (1 − 1/k)      (NULL when k = 1)

    Σ n_c² accumulates in decimal(38,0) (hour counts can reach 10⁹
    at fleet scale; squares overflow long).  One (cat, hour) hash
    agg then one hour agg — grid-sized, map-side combined."""
    per_cat = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.col("event_type").alias("cat"),
    ).agg(F.count(F.lit(1)).alias("n_c"))
    agg = per_cat.groupBy("hour_ts").agg(
        F.sum("n_c").alias("n"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum(wide("n_c") * wide("n_c")).alias("sq"),
    )
    nn = F.col("n").cast("double")
    kk = F.col("n_cats").cast("double")
    hhi = F.col("sq").cast("double") / (nn * nn)
    hhi_norm = F.when(
        F.col("n_cats") > 1,
        (hhi - F.lit(1.0) / kk) / (F.lit(1.0) - F.lit(1.0) / kk),
    )
    return agg.select(
        "hour_ts",
        F.col("n").cast("long").alias("n"),
        F.col("n_cats").cast("long").alias("n_cats"),
        F.round(hhi, 6).alias("hhi"),
        F.round(hhi_norm, 6).alias("hhi_norm"),
    )


def atkinson_daily(events: DataFrame) -> DataFrame:
    """(day_ts, n_units, total_cents, atkinson1): Atkinson inequality
    index at ε = 1 of per-day per-unit value sums — the
    WELFARE-weighted member of the inequality family (gini_daily:
    rank-based; theil_daily: entropy-based; Atkinson(1) = 1 −
    geomean/mean answers "what share of total value could be
    sacrificed if it were spread evenly, at log utility").

        A₁ = 1 − exp(Σ ln y_u / n) / (T/n)

    ln terms are snapped to integer MICRO-NATS (round(ln(y)·10⁶),
    the theil_daily policy) so the sum is an exact order-free
    integer; exp and the final ratio are one shared double tree.
    Units with y ≤ 0 are excluded (log utility undefined), matching
    the oracle's HAVING clause.

    Scale: (unit, day) hash agg → day agg; grid-sized after the
    first pass."""
    cells = bucket_cents(
        events, [F.col("user_id").alias("unit")], "day"
    ).where(F.col("y") > 0)
    agg = cells.groupBy("day_ts").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("y").alias("t_tot"),
        F.sum(snap(F.log(F.col("y").cast("double")), 6))
        .alias("lnsum_micro"),
    )
    n = F.col("n_units").cast("double")
    t = F.col("t_tot").cast("double")
    geo = F.exp((F.col("lnsum_micro").cast("double") / F.lit(1.0e6)) / n)
    atk = F.lit(1.0) - geo / (t / n)
    return agg.select(
        "day_ts",
        F.col("n_units").cast("long").alias("n_units"),
        F.col("t_tot").cast("long").alias("total_cents"),
        F.round(atk, 6).alias("atkinson1"),
    )


def lorenz_deciles(events: DataFrame, n_tiles: int = 10) -> DataFrame:
    """(day_ts, decile, n_units, decile_cents, cum_share): the Lorenz
    curve behind gini_daily, made inspectable — per day, units sorted
    by their cent sum into `n_tiles` ntile buckets (deterministic
    (y, unit) tie-break), with each bucket's mass and the cumulative
    share of total value.  "The bottom half of users contribute 4% of
    value" is this table read aloud; gini is its integral.

    cum_share is an exact integer ratio (running cent sum over total
    cents) rounded once.  The ntile window partitions by day; the
    cumulative window runs over n_tiles rows per day — both bounded,
    never a global sort."""
    cells = bucket_cents(events, [F.col("user_id").alias("unit")], "day")
    w = Window.partitionBy("day_ts").orderBy("y", "unit")
    tiled = cells.select(
        "day_ts", "y", F.ntile(int(n_tiles)).over(w).alias("decile")
    )
    per = tiled.groupBy("day_ts", "decile").agg(
        F.count(F.lit(1)).alias("n_units"), F.sum("y").alias("yd")
    )
    wc = Window.partitionBy("day_ts").orderBy("decile")
    tot = Window.partitionBy("day_ts")
    return per.select(
        "day_ts",
        F.col("decile").cast("int").alias("decile"),
        F.col("n_units").cast("long").alias("n_units"),
        F.col("yd").cast("long").alias("decile_cents"),
        F.round(
            F.sum("yd").over(wc).cast("double")
            / F.sum("yd").over(tot).cast("double"), 6
        ).alias("cum_share"),
    )


def exit_rates(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(event_type, n_contain, n_exit, n_bounce, exit_rate,
    bounce_share): per event type, the share of sessions CONTAINING
    the type that END on it (exit rate — "which step do journeys die
    on"), and among those exits, the share that were single-event
    sessions (bounces).  The web-analytics ledger funnel_3step's
    fixed path cannot give.

    Sessionization is the standard 30-minute-gap islands rule inside
    per-actor streams: a new session starts when the gap from the
    previous event exceeds the threshold; session id = cumulative
    count of starts (one lag + one running sum, both inside the actor
    partition — never a global window).  The session's LAST event is
    picked by max_by on the per-actor row_number over (µs, order) —
    exact and deterministic.  All counts are exact integers; the two
    rates are terminal divides.

    Scale: two stacked windows over actor streams → per-session
    hash-agg → |types|-sized aggregates; distinct (session, type)
    bounds the contains table by events."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    base = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("event_id").cast("long").alias("o"),
    )
    w = Window.partitionBy("u").orderBy("t_us", "o")
    new_s = F.when(
        F.lag("t_us").over(w).isNull()
        | (F.col("t_us") - F.lag("t_us").over(w) > gap_us),
        1,
    ).otherwise(0)
    flagged = base.withColumn("ns", new_s)
    wc = Window.partitionBy("u").orderBy("t_us", "o").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.partitionBy("u").orderBy("t_us", "o")
    # rn, not a packed (µs << k | order) key: absolute epoch-µs times
    # a shift overflows int64, and a modulo wrap could misorder — the
    # per-actor row_number is small, deterministic, and shares the
    # session-count window pass
    sess = flagged.select(
        "u", "t",
        F.sum("ns").over(wc).alias("sid"),
        F.row_number().over(wr).alias("rn"),
    )
    per_sess = sess.groupBy("u", "sid").agg(
        F.max_by("t", F.col("rn")).alias("last_t"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    ends = per_sess.groupBy(F.col("last_t").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_exit"),
        F.sum((F.col("n_ev") == 1).cast("long")).alias("n_bounce"),
    )
    contains = (
        sess.select("u", "sid", "t").distinct()
        .groupBy(F.col("t").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n_contain"))
    )
    j = contains.join(ends, "event_type", "left")
    return j.select(
        "event_type",
        F.col("n_contain").cast("long").alias("n_contain"),
        F.coalesce(F.col("n_exit"), F.lit(0)).cast("long")
        .alias("n_exit"),
        F.coalesce(F.col("n_bounce"), F.lit(0)).cast("long")
        .alias("n_bounce"),
        F.round(
            F.coalesce(F.col("n_exit"), F.lit(0)).cast("double")
            / F.col("n_contain").cast("double"),
            6,
        ).alias("exit_rate"),
        F.round(
            F.when(
                F.coalesce(F.col("n_exit"), F.lit(0)) > 0,
                F.coalesce(F.col("n_bounce"), F.lit(0)).cast("double")
                / F.col("n_exit").cast("double"),
            ),
            6,
        ).alias("bounce_share"),
    )
