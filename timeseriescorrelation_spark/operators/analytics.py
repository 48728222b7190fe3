"""Time-series analytics operators beyond the tier cascade:

- M4 downsampling (min/max/first/last *points* per pixel bucket — the
  published visualization-downsampling aggregation of Jugel et al.,
  "M4: A Visualization-Oriented Time Series Data Aggregation",
  VLDB 2014): the 4 points per bucket reproduce a pixel-perfect
  line rendering at 1/bucket resolution.
- Counter rate / increase (PromQL-style monotonic-increase semantics
  over gauge resets): per-bucket sum of non-negative deltas.
- Trailing-window anomaly detection: z-score of each point against the
  PRECEDING range frame (current row excluded, so a spike does not
  mask itself) — plus the day-sharded variant that parallelizes
  low-cardinality key windows with a context overlap.
- Lag-1 autocorrelation per series (serial dependence diagnostic).
- Lagged cross-correlation between series over hourly buckets
  (lead/lag discovery — which conversation's activity *precedes*
  another's), extending the reference's pairwise-Pearson report
  (SURVEY §3.1 step 3) with a time-shift dimension — three routes:
  per-bucket join (reference impl), blocked BLAS kernel (all-pairs
  scale path), magnitude-sketch ε-grid prune (candidate path).
- Inter-arrival latency percentiles; bounded-memory exact quantiles
  (quantize → hash counts → cumulative interpolation).
- EWMA smoothing (adjust-free recursion, Arrow-batched).

All operators take the canonical series shape
(conv_id, metric, ts, turn_idx, value).

Scale notes (100 TB):
- m4_downsample / counter_rate: one shuffle each, keyed on
  (conv_id, metric[, bucket]) — partial aggregation collapses each
  map task's points before the shuffle, so shuffle volume ~ |buckets|
  (M4) or |points| only for the window pass (rate).  The
  value-ordered argmin/argmax uses min/max over a 2-field struct
  (double, packed int64): struct min/max still does map-side partial
  aggregation; only first/last use the pure packed-int64 min_by path
  that stays in whole-stage codegen (see rollup.packed_order_key for
  why).
- anomaly_zscore: single window pass per (conv_id, metric); Spark's
  bounded-preceding range frame keeps a sliding buffer of only the
  rows inside the range (O(rows_in_range) memory), no self-join.
- lagged_xcorr: the lag table (a handful of rows) is broadcast; the
  pair join is the same hourly-bucket equi-join as corr_pairs_hourly
  (shuffle keyed on bucket), NOT a cartesian over points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    co_moment,
    idiv,
    moments,
    snap,
    wide,
)
from timeseriescorrelation_spark.functions.timeutil import (
    epoch_day,
    epoch_us,
    weekday,
)
from timeseriescorrelation_spark.operators.rollup import packed_order_key
from timeseriescorrelation_spark.session import local_frame

KEYS = ["conv_id", "metric"]


def pearson_guarded(cov: Column, sa: Column, sb: Column) -> Column:
    """ρ = cov/(σa·σb), NULL when either side has zero variance.

    Spark 4 ANSI mode makes a bare division THROW on the
    zero-variance groups; CaseWhen evaluates lazily, so the division
    never runs there — and NULL-on-constant is exactly DuckDB
    ``corr()``'s semantics (same rationale as corr_pairs_hourly)."""
    return F.when((sa > 0) & (sb > 0), cov / (sa * sb))


def m4_downsample(series: DataFrame, trunc: str = "hour",
                  keys: list[str] | None = None) -> DataFrame:
    """M4 aggregation: per (series, bucket) the first, last, value-min
    and value-max POINTS (ts+value pairs, not just values).

    Determinism: first/last order by the packed (ts, turn_idx) int64;
    the value-ordered extremes order by (value, packed) — a tie on
    value resolves to the earliest (ts, turn_idx), identically in the
    DuckDB oracle (min over a named struct).

    Plan note — deliberate SortAggregate: the (double, int64) ordering
    key cannot be packed into one scalar (no order-preserving
    double→int64 expression in Spark SQL), so min/max over the 3-field
    struct drops the whole aggregation out of HashAggregate.  That is
    the right trade here: map-side PARTIAL aggregation still runs
    (plan-asserted in tests/test_plans.py), so shuffle volume stays
    ≈ |buckets| and the extra cost is only an in-partition sort by
    group key.  The hash-aggregable alternative (pre-grouping by
    (bucket, value) to de-tie the double key) shuffles ≈ |points|
    because raw double values rarely collide — strictly worse at
    scale.  Contrast rollup.packed_order_key, where the key IS
    packable and the cascade must stay in HashAggregate."""
    keys = keys or KEYS
    pk = packed_order_key(trunc)
    vmin = F.min(F.struct(F.col("value").alias("v"), pk.alias("k"),
                          F.col("ts").alias("t")))
    vmax = F.max(F.struct(F.col("value").alias("v"), pk.alias("k"),
                          F.col("ts").alias("t")))
    return (
        series.groupBy(
            *keys, F.date_trunc(trunc, "ts").alias("bucket_ts")
        )
        .agg(
            F.min_by("ts", pk).alias("ts_first"),
            F.min_by("value", pk).alias("v_first"),
            F.max_by("ts", pk).alias("ts_last"),
            F.max_by("value", pk).alias("v_last"),
            vmin.alias("_mn"),
            vmax.alias("_mx"),
        )
        .select(
            *keys,
            "bucket_ts",
            "ts_first",
            "v_first",
            "ts_last",
            "v_last",
            F.col("_mn.t").alias("ts_vmin"),
            F.col("_mn.v").alias("v_min"),
            F.col("_mx.t").alias("ts_vmax"),
            F.col("_mx.v").alias("v_max"),
        )
    )


def counter_rate(series: DataFrame, trunc: str = "hour",
                 bucket_seconds: int = 3600,
                 keys: list[str] | None = None) -> DataFrame:
    """Per-bucket increase + per-second rate with counter semantics:
    delta clamped at 0 (a counter reset contributes nothing, like
    PromQL ``increase``).  The first point of each series has no
    predecessor and contributes nothing."""
    keys = keys or KEYS
    w = Window.partitionBy(*keys).orderBy(epoch_us(F.col("ts")), "turn_idx")
    # NB: F.greatest SKIPS nulls (greatest(NULL, 0) = 0), so the
    # no-predecessor row must be dropped on the lag itself, not on inc.
    d = series.withColumn("prev", F.lag("value").over(w)).where(
        F.col("prev").isNotNull()
    ).withColumn("inc", F.greatest(F.col("value") - F.col("prev"), F.lit(0.0)))
    return (
        d
        .groupBy(*keys, F.date_trunc(trunc, "ts").alias("bucket_ts"))
        .agg(
            F.count("*").alias("n_deltas"),
            F.round(F.sum("inc"), 6).alias("increase"),
            F.round(F.sum("inc") / F.lit(float(bucket_seconds)), 6)
            .alias("rate_per_s"),
        )
    )


def _anomaly_moments(w, value_decimals: int | None):
    """Window moment columns (n_prev, mu, sigma) for the z-score.

    value_decimals=None: plain float avg/stddev_pop — fine when values
    are arbitrary doubles (decimal-boundary coincidences are
    measure-zero, only ulp-level risk remains under rounding).

    value_decimals=k: EXACT-DECIMALS mode for inputs quantized to k
    decimal places (sensor feeds, currency, the 2-decimal events
    fixture).  There the window mean lands EXACTLY on decimal
    midpoints (sum of cents / n), where Spark's BigDecimal HALF_UP and
    DuckDB's float-space round() disagree SYSTEMATICALLY — measured 23
    flipped rows at sf0.1 at any rounding width.  Fix: snap the window
    sums to exact integers first (round(Σv·10ᵏ) — ulp noise ≪ 0.5
    never flips an integer), then derive mu and sigma from those
    integers with the same expression shape on both engines: identical
    inputs → bit-identical doubles → any rounding agrees."""
    v = F.col("value")
    n = F.count(v).over(w)
    if value_decimals is None:
        return n, F.avg(v).over(w), F.stddev_pop(v).over(w)
    s1 = float(10 ** value_decimals)
    s2 = float(10 ** (2 * value_decimals))
    i1 = F.round(F.sum(v).over(w) * F.lit(s1), 0)
    i2 = F.round(F.sum(v * v).over(w) * F.lit(s2), 0)
    nn = n.cast("double")
    mu = i1 / (nn * F.lit(s1))
    var = i2 / (nn * F.lit(s2)) - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    return n, mu, sigma


def anomaly_zscore(series: DataFrame, range_seconds: int = 3600,
                   z_thresh: float = 2.0, min_n: int = 5,
                   keys: list[str] | None = None,
                   value_decimals: int | None = None) -> DataFrame:
    """Flag points whose value deviates from the trailing-window mean
    by ≥ z_thresh standard deviations.

    The frame is [ts - range_seconds, ts - 1µs] — strictly PRECEDING,
    so the point under test (and any same-timestamp peers) never
    contaminates its own baseline.  Points with fewer than min_n
    trailing observations or a zero-variance baseline are not scored.
    The filter compares the ROUNDED z in both engines, so a last-ulp
    difference in the window sum cannot flip a boundary row; for
    decimal-quantized inputs pass value_decimals (see
    _anomaly_moments) to remove midpoint knife-edges entirely."""
    keys = keys or KEYS
    range_us = int(range_seconds) * 1_000_000
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("ts")))
        .rangeBetween(-range_us, -1)
    )
    v = F.col("value")
    n_prev, mu, sigma = _anomaly_moments(w, value_decimals)
    scored = series.select(
        *keys,
        "ts",
        "turn_idx",
        "value",
        n_prev.alias("n_prev"),
        mu.alias("mu"),
        sigma.alias("sigma"),
    ).withColumn(
        # floor-quantize, never round(): even on bit-identical doubles
        # Spark rounds the shortest-decimal repr while DuckDB rounds
        # the binary value — they disagree at exact midpoints, which
        # decimal-quantized inputs hit systematically.  floor of the
        # same double is deterministic everywhere.
        "z",
        F.floor(
            F.when(F.col("sigma") > 0, (v - F.col("mu")) / F.col("sigma"))
            * F.lit(1e4)
        ) / F.lit(1e4),
    )
    return (
        scored.where(
            (F.col("n_prev") >= min_n) & (F.abs(F.col("z")) >= z_thresh)
        )
        .select(
            *keys,
            "ts",
            "turn_idx",
            "value",
            "n_prev",
            (F.floor(F.col("mu") * F.lit(1e4)) / F.lit(1e4)).alias("mu"),
            (F.floor(F.col("sigma") * F.lit(1e4)) / F.lit(1e4))
            .alias("sigma"),
            "z",
        )
    )


def autocorr_lag1(series: DataFrame, min_n: int = 10,
                  keys: list[str] | None = None) -> DataFrame:
    """Lag-1 autocorrelation per series: Pearson between v_t and
    v_{t-1} over the (ts, turn_idx)-ordered sequence.  One window
    pass + one hash aggregation; ρ is NULL-guarded like every other
    correlation in the engine."""
    keys = keys or KEYS
    w = Window.partitionBy(*keys).orderBy(epoch_us(F.col("ts")), "turn_idx")
    d = series.withColumn("prev", F.lag("value").over(w)).where(
        F.col("prev").isNotNull()
    )
    g = d.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.covar_pop("value", "prev").alias("cov"),
        F.stddev_pop("value").alias("sa"),
        F.stddev_pop("prev").alias("sb"),
    )
    return (
        g.where(F.col("n") >= min_n)
        .select(
            *keys,
            "n",
            F.round(
                pearson_guarded(F.col("cov"), F.col("sa"), F.col("sb")), 6
            ).alias("r1"),
        )
        .where(F.col("r1").isNotNull())
    )


def lagged_xcorr(series: DataFrame, lags_h: list[int] | None = None,
                 min_n: int = 3, r_min: float = 0.0) -> DataFrame:
    """Cross-correlation between conversation pairs at hourly lags:
    ρ(a_t, b_{t+lag}) for each lag in lags_h, over per-hour mean
    values of the same metric-free value stream (as
    corr_pairs_hourly).  Output one row per (ua < ub, lag) with ≥
    min_n co-occurring (shifted) buckets and |ρ| ≥ r_min (the
    threshold compares the ROUNDED ρ, so a last-ulp aggregation
    difference cannot flip a boundary pair between engines).

    The lag relation is an equi-join: a's bucket shifted by the lag
    must equal b's bucket, so Catalyst plans a hash/sort-merge join on
    the shifted key — never a theta/cartesian join.  The lag list is a
    literal handful of rows, exploded on the probe side (no broadcast
    join node needed — it is a generator, not a table)."""
    if lags_h is None:
        lags_h = [-2, -1, 0, 1, 2]
    h = series.groupBy(
        F.col("conv_id"), F.date_trunc("hour", "ts").alias("b")
    ).agg(F.avg("value").alias("v"))
    lags = F.array(*[F.lit(int(x)) for x in lags_h])
    # probe side: every a-bucket shifted by every lag (|lags| small)
    a = h.select(
        F.col("conv_id").alias("ua"),
        F.col("b").alias("ba"),
        F.col("v").alias("va"),
        F.explode(lags).alias("lag_h"),
    ).withColumn(
        "b", F.timestamp_micros(
            epoch_us(F.col("ba")) + F.col("lag_h").cast("long") * 3_600_000_000
        )
    )
    bb = h.select(
        F.col("conv_id").alias("ub"), F.col("b"), F.col("v").alias("vb")
    )
    g = (
        a.join(bb, "b")
        .where(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub", "lag_h")
        .agg(
            F.count("*").alias("n"),
            F.covar_pop("va", "vb").alias("cov"),
            F.stddev_pop("va").alias("sa"),
            F.stddev_pop("vb").alias("sb"),
        )
    )
    return (
        g.where(F.col("n") >= min_n)
        .select(
            "ua",
            "ub",
            "lag_h",
            "n",
            F.round(
                pearson_guarded(F.col("cov"), F.col("sa"), F.col("sb")), 6
            ).alias("r"),
        )
        .where(F.col("r").isNotNull() & (F.abs(F.col("r")) >= r_min))
    )


def latency_percentiles(series: DataFrame, trunc: str = "day",
                        quantiles: list[float] | None = None,
                        keys: list[str] | None = None) -> DataFrame:
    """Exact interpolated percentiles of the inter-arrival gap
    (seconds between consecutive points of a series), per
    (metric, bucket) — the "response latency" profile of a transcript
    stream.  Uses the exact linear-interpolation percentile (same
    definition as DuckDB quantile_cont), not an approximate sketch:
    the tier output must be bit-comparable across engines.

    Scale note: Spark's exact percentile() is a TypedImperative
    aggregate whose buffer holds a count per DISTINCT value in the
    group — mostly-unique doubles make that O(group size) executor
    memory.  Grouping here is (metric, day): at 10¹² turns a single
    group holds ~billions of gaps, which does NOT fit.  The 100 TB
    form is either (a) approx_percentile(...,accuracy) — bounded-size
    Greenwald-Khanna sketch, mergeable map-side, with a documented
    rank-error bound — or (b) keep exactness by pre-bucketing gaps to
    fixed precision (e.g. ms) so the value-count map is bounded by the
    value domain, not the row count.  Exact-on-raw is reserved for
    gate-scale verification, same split as dedup's vocab mode."""
    if quantiles is None:
        quantiles = [0.5, 0.95]
    keys = keys or KEYS
    w = Window.partitionBy(*keys).orderBy(epoch_us(F.col("ts")), "turn_idx")
    gap_s = (
        (epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(w))
        / F.lit(1e6)
    )
    d = series.withColumn("gap_s", gap_s).where(F.col("gap_s").isNotNull())
    qarr = F.array(*[F.lit(float(q)) for q in quantiles])
    agg = d.groupBy(
        F.col("metric"), F.date_trunc(trunc, "ts").alias("bucket_ts")
    ).agg(
        F.count("*").alias("n"),
        F.percentile("gap_s", qarr).alias("qs"),
    )
    cols = [
        # 4dp: interpolated percentiles are re-derived floats (see the
        # anomaly rounding note) — 6dp flipped a midpoint at sf0.1
        F.round(F.col("qs").getItem(i), 4).alias(
            f"p{str(q).replace('0.', '')}"
        )
        for i, q in enumerate(quantiles)
    ]
    return agg.select("metric", "bucket_ts", "n", *cols)


__all__ = [
    "m4_downsample",
    "counter_rate",
    "anomaly_zscore",
    "anomaly_zscore_sharded",
    "autocorr_lag1",
    "lagged_xcorr",
    "lagged_xcorr_blocked",
    "lagged_xcorr_pruned",
    "xcorr_magnitude_sketches",
    "latency_percentiles",
    "quantiles_bucketed",
    "ewma",
    "pearson_guarded",
    "cusum",
]


def lagged_xcorr_blocked(series: DataFrame, lags_h: list[int] | None = None,
                         min_n: int = 3, r_min: float = 0.0,
                         n_blocks: int = 8) -> DataFrame:
    """Scale path for :func:`lagged_xcorr`: identical semantics
    (pairwise-complete Pearson over co-occurring hourly buckets at
    each lag), computed as blocked mask/value matrix products instead
    of a per-bucket pair join.

    Why: the join formulation materializes every (pair, co-bucket,
    lag) row — at sf0.1 that is ~2e9 intermediate rows and 38 s on 32
    cores; here each block-pair group builds dense (users x T)
    value/mask matrices and gets all pairwise sums from six BLAS
    matmuls per lag (n, Σa, Σb, Σa², Σb², Σab), so the work is
    O(U²·T / n_blocks²) FLOPs in vectorized kernels and the shuffle is
    O(U·T·n_blocks) rows.  Same block-pair replication scheme as
    similarity.cosine_neardup_pairs_blocked (each unordered block pair
    computed exactly once, pairs oriented ua < ub).

    At 100 TB with millions of series, all-pairs at any speed is the
    wrong shape — route candidates through the ε-grid prefilter
    (correlation.candidate_pairs) first and keep this kernel for the
    candidate cohort; the DFT-magnitude sketch is shift-invariant, so
    the grid remains sound for lagged search.

    Float note: var = E[x²]−E[x]² in float64 leaves ~1e-12 residue on
    truly constant windows; variances below VAR_EPS are treated as
    zero (matching the oracle's σ>0 guard).  Outputs rounded to 6dp
    and thresholded on the rounded ρ, like the join path."""
    if lags_h is None:
        lags_h = [-2, -1, 0, 1, 2]
    VAR_EPS = 1e-9

    h = series.groupBy(
        F.col("conv_id"), F.date_trunc("hour", "ts").alias("b")
    ).agg(F.avg("value").alias("v"))
    t0 = h.agg(F.min("b").alias("t0"))
    hi = h.crossJoin(F.broadcast(t0)).select(
        "conv_id",
        ((epoch_us(F.col("b")) - epoch_us(F.col("t0")))
         / F.lit(3_600_000_000)).cast("int").alias("idx"),
        "v",
    )
    blk = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_blocks)).cast("int")
    base = hi.withColumn("blk", blk)
    rng = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    left = base.select(
        "conv_id", "idx", "v", F.col("blk").alias("bi"),
        F.explode(F.filter(rng, lambda j: j >= F.col("blk"))).alias("bj"),
        F.lit(0).alias("role"),
    )
    right = base.select(
        "conv_id", "idx", "v",
        F.explode(F.filter(rng, lambda i: i <= F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("role"),
    )
    both = left.unionByName(right)
    schema = "ua string, ub string, lag_h int, n long, r double"
    lags = [int(x) for x in lags_h]
    # Cross-block pairs whose ids sort against their block roles are
    # emitted re-oriented (ua < ub), which NEGATES their lag; that
    # reshuffling only covers the requested set when it is symmetric.
    if sorted(lags) != sorted(-x for x in lags):
        raise ValueError(
            "lagged_xcorr_blocked requires a symmetric lag set "
            f"(every L needs its -L); got {lags_h}"
        )
    min_n_, r_min_ = int(min_n), float(r_min)

    def _dense(sub: "pd.DataFrame", T: int):
        users = sub["conv_id"].unique()
        uidx = {u: i for i, u in enumerate(users)}
        A = np.zeros((len(users), T))
        M = np.zeros((len(users), T))
        rows = sub["conv_id"].map(uidx).to_numpy()
        cols = sub["idx"].to_numpy()
        A[rows, cols] = sub["v"].to_numpy()
        M[rows, cols] = 1.0
        return users, A, M

    def _pairs(key, pdf):
        bi, bj = key
        out = {"ua": [], "ub": [], "lag_h": [], "n": [], "r": []}
        l_ = pdf[pdf["role"] == 0]
        r_ = pdf[pdf["role"] == 1]
        if not l_.empty and not r_.empty:
            T = int(pdf["idx"].max()) + 1
            lu, A, MA = _dense(l_, T)
            ru, B, MB = _dense(r_, T)
            same = bi == bj
            lids = lu.astype(object)
            rids = ru.astype(object)
            for L in lags:
                if L >= 0:
                    a_sl = slice(0, T - L)
                    b_sl = slice(L, T)
                else:
                    a_sl = slice(-L, T)
                    b_sl = slice(0, T + L)
                if (T - abs(L)) < 1:
                    continue
                Av, Am = A[:, a_sl], MA[:, a_sl]
                Bv, Bm = B[:, b_sl], MB[:, b_sl]
                n = Am @ Bm.T
                Sa = Av @ Bm.T
                Sb = Am @ Bv.T
                Saa = (Av * Av) @ Bm.T
                Sbb = Am @ (Bv * Bv).T
                Sab = Av @ Bv.T
                with np.errstate(divide="ignore", invalid="ignore"):
                    ma = Sa / n
                    mb = Sb / n
                    va = Saa / n - ma * ma
                    vb = Sbb / n - mb * mb
                    cov = Sab / n - ma * mb
                    rr = cov / np.sqrt(va * vb)
                np.round(rr, 6, out=rr)
                keep = (
                    (n >= min_n_)
                    & (va > VAR_EPS)
                    & (vb > VAR_EPS)
                    & (np.abs(rr) >= r_min_)
                )
                if same:
                    keep &= lids[:, None] < rids[None, :]
                    li, ri = np.nonzero(keep)
                    ua, ub = lids[li], rids[ri]
                    rv = rr[li, ri]
                else:
                    keep &= lids[:, None] != rids[None, :]
                    li, ri = np.nonzero(keep)
                    swap = lids[li] > rids[ri]
                    ua = np.where(swap, rids[ri], lids[li])
                    ub = np.where(swap, lids[li], rids[ri])
                    rv = rr[li, ri]
                    # ua<ub orientation flips the pair, and Pearson at
                    # lag L for (a,b) equals lag -L for (b,a)
                    L_arr = np.where(swap, -L, L)
                out["ua"].extend(ua.tolist())
                out["ub"].extend(ub.tolist())
                if same:
                    out["lag_h"].extend([L] * len(ua))
                else:
                    out["lag_h"].extend(L_arr.tolist())
                out["n"].extend(n[li, ri].astype(np.int64).tolist())
                out["r"].extend(rv.tolist())
        return pd.DataFrame(out).astype(
            {"ua": "object", "ub": "object", "lag_h": "int32",
             "n": "int64", "r": "float64"}
        )

    return both.groupBy("bi", "bj").applyInPandas(_pairs, schema)


def xcorr_magnitude_sketches(series: DataFrame, k: int = 4) -> DataFrame:
    """Shift-invariant DFT-MAGNITUDE sketch per conversation's hourly
    series — the lag-search analogue of correlation.dft_sketch.

    Math: for the z-normalized dense vector x̂ (missing hours filled
    with the series mean, so they z-score to 0), a circular shift of
    x̂ multiplies each DFT coefficient by a unit phasor and leaves
    |X_f| unchanged; by the reverse triangle inequality
    ‖|X_a|−|X_b|‖ ≤ ‖X_a − e^{iφ}X_b‖, so the magnitude-prefix
    distance LOWER-BOUNDS the z-normed distance of a to EVERY circular
    shift of b.  Pruning at ε = √(2(1−θ)) therefore never drops a
    pair whose circular-lag correlation reaches θ.  For the windowed
    linear-lag operator (per-pair re-normalization, partial overlap)
    the bound is a high-recall heuristic, not a proof — recall is
    measured in tests/test_analytics.py.

    Output: (conv_id, idxs, vals, sketch) — idxs/vals kept so the
    verify stage reads the series without a second scan."""
    import math as _math

    from pyspark.sql.functions import pandas_udf

    h = series.groupBy(
        F.col("conv_id"), F.date_trunc("hour", "ts").alias("b")
    ).agg(F.avg("value").alias("v"))
    bounds = h.agg(
        F.min("b").alias("t0"),
        (
            (epoch_us(F.max("b")) - epoch_us(F.min("b")))
            / F.lit(3_600_000_000)
        ).cast("int").alias("tmax"),
    )
    hi = h.crossJoin(F.broadcast(bounds)).select(
        "conv_id",
        ((epoch_us(F.col("b")) - epoch_us(F.col("t0")))
         / F.lit(3_600_000_000)).cast("int").alias("idx"),
        "v",
        (F.col("tmax") + 1).alias("T"),
    )
    packed = hi.groupBy("conv_id", "T").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "v"))),
            lambda s: s["idx"],
        ).alias("idxs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "v"))),
            lambda s: s["v"],
        ).alias("vals"),
    )

    @pandas_udf("array<double>")
    def _magsketch(idxs: pd.Series, vals: pd.Series,
                   Ts: pd.Series) -> pd.Series:
        out = []
        for ix, v, T in zip(idxs, vals, Ts):
            T = int(T)
            x = np.full(T, np.nan)
            x[np.asarray(ix, dtype=np.int64)] = np.asarray(v, dtype=float)
            present = ~np.isnan(x)
            mu = x[present].mean()
            x[~present] = mu  # missing hours z-score to exactly 0
            sd = x.std()
            if sd == 0 or T < 4:
                out.append(None)
                continue
            xz = (x - x.mean()) / (sd * _math.sqrt(T))
            kk = min(k, max((T - 1) // 2, 1))
            coef = np.fft.rfft(xz)[1: kk + 1]
            out.append((np.abs(coef) * _math.sqrt(2.0 / T)).tolist())
        return pd.Series(out)

    return packed.select(
        "conv_id", "idxs", "vals",
        _magsketch("idxs", "vals", "T").alias("sketch"),
    ).where(F.col("sketch").isNotNull())


def lagged_xcorr_pruned(series: DataFrame, theta: float = 0.6,
                        lags_h: list[int] | None = None,
                        min_n: int = 5, r_min: float = 0.7,
                        k: int = 4) -> DataFrame:
    """100 TB route for lagged cross-correlation: magnitude-sketch
    ε-grid pruning (reusing correlation.candidate_pairs — the
    reference's StatStream grid, fed shift-invariant sketches) +
    exact windowed verify on the surviving pairs only.

    Where :func:`lagged_xcorr_blocked` computes all O(U²) pairs in
    blocked BLAS (right up to ~10⁵ series), this computes
    O(candidates): each series shuffles once into the grid join and
    candidate pairs carry their packed (idxs, vals) arrays straight
    into an Arrow-batched verify — no second scan, no all-pairs
    anything.  Verify output matches the exact operators bit-for-bit
    (6dp) on the pairs it reports; recall vs the exact all-pairs
    result is ~1 for full-overlap circular shifts (bound exact) and
    measured-in-test for windowed linear lags.

    APPLICABILITY — the grid only prunes when spectra DIFFER.  On a
    corpus of white-noise-like series every magnitude prefix sits
    near the origin, all series share one grid cell, and the
    candidate join degenerates to all-pairs WITH their value arrays
    attached (measured: pathological at sf0.1's uniform synthetic
    events, where blocked finishes in 2 s).  Use this route when
    series carry real periodic/trend structure (daily/weekly
    seasonality spreads the low-frequency magnitudes) or after a
    variance/spectral-entropy prefilter; on spectrally-flat corpora
    the blocked kernel IS the scale path.  Same discrimination
    caveat as every metric-space index (cf. dedup max_bucket)."""
    from timeseriescorrelation_spark.operators.correlation import (
        candidate_pairs,
    )

    if lags_h is None:
        lags_h = [-2, -1, 0, 1, 2]
    sk = xcorr_magnitude_sketches(series, k=k)
    cand = candidate_pairs(
        sk.select(F.col("conv_id"), "sketch"), theta, id_col="conv_id"
    ).select("id_a", "id_b")
    packed = sk.select("conv_id", "idxs", "vals")
    j = (
        cand.join(
            packed.select(
                F.col("conv_id").alias("id_a"),
                F.col("idxs").alias("ixa"),
                F.col("vals").alias("va"),
            ),
            "id_a",
        )
        .join(
            packed.select(
                F.col("conv_id").alias("id_b"),
                F.col("idxs").alias("ixb"),
                F.col("vals").alias("vb"),
            ),
            "id_b",
        )
    )
    lags = [int(x) for x in lags_h]
    min_n_, r_min_ = int(min_n), float(r_min)
    schema = "ua string, ub string, lag_h int, n long, r double"

    def _verify(batches):
        for pdf in batches:
            out = {"ua": [], "ub": [], "lag_h": [], "n": [], "r": []}
            for ua, ub, ixa, va, ixb, vb in zip(
                pdf["id_a"], pdf["id_b"], pdf["ixa"], pdf["va"],
                pdf["ixb"], pdf["vb"],
            ):
                ia = np.asarray(ixa, dtype=np.int64)
                xa = np.asarray(va, dtype=float)
                ib = np.asarray(ixb, dtype=np.int64)
                xb = np.asarray(vb, dtype=float)
                for L in lags:
                    # pairwise-complete: a at t aligned with b at t+L
                    common, pa, pb = np.intersect1d(
                        ia, ib - L, return_indices=True
                    )
                    n = len(common)
                    if n < min_n_:
                        continue
                    sa_v = xa[pa]
                    sb_v = xb[pb]
                    sda = sa_v.std()
                    sdb = sb_v.std()
                    if sda <= 0 or sdb <= 0:
                        continue
                    r = float(
                        ((sa_v - sa_v.mean()) * (sb_v - sb_v.mean())).mean()
                        / (sda * sdb)
                    )
                    r = round(r, 6)
                    if abs(r) < r_min_:
                        continue
                    out["ua"].append(ua)
                    out["ub"].append(ub)
                    out["lag_h"].append(L)
                    out["n"].append(n)
                    out["r"].append(r)
            yield pd.DataFrame(out).astype(
                {"ua": "object", "ub": "object", "lag_h": "int32",
                 "n": "int64", "r": "float64"}
            )

    return j.mapInPandas(_verify, schema)


def quantiles_bucketed(df: DataFrame, keys: list[str], qs: list[float],
                       precision: float = 0.01) -> DataFrame:
    """Distributed EXACT interpolated quantiles with bounded memory —
    the 100 TB form of percentile() promised in latency_percentiles'
    scale note.

    Values are quantized to ``precision`` (k = floor(v/precision)),
    the per-(group, k) counts are hash-aggregated (buffer bounded by
    the VALUE DOMAIN / precision, never by row count), a partitioned
    cumulative-count window orders the buckets, and each requested q
    interpolates between the two covering buckets exactly like
    SQL percentile_cont: r = q·(n−1), p = v⌊r⌋ + (r−⌊r⌋)·(v⌊r⌋₊₁ −
    v⌊r⌋).  The result is BY DEFINITION quantile_cont over the
    quantized values — the DuckDB oracle is one line — and every stage
    is a hash aggregate or a key-partitioned window: no per-group
    value buffering anywhere.

    Output: one row per (keys…, q): (keys…, q, n, p).

    floor() (not round()) does the quantization: round-half ties
    resolve differently across engines; floor is bit-identical."""
    kcol = F.floor(F.col("value") / F.lit(float(precision)))
    counts = (
        df.where(F.col("value").isNotNull())
        .groupBy(*keys, kcol.alias("k"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy(*keys).orderBy("k")
    wtot = Window.partitionBy(*keys)
    c = counts.select(
        *keys,
        "k",
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    qarr = F.explode(F.array(*[F.lit(float(q)) for q in qs]))
    cq = c.withColumn("q", qarr).withColumn(
        "r", F.col("q") * (F.col("n") - 1).cast("double")
    ).withColumn("kk", F.floor("r").cast("long"))
    # v_lo = bucket value at sorted position kk; v_hi at kk+1 (both
    # "first bucket whose cumulative count exceeds the position")
    agg = cq.groupBy(*keys, "q").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("cum") > F.col("kk"), F.col("k"))
        ).alias("v_lo"),
        F.min(
            F.when(F.col("cum") > F.col("kk") + 1, F.col("k"))
        ).alias("v_hi"),
        F.max(F.col("r") - F.col("kk")).alias("frac"),
    )
    p = (
        F.col("v_lo").cast("double")
        + F.col("frac")
        * (F.coalesce(F.col("v_hi"), F.col("v_lo")).cast("double")
           - F.col("v_lo").cast("double"))
    ) * F.lit(float(precision))
    return agg.select(
        *keys, "q", "n", F.round(p, 6).alias("p")
    )


def anomaly_zscore_sharded(series: DataFrame, range_seconds: int = 3600,
                           z_thresh: float = 2.0, min_n: int = 5,
                           keys: list[str] | None = None,
                           shard_seconds: int = 86400,
                           value_decimals: int | None = None) -> DataFrame:
    """:func:`anomaly_zscore` with PARALLEL windows — identical output.

    The plain operator partitions its window by ``keys``; keyed on a
    low-cardinality stream (e.g. per-metric alerting: ~6 metrics) that
    caps parallelism at |keys| tasks no matter the cluster — a single
    executor core drags a 100 TB scan.  Because the frame is BOUNDED
    (trailing ``range_seconds``), the window parallelizes exactly:

    1. every row lands in its time shard (``shard_seconds`` wide,
       must be ≥ range_seconds);
    2. rows in the last ``range_seconds`` of each shard are COPIED
       into the next shard as context (flagged, never emitted);
    3. the window partitions by (keys…, shard) — parallelism becomes
       |keys| × |shards| — and every original row sees its full
       trailing frame (the frame reaches at most range_seconds back,
       entirely inside own-shard + copied context);
    4. context copies are dropped after scoring.

    Shuffle cost: rows duplicated ≈ range/shard fraction (1h/1d ≈ 4%).
    Output is row-identical to the unsharded operator (pytest equality
    on boundary-straddling data; the driver oracle stays the plain
    global-window SQL)."""
    keys = keys or KEYS
    if shard_seconds < range_seconds:
        raise ValueError("shard must be at least the frame range")
    range_us = int(range_seconds) * 1_000_000
    shard_us = int(shard_seconds) * 1_000_000
    tus = epoch_us(F.col("ts"))
    shard0 = (tus - tus % F.lit(shard_us)).alias("shard")
    base = series.select(*keys, "ts", "turn_idx", "value")
    own = base.select(
        "*", shard0, F.lit(False).alias("_ctx")
    )
    ctx = (
        base.where(
            tus % F.lit(shard_us) >= F.lit(shard_us - range_us)
        ).select(
            "*",
            (tus - tus % F.lit(shard_us) + F.lit(shard_us)).alias("shard"),
            F.lit(True).alias("_ctx"),
        )
    )
    allrows = own.unionByName(ctx)
    w = (
        Window.partitionBy(*keys, "shard")
        .orderBy(epoch_us(F.col("ts")))
        .rangeBetween(-range_us, -1)
    )
    v = F.col("value")
    n_prev, mu, sigma = _anomaly_moments(w, value_decimals)
    scored = allrows.select(
        *keys,
        "ts",
        "turn_idx",
        "value",
        "_ctx",
        n_prev.alias("n_prev"),
        mu.alias("mu"),
        sigma.alias("sigma"),
    ).withColumn(
        # floor-quantize, never round(): even on bit-identical doubles
        # Spark rounds the shortest-decimal repr while DuckDB rounds
        # the binary value — they disagree at exact midpoints, which
        # decimal-quantized inputs hit systematically.  floor of the
        # same double is deterministic everywhere.
        "z",
        F.floor(
            F.when(F.col("sigma") > 0, (v - F.col("mu")) / F.col("sigma"))
            * F.lit(1e4)
        ) / F.lit(1e4),
    )
    return (
        scored.where(
            (~F.col("_ctx"))
            & (F.col("n_prev") >= min_n)
            & (F.abs(F.col("z")) >= z_thresh)
        )
        .select(
            *keys,
            "ts",
            "turn_idx",
            "value",
            "n_prev",
            (F.floor(F.col("mu") * F.lit(1e4)) / F.lit(1e4)).alias("mu"),
            (F.floor(F.col("sigma") * F.lit(1e4)) / F.lit(1e4))
            .alias("sigma"),
            "z",
        )
    )


def ewma(series: DataFrame, alpha: float = 0.3,
         keys: list[str] | None = None) -> DataFrame:
    """Exponentially weighted moving average per series:
    y₁ = x₁, y_t = (1−α)·y_{t−1} + α·x_t over the (ts, turn_idx)
    order — the classic smoothing recursion (pandas
    ``ewm(adjust=False)``, verified bit-identical to the explicit
    float64 recursion, so the DuckDB recursive-CTE oracle reproduces
    it exactly before any rounding).

    Shape: the recursion is inherently sequential WITHIN a series and
    embarrassingly parallel ACROSS series.  NOT a per-series
    applyInPandas: tens of thousands of tiny Arrow groups pay ~10x in
    per-group transfer overhead (measured 9.7 s → 1.5 s at sf0.1).
    Instead, hash-repartition on the series keys, sortWithinPartitions
    by (keys, ts, turn_idx), and run ONE pandas GroupBy.ewm per
    partition over the concatenated Arrow stream — a series never
    straddles partitions (hash partitioning guarantees it), and
    pandas' grouped C kernel runs the same recursion per series.  For
    series too long for one partition's memory, the recursion
    telescopes: y_t = (1−α)ᵗ⁻ˢ·y_s + Σ…, so a chunked variant only
    needs the previous chunk's last y (the streaming analogue lives in
    rate_stream's 3-number-state pattern)."""
    keys = keys or KEYS
    a = float(alpha)
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", ts timestamp, turn_idx int, value double, ewma double"
    )
    cols = [*keys, "ts", "turn_idx", "value"]

    def _ewm(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        # rows arrive partition-sorted by (keys, _ord, turn_idx), so
        # each series is contiguous and in order — but do NOT assume
        # the grouped-ewm RESULT comes back in appearance order
        # (measured: pandas returns group blocks in an internal order
        # on 13/16 real partitions).  Align by the original row index
        # it carries instead.
        y = (
            pdf.groupby(keys, sort=False)["value"]
            .ewm(alpha=a, adjust=False)
            .mean()
            .reset_index(level=keys, drop=True)
        )
        out = pdf[cols].copy()
        out["ewma"] = y  # index-aligned assignment
        yield out

    with_ord = series.select(
        *cols, epoch_us(F.col("ts")).alias("_ord")
    )
    # explicit count: bare repartition(cols) lets AQE coalesce the
    # exchange to its advisory size and starves the Python workers
    # (see chunks.encode_chunks for the measurement)
    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(series.sparkSession)
    part = with_ord.repartition(n_part, *[F.col(k) for k in keys]) \
        .sortWithinPartitions(*keys, "_ord", "turn_idx")
    # The recursion is bit-identical across pandas / DuckDB (verified),
    # so quantize with floor(y·1e6)/1e6 — a deterministic function of
    # the shared double.  round() is NOT usable here: Spark's
    # BigDecimal HALF_UP and DuckDB's float-space rounding disagree on
    # values the recursion actually lands on (measured 1e-6 flips).
    return part.mapInPandas(_ewm, schema).withColumn(
        "ewma", F.floor(F.col("ewma") * F.lit(1e6)) / F.lit(1e6)
    )


def cusum(series: DataFrame, h: float = 5.0,
          keys: list[str] | None = None) -> DataFrame:
    """Two-sided CUSUM changepoint scores per series (Page 1954):
    s⁺_t = max(0, s⁺_{t−1} + (x_t − μ)), s⁻ symmetric, alert when
    either side exceeds h·σ — the standard drift detector over
    per-conversation turn-rate/token series.

    No sequential kernel: the clamped recursion telescopes to
    s⁺_t = p_t − min(0, min_{j≤t} p_j) with p the running sum of
    deviations — a cumulative sum plus a running min, pure window
    algebra, one shuffle.  (Same trick family as M4/heartbeat:
    re-express the "inherently sequential" operator as order-window
    primitives Spark executes in one sorted pass.)

    Cross-engine exactness: deviations are scaled to integers
    (e_t = n·v_cents,t − Σv_cents), so p, the running extrema, and the
    scores are exact BIGINT in both engines — no float cumsum whose
    summation order could drift (DuckDB's segment-tree window sums add
    in a different order than Spark's running aggregation).  The alert
    compares (s')² > h²·(n·Σv² − (Σv)²) on doubles DERIVED from those
    identical integers.  Output scores are rescaled to value units
    (s' / (n·100)).

    Scale notes: two window specs over ONE partitioning (per-series
    totals + ordered prefix) — a single sort-shuffle; state per row is
    O(1).  μ here is the full-series mean (retrospective CUSUM); the
    online form seeds μ from a reference window and runs in the
    streaming rate_stream state pattern."""
    keys = keys or KEYS
    wall = Window.partitionBy(*keys)
    word = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("ts")), "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v = snap("value", VALUE_DECIMALS)
    base = series.select(
        *keys, "ts", "turn_idx", v.alias("_v")
    ).select(
        "*",
        F.count("_v").over(wall).alias("_n"),
        F.sum("_v").over(wall).alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).over(wall).alias("_s2"),
    )
    e = F.col("_n") * F.col("_v") - F.col("_s1")
    p = F.sum(e).over(word)
    scored = base.select(
        *keys, "ts", "turn_idx", "_n", "_s1", "_s2",
        p.alias("_p"),
        F.least(F.lit(0).cast("long"), F.min(p).over(word)).alias("_lo"),
        F.greatest(F.lit(0).cast("long"), F.max(p).over(word)).alias("_hi"),
    )
    sp = (F.col("_p") - F.col("_lo")).cast("double")
    sm = (F.col("_hi") - F.col("_p")).cast("double")
    var = (
        co_moment("_n", "_s1", "_s1", "_s2")
    ).cast("double")
    scale = F.col("_n").cast("double") * F.lit(float(SCALE))
    hh = F.lit(float(h) * float(h))
    return scored.select(
        *keys, "ts", "turn_idx",
        F.round(sp / scale, 6).alias("s_plus"),
        F.round(sm / scale, 6).alias("s_minus"),
        ((sp * sp > hh * var) | (sm * sm > hh * var)).alias("alert"),
    )


def mad_outliers(series: DataFrame, k: float = 3.0,
                 keys: list[str] | None = None) -> DataFrame:
    """Robust outlier detection via median absolute deviation: flag
    points with |v - median| > k * MAD per key group.  Unlike the
    z-score detectors, both the center and the spread are medians, so
    a handful of extreme points cannot inflate the threshold that is
    supposed to catch them (the classic breakdown-point argument for
    MAD over stddev).

    Cross-engine exactness: values are snapped to integer units
    (10^VALUE_DECIMALS), so the exact interpolated medians land on
    .5-steps and the deviations on .25-steps — all exact in binary
    floating point; the k*MAD comparison is therefore deterministic
    across engines (same contract as rolling_p95 / latency
    percentiles).  score = dev/MAD is a single float division on both
    sides, rounded to 6dp.

    Scale (100 TB): `percentile` is an exact aggregate — it buffers a
    group's values, so memory is O(points per key group).  With
    low-cardinality keys (per-metric medians) the bounded-memory path
    is quantiles_scalable / the HDR sketch; this operator is the
    exact form for grouped medians at moderate group sizes.  Two
    grouped aggregations + two small joins (the per-key median tables
    are tiny and broadcast)."""
    keys = keys or ["metric"]
    s = series.withColumn(
        "_v", snap("value", VALUE_DECIMALS)
    )
    med = s.groupBy(*keys).agg(
        F.expr("percentile(_v, 0.5)").alias("_med")
    )
    d = s.join(F.broadcast(med), keys).withColumn(
        "_dev", F.abs(F.col("_v") - F.col("_med"))
    )
    mad = d.groupBy(*keys).agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad")
    )
    out = d.join(F.broadcast(mad), keys).where(
        F.col("_dev") > F.lit(float(k)) * F.col("_mad")
    )
    score = F.when(F.col("_mad") > 0, F.col("_dev") / F.col("_mad"))
    return out.select(
        *keys, "ts", "turn_idx", "value",
        F.round(F.col("_med") / SCALE, 6).alias("med"),
        F.round(F.col("_mad") / SCALE, 6).alias("mad"),
        F.round(score, 6).alias("score"),
    )


def spearman_hourly_pairs(series: DataFrame, min_n: int = 12,
                          r_min: float | None = None) -> DataFrame:
    """Spearman rank correlation between conversation pairs over
    co-occurring hourly mean values — the rank-based (monotone,
    outlier-robust) companion to the reference's exact Pearson report:
    a pair moving together nonlinearly scores high here and low on
    Pearson.

    Average ranks for ties with ONE sort per rank column:
    avg_rank = rank_asc + (tie_cnt − 1)/2, where tie_cnt is a count
    window over (pair, value).  Both windows sort-satisfy on the SAME
    (pair, value) order, so Spark plans one exchange on the pair key
    and exactly two sorts (one per column) — measured 2x faster than
    the 4-sort (rank_asc + rank_desc) identity at sf0.1.  Ranks are
    .5-step exact, so the moment sums behave exactly like every other
    correlation in the engine (round-6 contract).

    Scale: the pair source is the same hourly-bucket equi-join as
    corr_pairs_hourly (shuffle keyed on bucket, never cartesian);
    the rank windows shuffle once on the pair key.  Pairs are bounded
    by co-occurrence, and the ε-grid candidate prune composes in
    front of this exactly as it does for Pearson."""
    h = series.groupBy(
        F.col("conv_id"), F.date_trunc("hour", "ts").alias("b")
    ).agg(F.avg("value").alias("v"))
    a = h.select(F.col("conv_id").alias("ua"), "b", F.col("v").alias("va"))
    b = h.select(F.col("conv_id").alias("ub"), "b", F.col("v").alias("vb"))
    p = a.join(b, "b").where(F.col("ua") < F.col("ub"))

    pair = Window.partitionBy("ua", "ub")

    def _avg_rank(col: str) -> Column:
        asc = F.rank().over(pair.orderBy(F.col(col).asc()))
        ties = F.count("*").over(Window.partitionBy("ua", "ub", col))
        return asc + (ties - 1) / 2.0

    r = p.select(
        "ua", "ub",
        _avg_rank("va").alias("ra"),
        _avg_rank("vb").alias("rb"),
    )
    g = r.groupBy("ua", "ub").agg(
        F.count("*").alias("n"),
        F.covar_pop("ra", "rb").alias("cov"),
        F.stddev_pop("ra").alias("sa"),
        F.stddev_pop("rb").alias("sb"),
    )
    out = (
        g.where(F.col("n") >= min_n)
        .select(
            "ua", "ub", "n",
            F.round(
                pearson_guarded(F.col("cov"), F.col("sa"), F.col("sb")), 6
            ).alias("rho_s"),
        )
        .where(F.col("rho_s").isNotNull())
    )
    if r_min is not None:
        out = out.where(F.abs(F.col("rho_s")) >= float(r_min))
    return out


def trend_daily(series: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Per-(key, day) least-squares linear trend — slope and intercept
    of value over time-of-day, the "is this metric drifting" primitive
    under every capacity dashboard.

    Exactness: x = seconds since day start (int), y = integer units of
    10^VALUE_DECIMALS; per-row products x·y and x·x fit comfortably in
    int64, and the MOMENT SUMS are decimal(38,0) (Spark) / hugeint
    (DuckDB) — exact 128-bit integers in both engines.  slope =
    (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) has an exactly-integer numerator
    and denominator; each engine performs ONE double division on
    identical integers, so the rounded outputs agree bit-for-bit.

    Scale: a single hash aggregation keyed on (keys, day) — partial
    aggregation collapses map-side, shuffle volume ≈ |groups|.  The
    decimal(38,0) accumulators are why this survives 100 TB groups:
    int64 Σxy overflows near n ≈ 10^6 rows/group (x·y ≈ 8.6e12 each),
    decimal38 not until n ≈ 10^25."""
    keys = keys or ["metric"]
    day = F.date_trunc("day", "ts")
    x = ((epoch_us(F.col("ts")) - epoch_us(day)) / F.lit(1_000_000)).cast(
        "long"
    )
    y = snap("value", VALUE_DECIMALS)
    s = series.select(
        *keys, day.alias("day_ts"), x.alias("x"), y.alias("y")
    )
    g = s.groupBy(*keys, "day_ts").agg(
        *moments("x", "y", names="n sx sy sxx - sxy"),
    )
    num = co_moment("n", "sx", "sy", "sxy").cast("double")
    den = co_moment("n", "sx", "sx", "sxx").cast("double")
    slope_units_per_sec = F.when(den > 0, num / den)
    # value-units per hour: * 3600 / scale (exact double scaling)
    slope = slope_units_per_sec * F.lit(3600.0 / SCALE)
    intercept = F.when(
        den > 0,
        (
            F.col("sy").cast("double")
            - slope_units_per_sec * F.col("sx").cast("double")
        )
        / F.col("n").cast("double")
        / F.lit(float(SCALE)),
    )
    return g.select(
        *keys, "day_ts",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round(intercept, 6).alias("intercept_v"),
    )


def lttb_downsample(series: DataFrame, trunc: str = "hour",
                    keys: list[str] | None = None) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    — ONE representative point per (series, bucket), the one forming
    the largest triangle with its neighbor buckets' mean points.  The
    shape-preserving companion to M4: M4 keeps extremes for pixel
    fidelity, LTTB keeps visual salience at one point per bucket.

    Variant: the left anchor is the PREVIOUS BUCKET'S MEAN (not the
    previously-selected point).  Standard LTTB's anchor chain is a
    sequential recursion — unshardable; the fixed-anchor form is the
    published parallel simplification and is what a distributed
    engine can honestly compute in one pass.  First/last buckets of a
    series pin their first/last point (LTTB keeps endpoints).

    Cross-engine exactness (the interesting part): the triangle area
    argmax is decided on EXACT INTEGERS.  With x = whole seconds from
    the current bucket start and y = integer value units, clearing
    the anchor-mean denominators (n1·n3, shared by every candidate in
    the bucket) turns 2·area into

        N = (Sx1·n3 − Sx3·n1)·(y·n1 − Sy1) − (Sx1 − x·n1)·(Sy3·n1 − Sy1·n3)

    computed wholly in decimal(38,0) (Spark) / hugeint (DuckDB) —
    no float enters the comparison, so the argmax (ties broken by the
    packed (ts, turn_idx) key) is bit-identical across engines.
    |N| stays under 10^33 even at 10^6 points/bucket with month-wide
    bucket gaps, well inside 38 digits.

    Scale: one hash-agg (bucket sums), one |buckets|-row window for
    neighbors, one equi-join back to points, one per-bucket window
    for the argmax — shuffles keyed on (keys[, bucket]); no
    all-pairs, no driver collect."""
    keys = keys or ["metric"]

    s = series.select(
        *keys, "ts", "turn_idx", "value",
        F.date_trunc(trunc, "ts").alias("bucket_ts"),
    ).withColumn(
        "x",
        (
            (epoch_us(F.col("ts")) - epoch_us(F.col("bucket_ts")))
            / F.lit(1_000_000)
        ).cast("long"),
    ).withColumn("y", snap("value", VALUE_DECIMALS))

    g = s.groupBy(*keys, "bucket_ts").agg(
        F.count("*").alias("bn"),
        F.sum(wide("x")).alias("bsx"),
        F.sum(wide("y")).alias("bsy"),
    )
    w = Window.partitionBy(*keys).orderBy("bucket_ts")
    gg = g.select(
        *keys, "bucket_ts", "bn",
        F.lag("bn").over(w).alias("n1"),
        F.lag("bsx").over(w).alias("sx1"),
        F.lag("bsy").over(w).alias("sy1"),
        F.lag("bucket_ts").over(w).alias("b1"),
        F.lead("bn").over(w).alias("n3"),
        F.lead("bsx").over(w).alias("sx3"),
        F.lead("bsy").over(w).alias("sy3"),
        F.lead("bucket_ts").over(w).alias("b3"),
    )
    j = s.join(gg, [*keys, "bucket_ts"])

    # shift neighbor x-sums into the current bucket's second offsets:
    # Sx_rel = Sx_own + n * (neighbor_start - current_start) seconds
    def _shift(sx, n, b):
        dsec = wide((
            (epoch_us(F.col(b)) - epoch_us(F.col("bucket_ts")))
            / F.lit(1_000_000)
        ).cast("long"))
        return F.col(sx) + wide(n) * dsec

    sx1 = _shift("sx1", "n1", "b1")
    sx3 = _shift("sx3", "n3", "b3")
    n1 = wide("n1")
    n3 = wide("n3")
    xx = wide("x")
    yy = wide("y")
    big_n = (sx1 * n3 - sx3 * n1) * (yy * n1 - F.col("sy1")) - (
        sx1 - xx * n1
    ) * (F.col("sy3") * n1 - F.col("sy1") * n3)
    score = F.when(
        F.col("n1").isNotNull() & F.col("n3").isNotNull(), F.abs(big_n)
    )
    pk = packed_order_key(trunc)
    pk_adj = F.when(
        F.col("n1").isNotNull() & F.col("n3").isNull(), -pk
    ).otherwise(pk)

    w_pick = Window.partitionBy(*keys, "bucket_ts").orderBy(
        score.desc_nulls_last(), pk_adj.asc()
    )
    return (
        j.withColumn("_rn", F.row_number().over(w_pick))
        .where(F.col("_rn") == 1)
        .select(*keys, "bucket_ts", F.col("bn").alias("n"), "ts", "value")
    )


def des_brown(series: DataFrame, alpha: float = 0.3,
              keys: list[str] | None = None) -> DataFrame:
    """Brown's double exponential smoothing: the EWMA of the EWMA,
    giving a LEVEL and a TREND estimate per point —
    s1_t = (1−α)s1_{t−1} + α·x_t,  s2_t = (1−α)s2_{t−1} + α·s1_t,
    level = 2·s1 − s2,  trend = α/(1−α)·(s1 − s2).
    Unlike Holt's two-parameter recursion this is two CHAINED plain
    EWMAs, so both passes run in pandas' C ewm kernel (no Python
    per-row loop) and the DuckDB recursive-CTE oracle reproduces the
    float64 recursion bit-for-bit — same contract as `ewma`.

    Same execution shape as `ewma` (hash-repartition on the series
    keys, one sorted pandas kernel per partition — NOT per-series
    Arrow groups; see ewma's 10x measurement), one extra column
    through the same kernel."""
    keys = keys or KEYS
    a = float(alpha)
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", ts timestamp, turn_idx int, value double,"
        + " s1 double, s2 double"
    )
    cols = [*keys, "ts", "turn_idx", "value"]

    def _des(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        g = pdf.groupby(keys, sort=False)
        s1 = (
            g["value"].ewm(alpha=a, adjust=False).mean()
            .reset_index(level=keys, drop=True)
        )
        pdf["_s1"] = s1  # index-aligned (see ewma: group-block order)
        s2 = (
            pdf.groupby(keys, sort=False)["_s1"]
            .ewm(alpha=a, adjust=False)
            .mean()
            .reset_index(level=keys, drop=True)
        )
        out = pdf[cols].copy()
        out["s1"] = s1
        out["s2"] = s2
        yield out

    with_ord = series.select(*cols, epoch_us(F.col("ts")).alias("_ord"))
    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(series.sparkSession)
    part = with_ord.repartition(n_part, *[F.col(k) for k in keys]) \
        .sortWithinPartitions(*keys, "_ord", "turn_idx")
    raw = part.mapInPandas(_des, schema)
    # level/trend assembled JVM-side from the shared doubles; floor
    # quantization (not round) — see ewma for why HALF_UP diverges
    level = F.lit(2.0) * F.col("s1") - F.col("s2")
    trend = F.lit(a / (1.0 - a)) * (F.col("s1") - F.col("s2"))

    def _q(c):
        return F.floor(c * F.lit(1e6)) / F.lit(1e6)

    return raw.select(
        *cols,
        _q(level).alias("level"),
        _q(trend).alias("trend"),
    )


def mann_kendall_daily(series: DataFrame, keys: list[str] | None = None,
                       min_n: int = 8) -> DataFrame:
    """(keys..., day_ts, n, s_stat, z): Mann-Kendall trend test per
    (key, day) — the NONPARAMETRIC companion to trend_daily's OLS
    slope: monotone-trend detection that no outlier can drag, the
    standard test in environmental/ops monitoring.

        S = Σ_{i<j} sign(x_j − x_i)          (time-ordered pairs)
        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (tie-corrected)
        z = (S−1)/√Var  if S>0,  (S+1)/√Var  if S<0,  0 if S=0

    S, n and the tie term are EXACT integers on cent-snapped values
    (sign() of an integer difference), so z is one IEEE divide of an
    exact integer by the sqrt of an exact-integer/18 quotient —
    bit-identical cross-engine with NO rounding tricks needed; |z| >
    1.96 is the usual 95% trend call, left to the reader.

    Scale notes: the pair generation is an O(n²)-per-group self-join
    on (keys, day) — n is bounded by points-per-day per series (the
    same bound trend_daily's moment sums enjoy), so the quadratic is
    per-group-bounded, never corpus-wide; groups shuffle once.  For
    unbounded n use trend_daily (O(n) moments) and accept its
    outlier sensitivity — that trade is the point of having both.

    Time ties: observations sharing a microsecond are ordered by the
    data's own ordinal (turn_idx) in the pair
    condition, so they still contribute sign terms to S — a strict
    ti<tj condition would drop those pairs while Var(S) kept counting
    them in n, biasing z toward 0 on days with duplicate timestamps."""
    keys = keys or ["metric"]
    pt = series.select(
        *keys,
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        F.col("turn_idx").cast("long").alias("o"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    a = pt.select(*keys, "day_ts", F.col("t_us").alias("ti"),
                  F.col("o").alias("oi"), F.col("c").alias("ci"))
    b = pt.select(*keys, "day_ts", F.col("t_us").alias("tj"),
                  F.col("o").alias("oj"), F.col("c").alias("cj"))
    pairs = a.join(b, [*keys, "day_ts"]).where(
        (F.col("ti") < F.col("tj"))
        | ((F.col("ti") == F.col("tj")) & (F.col("oi") < F.col("oj")))
    )
    sgn = F.signum((F.col("cj") - F.col("ci")).cast("double")).cast("long")
    sg = pairs.groupBy(*keys, "day_ts").agg(
        F.sum(sgn).alias("s_stat")
    )
    ties = (
        pt.groupBy(*keys, "day_ts", "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(*keys, "day_ts")
        .agg(
            F.sum(F.lit(1)).alias("n_distinct"),
            F.sum("t").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
        )
    )
    j = sg.join(ties, [*keys, "day_ts"])
    n = F.col("n")
    var_num = n * (n - 1) * (2 * n + 5) - F.col("tie_term")
    sd = F.sqrt(var_num.cast("double") / F.lit(18.0))
    s = F.col("s_stat")
    z = F.when(var_num <= 0, F.lit(None).cast("double")).otherwise(
        F.when(s > 0, (s - 1).cast("double") / sd)
        .when(s < 0, (s + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    return j.where(n >= int(min_n)).select(
        *keys, "day_ts",
        n.cast("long").alias("n"),
        s.cast("long").alias("s_stat"),
        F.round(z, 6).alias("z"),
    )


def theil_sen_daily(series: DataFrame, keys: list[str] | None = None,
                    min_n: int = 8) -> DataFrame:
    """(keys..., day_ts, n, n_pairs, sen_slope_per_hour): Sen's slope
    estimator per (key, day) — the median of all pairwise slopes
    (x_j−x_i)/(t_j−t_i), the robust companion to mann_kendall_daily
    (MK answers "is there a monotone trend", Sen answers "how steep"
    with a 29% breakdown point no OLS slope can match).

    Exactness: each pairwise slope is ONE double division of exact
    integers — numerator (c_j−c_i)·3600·10⁶/scale (int64; overflows
    only past |Δvalue| ≈ 2.5·10¹⁰ at cents), denominator Δt in µs —
    so every slope is bit-identical cross-engine; the median is
    linear-interpolated at p=0.5 (Spark exact `percentile` and DuckDB
    `quantile_cont` both compute lo + (hi−lo)·0.5 on identical
    doubles).  Equal-timestamp pairs are excluded (slope undefined) —
    unlike MK, Sen has no tie term to correct.

    Scale notes: the SAME bounded-n policy as mann_kendall_daily —
    the pair self-join is O(n²) per (key, day) group, n bounded by
    points-per-day per series, groups shuffle once.  For unbounded n
    use trend_daily (O(n) moments) and accept its outlier
    sensitivity; this operator is deliberately NOT in the headline
    bench for the same reason MK is not."""
    keys = keys or ["metric"]
    num_mult = 3_600_000_000 // SCALE * 1  # per-hour in µs / scale
    pt = series.select(
        *keys,
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        epoch_us(F.col("ts")).alias("t_us"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    a = pt.select(*keys, "day_ts", F.col("t_us").alias("ti"),
                  F.col("c").alias("ci"))
    b = pt.select(*keys, "day_ts", F.col("t_us").alias("tj"),
                  F.col("c").alias("cj"))
    pairs = a.join(b, [*keys, "day_ts"]).where(F.col("ti") < F.col("tj"))
    slope = (
        (F.col("cj") - F.col("ci")) * F.lit(int(num_mult))
    ).cast("double") / (F.col("tj") - F.col("ti")).cast("double")
    nd = pt.groupBy(*keys, "day_ts").agg(F.count(F.lit(1)).alias("n"))
    sl = pairs.groupBy(*keys, "day_ts").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(slope, F.lit(0.5)).alias("med"),
    )
    return (
        nd.where(F.col("n") >= int(min_n))
        .join(sl, [*keys, "day_ts"])
        .select(
            *keys, "day_ts",
            F.col("n").cast("long").alias("n"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(F.col("med"), 6).alias("sen_slope_per_hour"),
        )
    )


def quantile_transform_daily(series: DataFrame,
                             keys: list[str] | None = None) -> DataFrame:
    """(keys..., day_ts, ts, turn_idx, value, q): rank-based quantile
    normalization per (key, day) — each point's value mapped to its
    within-day ECDF position percent_rank = (rank−1)/(n−1) ∈ [0,1],
    the outlier-immune normalization feature pipelines use where
    minmax_scale (one monster value crushes the rest to ~0) cannot.

    Ties: percent_rank assigns equal values the SAME rank (min rank),
    the standard SQL semantics — identical in the DuckDB oracle.  The
    ranking key is the cent-snapped integer, so no float comparison
    decides an ordering.  n=1 days emit q=0 (percent_rank's defined
    degenerate), not NULL.

    Scale notes: one shuffle keyed (keys, day) + the window sort —
    day-bounded groups keep the sort task-sized (a per-metric GLOBAL
    rank would serialize each metric through one task; the daily grain
    is the scale-sound normalization anyway)."""
    keys = keys or ["metric"]
    pt = series.select(
        *keys,
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        "ts",
        "turn_idx",
        "value",
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    w = Window.partitionBy(*keys, "day_ts").orderBy("c")
    return pt.select(
        *keys, "day_ts", "ts", "turn_idx", "value",
        F.round(F.percent_rank().over(w), 6).alias("q"),
    )


def trimmed_mean(series: DataFrame, keys: list[str] | None = None,
                 trunc: str = "day", trim: float = 0.1) -> DataFrame:
    """(keys..., bucket_ts, n, n_kept, mean_trimmed): mean of the
    central mass after dropping the lowest and highest ⌊n·trim⌋ values
    per bucket — the robust location estimate between mean (trim 0)
    and median (trim 0.5): outlier-resistant like the median but with
    far lower variance on clean data.

    Exactness: values are cent-snapped ints; k = ⌊n·trim⌋ is integer
    math; ranks come from row_number over the value order, and though
    tie order within equal values is engine-arbitrary, the KEPT SUM is
    tie-invariant (any k lowest-by-value rows have the same total), so
    the final one-divide mean is bit-identical cross-engine.

    Scale notes: one rank window per (keys, bucket) — the same
    day-bounded sort quantile_transform pays — then a hash-agg."""
    keys = keys or ["metric"]
    v = series.select(
        *keys,
        F.date_trunc(trunc, "ts").alias("bucket_ts"),
        snap("value", VALUE_DECIMALS).alias("_v"),
    )
    w = Window.partitionBy(*keys, "bucket_ts").orderBy("_v")
    cnt = Window.partitionBy(*keys, "bucket_ts")
    r = v.select(
        *keys, "bucket_ts", "_v",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    k = F.floor(F.col("n") * F.lit(float(trim))).cast("long")
    kept = r.where((F.col("i") > k) & (F.col("i") <= F.col("n") - k))
    g = kept.groupBy(*keys, "bucket_ts").agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("_v").cast("long").alias("s"),
    )
    return g.select(
        *keys, "bucket_ts", "n", "n_kept",
        F.round(
            F.col("s").cast("double") / F.col("n_kept").cast("double")
            / F.lit(float(SCALE)), 6
        ).alias("mean_trimmed"),
    )


def peak_census(series: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """(keys..., peak_ts, mean_v, drop): strict local maxima of the
    hourly-mean series within each day — every hour whose mean exceeds
    BOTH neighbours, with `drop` = height above the taller neighbour
    (a one-sided prominence: how far the series falls off the peak).
    First/last hours of a day have a missing neighbour and never
    qualify — peaks are judged only where both sides are observed.

    Exactness: hourly means are one divide of exact integers (cent sum
    / count), so both engines hold identical doubles; the lag/lead
    comparisons and the drop subtraction are fixed expressions over
    those identical values, 6-dp rounded on output only.

    Scale notes: one hash-agg to |keys|·|hours| rows, then one
    day-partitioned window (lag+lead share the sort) — no joins."""
    keys = keys or ["metric"]
    hourly = series.groupBy(
        *keys, F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap("value", VALUE_DECIMALS)).alias("sc"),
    ).select(
        *keys, "hour_ts",
        (F.col("sc").cast("double") / F.col("n").cast("double"))
        .alias("m"),
    )
    w = Window.partitionBy(
        *keys, F.date_trunc("day", "hour_ts")
    ).orderBy("hour_ts")
    lagm = F.lag("m").over(w)
    leadm = F.lead("m").over(w)
    x = hourly.select(
        *keys, "hour_ts", "m",
        lagm.alias("_lo"), leadm.alias("_hi"),
    ).where(
        F.col("_lo").isNotNull() & F.col("_hi").isNotNull()
        & (F.col("m") > F.col("_lo")) & (F.col("m") > F.col("_hi"))
    )
    return x.select(
        *keys,
        F.col("hour_ts").alias("peak_ts"),
        F.round(F.col("m") / F.lit(float(SCALE)), 6).alias("mean_v"),
        F.round(
            (F.col("m") - F.greatest("_lo", "_hi")) / F.lit(float(SCALE)),
            6
        ).alias("drop"),
    )


def proportion_wilson(events: DataFrame, success_col,
                      keys: list[str] | None = None,
                      trunc: str = "day",
                      z: float = 1.959963984540054) -> DataFrame:
    """(keys..., bucket_ts, n, x, p, ci_lo, ci_hi): Wilson score
    interval for a per-bucket proportion (default 95%) — the
    uncertainty-aware form of a rate dashboard: a 100%-error hour with
    n = 2 should NOT page anyone, and the naive p̂ ± z·√(p̂q̂/n)
    interval that collapses to a point at p̂ ∈ {0, 1} is exactly the
    case Wilson fixes.

        center = (p̂ + z²/2n) / (1 + z²/n)
        hw     = z·√(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)

    Exactness: x and n are exact integer counts; both engines evaluate
    the IDENTICAL expression tree over them (every op deterministic
    IEEE double, √ correctly rounded), so the 6-dp-rounded bounds
    match bit-for-bit — same contract as granger_gain's R² tree.

    Scale notes: ONE map-side-combined hash-agg (conditional count),
    |keys|·|buckets| output rows, no joins or windows."""
    keys = keys or []
    g = events.groupBy(
        *keys, F.date_trunc(trunc, "ts").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(success_col, 1).otherwise(0)).cast("long").alias("x"),
    )
    nd = F.col("n").cast("double")
    p = F.col("x").cast("double") / nd
    zz = F.lit(float(z)) * F.lit(float(z))
    denom = F.lit(1.0) + zz / nd
    center = (p + zz / (2 * nd)) / denom
    hw = (
        F.lit(float(z))
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zz / (4 * nd * nd))
        / denom
    )
    return g.select(
        *keys, "bucket_ts", "n", "x",
        F.round(p, 6).alias("p"),
        F.round(F.greatest(F.lit(0.0), center - hw), 6).alias("ci_lo"),
        F.round(F.least(F.lit(1.0), center + hw), 6).alias("ci_hi"),
    )


def expanding_zscore(series: DataFrame, min_n: int = 3) -> DataFrame:
    """(conv_id, metric, ts, turn_idx, value, n_prior, z): each point
    scored against ALL PRIOR points of its own series — the
    cold-start-honest anomaly form (anomaly_zscore judges against a
    trailing window and goes blind early; this has an opinion from
    point min_n+1 on and needs no window-length tuning).

        z_t = (x_t·n − Σx) / √(n·Σx² − (Σx)²)      over the n priors

    — numerator and variance term are EXACT int64s on cent values
    (running sums via one prior-rows frame), so z is one IEEE divide +
    √ both engines share; output is floor-snapped to 6 dp (floor, not
    round: the streaming twin computes the identical ints in numpy,
    and floor is the rounding all three runtimes — JVM, numpy,
    DuckDB — perform identically).  NULL until min_n priors or while
    the priors are constant (zero variance).

    int64 bound: Σx² < 2⁶³ holds to ~10⁸ points/series at 10⁴ cents —
    beyond that the decimal38 batch form applies; the streaming twin
    (streaming/zscore_stream.py) carries the same ints and is
    BIT-EQUAL across any micro-batch split.

    Scale notes: one shuffle to (conv, metric) groups, one in-group
    sort shared by all three running sums — O(points) state-free."""
    v = snap("value", VALUE_DECIMALS)
    w = (
        Window.partitionBy("conv_id", "metric")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = series.select(
        "conv_id", "metric", "ts", "turn_idx", "value", v.alias("_v")
    ).select(
        "conv_id", "metric", "ts", "turn_idx", "value", "_v",
        F.count("_v").over(w).alias("_cn"),
        F.sum("_v").over(w).alias("_cs"),
        F.sum(F.col("_v") * F.col("_v")).over(w).alias("_css"),
    )
    var_num = co_moment("_cn", "_cs", "_cs", "_css")
    z_raw = (
        (F.col("_v") * F.col("_cn") - F.col("_cs")).cast("double")
        / F.sqrt(var_num.cast("double"))
    )
    z = F.when(
        (F.col("_cn") >= int(min_n)) & (var_num > 0),
        F.floor(z_raw * 1e6) / 1e6,
    )
    return base.select(
        "conv_id", "metric", "ts", "turn_idx", "value",
        F.coalesce(F.col("_cn"), F.lit(0)).cast("long").alias("n_prior"),
        z.alias("z"),
    )


def holt_winters(series: DataFrame, period: int = 24,
                 alpha: float = 0.3, beta: float = 0.1,
                 gamma: float = 0.2,
                 keys: list[str] | None = None) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing per series —
    the seasonal member of the ewma → des_brown family, with the same
    cross-engine contract: the float64 recursion is replayed
    bit-for-bit by the DuckDB recursive-CTE oracle, outputs
    floor-quantized to 6 dp.

    Recursions (t is the 0-based position in ts order, m = period):

        warm-up  t < m :  plain Holt level/trend
                          l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1})
                          b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
                          and the season buffer records x_t − l_t
                          (l_0 = x_0, b_0 = 0; outputs NULL — no
                          seasonal estimate exists yet)
        t ≥ m :           s_old = season recorded m steps ago
                          fitted_t = l_{t−1} + b_{t−1} + s_old  (the
                            one-step-ahead forecast, made BEFORE x_t)
                          l_t = α(x_t − s_old) + (1−α)(l_{t−1}+b_{t−1})
                          b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
                          s_t = γ(x_t − l_{t−1} − b_{t−1}) + (1−γ)s_old

    The warm-up convention is deliberately elementwise (no mean over
    the first season): every operation is a fixed-order IEEE
    multiply/add both engines perform identically — a mean would hit
    numpy-pairwise vs SQL-sequential summation-order divergence.

    Output: (keys..., ts, value, fitted, level, trend, season); the
    first `period` rows of each series carry NULLs.

    Scale notes: same execution shape as des_brown — hash-repartition
    on the series keys, ONE sorted python pass per partition; state is
    O(period) per live series.  Series length is unbounded (the loop
    streams), but a series must fit one partition — at 100 TB feed
    BUCKETED series (hourly means), not raw events."""
    keys = keys or ["metric"]
    m = int(period)
    a, bta, g = float(alpha), float(beta), float(gamma)
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", ts timestamp, value double, fitted double,"
        + " level double, trend double, season double"
    )
    cols = [*keys, "ts", "value"]

    def _hw_one(x):
        n = len(x)
        fit = np.full(n, np.nan)
        lev = np.full(n, np.nan)
        trd = np.full(n, np.nan)
        sea = np.full(n, np.nan)
        if n == 0:
            return fit, lev, trd, sea
        seas = []
        l = float(x[0])
        b = 0.0
        seas.append(float(x[0]) - l)
        for t in range(1, n):
            xv = float(x[t])
            if t < m:
                lp = l
                l = a * xv + (1.0 - a) * (lp + b)
                b = bta * (l - lp) + (1.0 - bta) * b
                seas.append(xv - l)
            else:
                s_old = seas[0]
                fit[t] = l + b + s_old
                lp, bp = l, b
                l = a * (xv - s_old) + (1.0 - a) * (lp + bp)
                b = bta * (l - lp) + (1.0 - bta) * bp
                s_new = g * (xv - lp - bp) + (1.0 - g) * s_old
                seas = seas[1:]
                seas.append(s_new)
                lev[t], trd[t], sea[t] = l, b, s_new
        return fit, lev, trd, sea

    def _hw(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        outs = []
        for _, grp in pdf.groupby(keys, sort=False):
            fit, lev, trd, sea = _hw_one(
                grp["value"].to_numpy(dtype=np.float64)
            )
            out = grp[cols].copy()
            out["fitted"], out["level"] = fit, lev
            out["trend"], out["season"] = trd, sea
            outs.append(out)
        yield pd.concat(outs, ignore_index=True)

    with_ord = series.select(*cols, epoch_us(F.col("ts")).alias("_ord"))
    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(series.sparkSession)
    part = with_ord.repartition(n_part, *[F.col(k) for k in keys]) \
        .sortWithinPartitions(*keys, "_ord")
    raw = part.mapInPandas(_hw, schema)

    def _q(c):
        # floor quantization; NaN (warm-up) becomes NULL via nanvl
        qq = F.floor(c * F.lit(1e6)) / F.lit(1e6)
        return F.when(~F.isnan(c), qq)

    return raw.select(
        *cols,
        _q(F.col("fitted")).alias("fitted"),
        _q(F.col("level")).alias("level"),
        _q(F.col("trend")).alias("trend"),
        _q(F.col("season")).alias("season"),
    )


def markov_entropy_daily(events: DataFrame) -> DataFrame:
    """How predictable is the event stream — per day: the marginal
    entropy of the next-event distribution H(next), the first-order
    Markov conditional entropy H(next|prev), and their difference
    (the mutual information between consecutive events; 0 = memoryless,
    H(next) = deterministic chain).  Identity used:

        H(next|prev) = (1/N)[ Σ_i n_i·ln n_i − Σ_ij c_ij·ln c_ij ]

    so every float op is x·ln(x) of an EXACT integer count,
    micro-nat-snapped before summation (the entropy_daily discipline —
    the engine-variable ulp of ln() is absorbed by round(·1e6), the
    sums are integer-exact, and the final divides are single
    deterministic doubles).

    Transitions are (prev → next) lags within each stream's
    (ts, event_id)-ordered sequence, labeled by the NEXT event's day.

    Scale notes (100 TB): one per-stream window sort (the same
    partitioning every sequence operator here uses), then three
    hash-aggs over strictly shrinking keyspaces (day×type² → day×type
    → day); no joins, no global sort."""
    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), "event_id"
    )
    tr = (
        events.select(
            "user_id", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("nxt"),
        )
        .where(F.col("prev").isNotNull())
        .select(F.date_trunc("day", "ts").alias("day_ts"), "prev", "nxt")
    )

    def xlx_u(c):
        return snap(c.cast("double") * F.log(c.cast("double")), 6)

    # day×type² metadata, referenced by three downstream aggs — the
    # checkpoint keeps the per-stream lag window (the expensive sort
    # over raw events) to ONE execution
    cell = tr.groupBy("day_ts", "prev", "nxt").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)
    # per-day: Σ c_ij·ln c_ij (cells), Σ_i n_i·ln n_i (prev marginals),
    # Σ_j n_j·ln n_j (next marginals), N
    cells = cell.groupBy("day_ts").agg(
        F.sum(xlx_u(F.col("c"))).alias("u_cell"),
        F.sum("c").alias("n"),
    )
    prevm = (
        cell.groupBy("day_ts", "prev").agg(F.sum("c").alias("ni"))
        .groupBy("day_ts").agg(F.sum(xlx_u(F.col("ni"))).alias("u_prev"))
    )
    nxtm = (
        cell.groupBy("day_ts", "nxt").agg(F.sum("c").alias("nj"))
        .groupBy("day_ts").agg(F.sum(xlx_u(F.col("nj"))).alias("u_next"))
    )
    j = cells.join(prevm, "day_ts").join(nxtm, "day_ts")
    nd = F.col("n").cast("double")
    h_next = F.log(nd) - F.col("u_next").cast("double") / F.lit(1e6) / nd
    h_cond = (
        F.col("u_prev").cast("double") - F.col("u_cell").cast("double")
    ) / F.lit(1e6) / nd
    return j.select(
        "day_ts",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(h_next, 6).alias("h_next_nats"),
        F.round(h_cond, 6).alias("h_cond_nats"),
        F.round(h_next - h_cond, 6).alias("info_gain_nats"),
    )


def moments_daily(series: DataFrame,
                  keys: list[str] | None = None) -> DataFrame:
    """Skewness g1 and excess kurtosis g2 per (keys..., day) — the
    shape of the value distribution beyond mean/std (heavy right tail?
    peaked?), from EXACT integer power sums of cent-snapped values in
    decimal(38,0)/hugeint:

        B = n·S2 − S1²          (= n²·m2,  ≥ 0)
        A = n²·S3 − 3n·S1·S2 + 2·S1³          (= n³·m3)
        C = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴  (= n⁴·m4)
        g1 = A / B^1.5,   g2 = C / B² − 3

    — the n-powers cancel so each statistic is ONE double expression
    over exact decimals (B^1.5 spelled B·√B identically in both
    engines).  Headroom: |x| ≤ 10⁶ cents with n ≤ 10⁶ rows/group keeps
    S1⁴ ≤ 10⁴⁸ᐟ… within decimal38 only for |x|·n^(1/4)… practically
    |S1| < 3·10⁹ (B,A,C all < 10³⁸); ANSI decimal overflow errors
    loudly beyond, it never wraps.

    Scale notes: ONE hash-agg keyed (keys, day) with map-side partial
    combine — the cheapest possible distributed shape; no window, no
    join, no second pass for the mean."""
    keys = keys or ["metric"]
    x = wide(snap("value", VALUE_DECIMALS))
    g = series.groupBy(
        *keys, F.date_trunc("day", "ts").alias("day_ts")
    ).agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    b = (n * s2 - s1 * s1).cast("double")
    a = (n * n * s3 - wide(F.lit(3)) * n * s1 * s2
         + wide(F.lit(2)) * s1 * s1 * s1).cast("double")
    c = (n * n * n * s4 - wide(F.lit(4)) * n * n * s1 * s3
         + wide(F.lit(6)) * n * s1 * s1 * s2
         - wide(F.lit(3)) * s1 * s1 * s1 * s1).cast("double")
    nd = n.cast("double")
    return g.select(
        *keys, "day_ts",
        n.cast("long").alias("n"),
        F.round(s1.cast("double") / nd / SCALE, 6).alias("mean"),
        F.round(F.sqrt(b) / nd / SCALE, 6).alias("std"),
        F.when(b > 0, F.round(a / (b * F.sqrt(b)), 6)).alias("skew_g1"),
        F.when(b > 0, F.round(c / (b * b) - 3.0, 6)).alias("kurt_excess"),
    )


def cusum_fixed(series: DataFrame, mu: float, sigma: float,
                h: float = 5.0,
                keys: list[str] | None = None) -> DataFrame:
    """ONLINE two-sided CUSUM against a FIXED reference (μ, σ) — the
    deployable form of `cusum` (which is retrospective: its μ is the
    full-series mean and so changes as data arrives).  Same telescoped
    window algebra — s⁺_t = p_t − min(0, min_{j≤t} p_j) with
    p = Σ(v_cents − μ_cents) — but deviations are against the given
    reference, so the statistic is causal: the score at t depends only
    on rows ≤ t.  That causality is what lets the streaming twin
    (streaming/cusum_stream.py) carry (p, min p, max p) as three
    exact int64s and emit BIT-EQUAL scores across any micro-batch
    split.  Alert when s± exceeds h·σ.

    Scale notes: one sort-shuffle (the per-series ordered window),
    O(1) state per row; cents integers throughout, the only doubles
    are the final /100 rescale and the h·σ compare of exact ints."""
    keys = keys or KEYS
    mu_c = int(round(mu * SCALE))
    sig_c = int(round(sigma * SCALE))
    word = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("ts")), "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = snap("value", VALUE_DECIMALS) - F.lit(mu_c)
    p = F.sum(dev).over(word)
    scored = series.select(*keys, "ts", "turn_idx", "value").select(
        "*",
        p.alias("_p"),
        F.least(F.lit(0).cast("long"), F.min(p).over(word)).alias("_lo"),
        F.greatest(F.lit(0).cast("long"), F.max(p).over(word)).alias("_hi"),
    )
    sp = F.col("_p") - F.col("_lo")
    sm = F.col("_hi") - F.col("_p")
    thr = float(h) * sig_c
    return scored.select(
        *keys, "ts", "turn_idx", "value",
        (sp.cast("double") / SCALE).alias("s_plus"),
        (sm.cast("double") / SCALE).alias("s_minus"),
        (
            (sp.cast("double") > F.lit(thr))
            | (sm.cast("double") > F.lit(thr))
        ).alias("alert"),
    )


def cvar_daily(series: DataFrame, alpha_denom: int = 20) -> DataFrame:
    """Per-(metric, day) upper-tail risk on exact integer cents:
    VaR = the k-th largest value and CVaR (expected shortfall) = the
    mean of the k largest values, with k = ceil(n / alpha_denom)
    (alpha_denom=20 -> the worst 5%).

    Exactness: cents = round(value*100) as int64; row_number over
    cents DESC needs NO tiebreak because both outputs are order-
    statistic functionals of the multiset — the k-th largest VALUE
    and the sum of the k largest values are invariant to how equal
    cents are ranked among themselves.  The single float op is the
    final mean: one IEEE division of two exact int64s rounded to
    6 dp, identical cross-engine.

    Scale shape: one shuffle on (metric, day) for the window, one
    hash-agg — the window frame is within-day so the sort is
    per-partition-key, never global.  Days are the natural time
    partition, so at 10^12 rows this runs day-sharded with the same
    plan per shard.
    """
    cents = snap("value", VALUE_DECIMALS)
    day = F.date_trunc("day", "ts")
    base = series.select(
        F.col("metric"), day.alias("day_ts"), cents.alias("c")
    )
    w = Window.partitionBy("metric", "day_ts").orderBy(F.desc("c"))
    ranked = base.withColumn("rn", F.row_number().over(w))
    per = (
        ranked.groupBy("metric", "day_ts")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr(
                f"(count(1) + {int(alpha_denom) - 1}) div "
                f"{int(alpha_denom)}"
            ).alias("k_tail"),
            F.max(F.col("c")).alias("max_c"),
        )
    )
    tail = (
        ranked.join(per, ["metric", "day_ts"])
        .where(F.col("rn") <= F.col("k_tail"))
        .groupBy("metric", "day_ts", "n_points", "k_tail")
        .agg(
            F.min("c").alias("var_cents"),
            F.sum("c").alias("tail_cents"),
        )
    )
    return tail.select(
        "metric",
        "day_ts",
        "n_points",
        "k_tail",
        F.round(F.col("var_cents") / float(SCALE), 6).alias("var_amt"),
        F.round(
            F.col("tail_cents")
            / (F.lit(float(SCALE)) * F.col("k_tail").cast("double")),
            6,
        ).alias("cvar_amt"),
    )


def markov_accuracy(series: DataFrame, num: int = 3,
                    den: int = 5) -> DataFrame:
    """Time-split eval of the first-order Markov next-event predictor
    — the sequence-modeling baseline every fancier model must beat:
    train the mode transition prev→argmax on the FIRST num/den of the
    observed day span, score top-1 accuracy per antecedent on the
    rest.  (prev, pred, n_eval, n_hit, accuracy).

    Leakage-honest by construction: the split timestamp is
    min_day + (span_days·num) div den — an exact integer date
    derivation both engines compute identically from the data — and
    a transition belongs to train/eval by the time of its COMPLETING
    event.  The model pick is mode-with-min-tie via a rank window
    over the |states|² count table (metadata-sized); eval joins the
    broadcast model on the antecedent.  Antecedents never seen in
    train drop out of the inner join (reported upstream by
    profile_events, not silently scored).

    Scale shape: one per-conv lag window (the engine's standard
    transition source), two hash-aggs, one broadcast join — raw rows
    shuffle once.
    """
    w = Window.partitionBy("conv_id").orderBy(
        epoch_us(F.col("ts")), "turn_idx"
    )
    tr = series.select(
        F.lag("metric").over(w).alias("prev"),
        F.col("metric").alias("nxt"),
        F.col("ts"),
    ).where(F.col("prev").isNotNull())
    bounds = series.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    ).select(
        F.to_timestamp(
            F.date_add(
                F.col("d0").cast("date"),
                F.expr(
                    f"cast((datediff(d1, d0) * {int(num)})"
                    f" div {int(den)} as int)"
                ),
            )
        ).alias("split_ts")
    )
    tr = tr.crossJoin(F.broadcast(bounds))
    train = tr.where(F.col("ts") < F.col("split_ts"))
    cnts = train.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wm = Window.partitionBy("prev").orderBy(F.desc("cnt"), "nxt")
    model = (
        cnts.withColumn("r", F.row_number().over(wm))
        .where(F.col("r") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    ev = tr.where(F.col("ts") >= F.col("split_ts"))
    return (
        ev.join(F.broadcast(model), "prev")
        .groupBy("prev", "pred")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                (F.col("nxt") == F.col("pred")).cast("long")
            ).alias("n_hit"),
        )
        .select(
            "prev", "pred", "n_eval", "n_hit",
            F.round(
                F.col("n_hit").cast("double")
                / F.col("n_eval").cast("double"), 6
            ).alias("accuracy"),
        )
    )


def markov_calibration(series: DataFrame, num: int = 3,
                       den: int = 5, n_bins: int = 10) -> DataFrame:
    """Reliability diagram of the first-order Markov next-event model
    on the same leakage-honest time split as markov_accuracy — is a
    "70%" transition probability actually right 70% of the time?  Top-1
    accuracy (markov_accuracy) scores only the argmax; calibration
    scores the whole probability TABLE, which is what matters the
    moment the model's probabilities feed a downstream decision
    (sampling temperature, abstention thresholds, expected-cost
    routing).

    Every eval transition expands to one (row, class) pair per train-
    vocabulary class with p = cnt/tot (the train transition fraction,
    0 for never-seen pairs) and y = [class == actual next].  Pairs
    bucket by decile of p and each bin reports mean predicted
    probability vs observed frequency:

        (bin, n_pairs, n_pos, mean_pred, frac_obs)

    Exactness: bin = least(n_bins−1, (n_bins·cnt) div tot) and the
    micro-unit p_u = (10⁶·cnt) div tot are pure integer ops; the two
    output ratios are ONE rounded IEEE divide each, so DuckDB matches
    bit-for-bit.  Classes absent from train score y against p = 0
    cells; eval antecedents unseen in train drop with the inner join
    (markov_accuracy's contract — profile_events reports them).

    Scale shape: the class expansion multiplies eval transitions by
    |vocabulary| (single digits for event types) entirely map-side
    via a broadcast of the |states|·|classes| prob table; ONE hash-agg
    to ≤ n_bins rows ends the plan."""
    w = Window.partitionBy("conv_id").orderBy(
        epoch_us(F.col("ts")), "turn_idx"
    )
    tr = series.select(
        F.lag("metric").over(w).alias("prev"),
        F.col("metric").alias("nxt"),
        F.col("ts"),
    ).where(F.col("prev").isNotNull())
    bounds = series.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    ).select(
        F.to_timestamp(
            F.date_add(
                F.col("d0").cast("date"),
                F.expr(
                    f"cast((datediff(d1, d0) * {int(num)})"
                    f" div {int(den)} as int)"
                ),
            )
        ).alias("split_ts")
    )
    tr = tr.crossJoin(F.broadcast(bounds))
    train = tr.where(F.col("ts") < F.col("split_ts"))
    cnts = train.groupBy("prev", "nxt").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cnts.groupBy("prev").agg(F.sum("cnt").alias("tot"))
    classes = train.select(F.col("nxt").alias("cls")).distinct()
    prob = (
        tot.crossJoin(classes)
        .join(
            cnts.select("prev", F.col("nxt").alias("cls"), "cnt"),
            ["prev", "cls"],
            "left",
        )
        .select(
            "prev", "cls",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
            F.col("tot").cast("long").alias("tot"),
        )
    )
    ev = tr.where(F.col("ts") >= F.col("split_ts")).select("prev", "nxt")
    pairs = ev.join(F.broadcast(prob), "prev").select(
        F.least(
            F.lit(int(n_bins) - 1),
            F.expr(f"({int(n_bins)} * cnt) div tot"),
        ).cast("long").alias("bin"),
        F.expr("(1000000 * cnt) div tot").alias("p_u"),
        (F.col("cls") == F.col("nxt")).cast("long").alias("y"),
    )
    return (
        pairs.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("y").alias("n_pos"),
            F.sum("p_u").alias("sp_u"),
        )
        .select(
            "bin", "n_pairs", "n_pos",
            F.round(
                F.col("sp_u").cast("double")
                / (F.lit(1e6) * F.col("n_pairs").cast("double")),
                6,
            ).alias("mean_pred"),
            F.round(
                F.col("n_pos").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ).alias("frac_obs"),
        )
    )


def croston(series: DataFrame, alpha_num: int = 3,
            alpha_den: int = 10,
            keys: list[str] | None = None) -> DataFrame:
    """Croston's method for INTERMITTENT demand (Croston 1972) — the
    forecast family member EWMA/DES/Holt-Winters get wrong on sparse
    series: smoothing zeros drags the level toward 0 and the forecast
    oscillates with the gaps.  Croston smooths the nonzero demand
    SIZES and the INTERVALS between them separately and forecasts
    their ratio (expected demand per period):

        on each nonzero hour t:  z ← (1−α)z + α·d_t
                                 p ← (1−α)p + α·I_t
        forecast = z / p

    with d_t the hour's demand (event count), I_t the hour-index gap
    since the previous nonzero hour (first point: z₁ = d₁, I₁ := 1 —
    the standard init), over the per-key hour grid.

    Exactness: the recursion runs in INTEGER micro-units with
    α = alpha_num/alpha_den —

        z_u ← ((den−num)·z_u + num·d·10⁶) DIV den

    — a floor at every step (a deterministically-quantized Croston,
    biased < 1e-6 per step), because the float recursion is NOT
    portable: DuckDB contracts (1−α)·z + α·d into an FMA and lands one
    ulp off CPython/pandas exactly when integer-valued series sit ON
    the 1e-6 display grid (measured: 4.239 vs 4.238999999999999).
    forecast_u = (z_u·10⁶) DIV p_u; the display double is the integer
    over 10⁶, always on-grid.  Int64 bound: den·z_u < 2⁶³ needs
    demand < 9·10¹¹ per hour.

    Scale shape: one hash-agg to the hourly grid (metadata-sized —
    |keys|·|hours| regardless of raw rows), one lag window for gaps,
    then ONE Python pass per partition with per-series integer state
    carried across Arrow batches (never per-series applyInPandas; a
    series never straddles partitions)."""
    keys = keys or ["metric"]
    num, den = int(alpha_num), int(alpha_den)
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", hour_ts timestamp, demand long, gap long,"
        " z_u long, p_u long, forecast_u long, forecast double"
    )

    hourly = series.groupBy(
        *keys, F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("demand"))
    hidx = (epoch_us(F.col("hour_ts")) / F.lit(3_600_000_000)).cast(
        "long"
    )
    w = Window.partitionBy(*keys).orderBy("hour_ts")
    gapped = hourly.withColumn("_h", hidx).withColumn(
        "gap",
        F.coalesce(F.col("_h") - F.lag("_h").over(w), F.lit(1))
        .cast("long"),
    ).drop("_h")

    cols = [*keys, "hour_ts", "demand", "gap"]
    M = 1_000_000

    def _smooth(batches):
        cur_key, z, p = None, 0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            key_tup = list(zip(*(pdf[k] for k in keys)))
            dem = pdf["demand"].to_numpy()
            gap = pdf["gap"].to_numpy()
            zs, ps, fs = [], [], []
            for kt, d, g in zip(key_tup, dem, gap):
                if kt != cur_key:
                    cur_key, z, p = kt, int(d) * M, int(g) * M
                else:
                    z = ((den - num) * z + num * int(d) * M) // den
                    p = ((den - num) * p + num * int(g) * M) // den
                zs.append(z)
                ps.append(p)
                fs.append(z * M // p)
            out = pdf[cols].copy()
            out["z_u"] = zs
            out["p_u"] = ps
            out["forecast_u"] = fs
            out["forecast"] = [f / 1e6 for f in fs]
            yield out

    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(series.sparkSession)
    part = gapped.repartition(n_part, *[F.col(k) for k in keys]) \
        .sortWithinPartitions(*keys, "hour_ts")
    return part.mapInPandas(_smooth, schema)


def apdex_hourly(series: DataFrame, key: str = "metric",
                 threshold: float = 50.0) -> DataFrame:
    """(metric, hour_ts, n, satisfied, tolerating, apdex, rating):
    Apdex score per metric-hour treating `value` as a latency —
    satisfied ≤ T, tolerating ≤ 4T, frustrated beyond:

        Apdex = (satisfied + tolerating/2) / n

    Exactness: classification compares integer cents against integer
    thresholds (no float edges); the score is the exact rational
    (2·sat + tol) / (2n) evaluated as ONE double division, and the
    rating bands (excellent ≥ .94, good ≥ .85, fair ≥ .70,
    poor ≥ .50) are decided by INTEGER cross-multiplication
    (100·(2·sat+tol) vs band·2n), so a score landing exactly on a
    band edge classifies identically in Spark and DuckDB.

    Scale (100 TB): one map-side-combined hash aggregation on
    (metric, hour) — conditional counts only, no distinct, no window;
    the output is grid-sized (|metrics|·|hours|)."""
    t_cents = int(round(threshold * SCALE))
    cents = snap("value", VALUE_DECIMALS)
    one = F.lit(1)
    g = series.groupBy(
        F.col(key).alias("metric"),
        F.date_trunc("hour", "ts").alias("hour_ts"),
    ).agg(
        F.count(one).alias("n"),
        F.sum(F.when(cents <= t_cents, one).otherwise(0))
         .alias("satisfied"),
        F.sum(
            F.when((cents > t_cents) & (cents <= 4 * t_cents), one)
            .otherwise(0)
        ).alias("tolerating"),
    )
    num = 2 * F.col("satisfied") + F.col("tolerating")  # = apdex * 2n
    den = 2 * F.col("n")
    band = F.when(100 * num >= 94 * den, "excellent") \
        .when(100 * num >= 85 * den, "good") \
        .when(100 * num >= 70 * den, "fair") \
        .when(100 * num >= 50 * den, "poor") \
        .otherwise("unacceptable")
    return g.select(
        "metric", "hour_ts", F.col("n").cast("long").alias("n"),
        F.col("satisfied").cast("long").alias("satisfied"),
        F.col("tolerating").cast("long").alias("tolerating"),
        F.round(num.cast("double") / den.cast("double"), 6)
         .alias("apdex"),
        band.alias("rating"),
    )


def capacity_projection(series: DataFrame, key: str = "metric",
                        min_days: int = 7) -> DataFrame:
    """(metric, n_days, slope_cents_per_day, level_now, target_cents,
    days_to_2x): capacity-planning readout — per metric, the OLS
    linear trend of DAILY cent totals over the day index, the fitted
    current level, and the projected days until the trend line crosses
    2× today's observed daily peak (NULL when the trend is flat or
    falling — a projection from a non-growing series is a lie).

    Exactness: day index = datediff vs the GLOBAL min day (integer,
    engine-identical), all five OLS sums accumulate exactly
    (decimal38), slope/intercept/projection form one shared double
    expression tree; days_to_2x stays a rounded DOUBLE — ceiling it
    to whole days would put an engine-variable ulp exactly on integer
    boundaries.

    Scale: one day-grid hash agg, one broadcast of the 1-row global
    min, one per-metric agg.  Calendar-bounded like the trend
    family."""
    d = bucket_cents(series, [F.col(key).alias("metric")], "day")
    d0 = d.agg(F.min("day_ts").alias("d0"))
    dx = d.crossJoin(F.broadcast(d0)).select(
        "metric", "y",
        F.datediff(F.col("day_ts"), F.col("d0")).cast("long").alias("x"),
    )
    g = dx.groupBy("metric").agg(
        *moments("x", "y", names="n sx sy sxx - sxy"),
        F.max("y").alias("peak"),
        F.max("x").alias("xmax"),
    ).where(F.col("n") >= min_days)
    den = co_moment("n", "sx", "sx", "sxx").cast("double")
    num = co_moment("n", "sx", "sy", "sxy").cast("double")
    slope = F.when(den > 0, num / den)
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    level_now = intercept + slope * F.col("xmax").cast("double")
    target = 2 * F.col("peak")
    days = F.when(
        slope > 0, (target.cast("double") - level_now) / slope
    )
    return g.select(
        "metric", F.col("n").cast("long").alias("n_days"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(level_now, 6).alias("level_now"),
        target.cast("long").alias("target_cents"),
        F.round(days, 6).alias("days_to_2x"),
    )


def brier_decomposition(series: DataFrame, num: int = 3,
                        den: int = 5, n_bins: int = 10) -> DataFrame:
    """One row (n_bins_used, n_pairs, brier_rel, brier_res,
    brier_unc, brier): Murphy's decomposition of the (binned) Brier
    score over the SAME reliability table markov_calibration gates —

        REL = Σ n_b(p̄_b − o_b)²/N      (miscalibration: lower better)
        RES = Σ n_b(o_b − ō)²/N        (discrimination: higher better)
        UNC = ō(1 − ō)                  (irreducible base-rate noise)
        Brier(binned) = REL − RES + UNC

    Composition starts from markov_calibration's ALREADY-ROUNDED
    mean_pred/frac_obs (bit-equal across engines by its own gate);
    per-bin quadratic terms are snapped to integer micro-units before
    the order-free sum, ō is an exact integer ratio.

    Scale: ≤ n_bins input rows — pure post-aggregate algebra."""
    cal = markov_calibration(series, num, den, n_bins)
    tot = cal.agg(
        F.sum("n_pairs").alias("nn"), F.sum("n_pos").alias("pos"),
        F.count(F.lit(1)).alias("k"),
    )
    j = cal.crossJoin(F.broadcast(tot))
    n_b = F.col("n_pairs").cast("double")
    obar = F.col("pos").cast("double") / F.col("nn").cast("double")
    rel_u = snap(
        n_b * (F.col("mean_pred") - F.col("frac_obs"))
        * (F.col("mean_pred") - F.col("frac_obs")), 6
    )
    res_u = snap(
        n_b * (F.col("frac_obs") - obar) * (F.col("frac_obs") - obar), 6
    )
    agg = j.groupBy("nn", "pos", "k").agg(
        F.sum(rel_u).alias("rel_u"), F.sum(res_u).alias("res_u")
    )
    nn = F.col("nn").cast("double")
    rel = F.col("rel_u").cast("double") / F.lit(1.0e6) / nn
    res = F.col("res_u").cast("double") / F.lit(1.0e6) / nn
    ob = F.col("pos").cast("double") / nn
    unc = ob * (F.lit(1.0) - ob)
    return agg.select(
        F.col("k").cast("long").alias("n_bins_used"),
        F.col("nn").cast("long").alias("n_pairs"),
        F.round(rel, 6).alias("brier_rel"),
        F.round(res, 6).alias("brier_res"),
        F.round(unc, 6).alias("brier_unc"),
        F.round(rel - res + unc, 6).alias("brier"),
    )


def kalman_level(series: DataFrame, keys: list[str] | None = None,
                 q_var: float = 100.0, r_var: float = 10000.0) -> DataFrame:
    """(keys..., day_ts, y, level, gain): local-level Kalman filter
    over daily cent totals — EWMA's principled sibling: the gain
    ADAPTS (k_1 = 1, decaying toward the steady state fixed by the
    signal-to-noise ratio q/r) instead of being a hand-picked alpha,
    so early observations are trusted more while uncertainty is high.
    Model x_t = x_{t-1} + w (var q), y_t = x_t + v (var r):

        p_pred = P + q
        k      = p_pred / (p_pred + r)
        x      = x + k*(y - x)
        P      = (1 - k)*p_pred

    initialized x_1 = y_1, P_1 = r, k_1 = 1.  Shape: the ewma
    discipline exactly — the recursion is sequential WITHIN a series
    and parallel ACROSS series, so hash-repartition on keys,
    sortWithinPartitions(keys, day_ts), ONE mapInPandas pass whose
    python scan runs per contiguous series block; crucially the loop
    walks the |keys|*|days| AGGREGATED grid (one hash-agg collapses
    the raw scan first), never raw turns.  Both the gain and the
    variance recursions are pure +,*,/ IEEE doubles in a pinned
    order, bit-identical to the DuckDB recursive-CTE oracle;
    outputs floor-quantized at 1e-6 (round() HALF_UP vs float-space
    rounding disagree on recursion outputs — the ewma measurement).

    Constant-q/r gains are data-independent (k_t depends only on t),
    so a closed-form weighted-sum rewrite exists — but its
    cumulative (1-k) products underflow past ~10^2 steps; the scan
    is the numerically honest form."""
    keys = keys or ["metric"]
    q, r = float(q_var), float(r_var)
    d = bucket_cents(series, keys, "day")
    schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", day_ts timestamp, y double, level double, gain double"
    )

    def _scan(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        n = len(pdf)
        lv = np.empty(n, dtype=np.float64)
        gn = np.empty(n, dtype=np.float64)
        prev_key = None
        x = p = 0.0
        ks = [pdf[k].to_numpy() for k in keys]
        ys = pdf["y"].to_numpy()
        for i in range(n):
            key = tuple(col[i] for col in ks)
            y = float(ys[i])
            if key != prev_key:
                x, p, k = y, r, 1.0
                prev_key = key
            else:
                p_pred = p + q
                k = p_pred / (p_pred + r)
                x = x + k * (y - x)
                p = (1.0 - k) * p_pred
            lv[i], gn[i] = x, k
        out = pdf[[*keys, "day_ts"]].copy()
        out["y"] = ys / float(SCALE)
        out["level"] = lv / float(SCALE)
        out["gain"] = gn
        yield out

    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(series.sparkSession)
    part = d.repartition(n_part, *[F.col(k) for k in keys]) \
        .sortWithinPartitions(*keys, "day_ts")
    out = part.mapInPandas(_scan, schema)
    return out.select(
        *keys, "day_ts", "y",
        (F.floor(F.col("level") * F.lit(1e6)) / F.lit(1e6))
        .alias("level"),
        (F.floor(F.col("gain") * F.lit(1e6)) / F.lit(1e6)).alias("gain"),
    )


def theta_forecast(series: DataFrame, key: str = "metric", alpha: float = 0.5,
                   horizons: tuple = (1, 7),
                   min_days: int = 10) -> DataFrame:
    """(metric, n_days, level_v, fc_1, fc_7): the Theta-method
    forecast (Assimakopoulos & Nikolopoulos 2000, the M3 winner) per
    metric's daily cent-sum series — the standard two-line
    decomposition the des_brown/holt_winters family lacks:

        θ=0 line : the OLS linear trend a + b·t       (pure long-run)
        θ=2 line : Q_t = 2·y_t − (a + b·t)            (pure short-run)
        ŷ(T+h)   = ½·SES(Q)_T + ½·(a + b·(T+h))

    Exactness: a, b come from exact decimal38/hugeint daily moments
    (trend_daily's discipline over the day INDEX t=1..T, so Dn =
    T·Σtt − St² > 0 always); every Q_t is ONE double division of
    exact integers over the common denominator D = T·Dn; the SES
    recursion runs in float64 bit-identically to a recursive-CTE
    oracle (the ewma lesson: pandas ewm(adjust=False) ==
    (1−α)·l + α·q), and outputs quantize by floor(x·1e6)/1e6 — round()
    is NOT usable on recursion-landed doubles (ewma's measured 1e-6
    flips).

    Shape: one daily hash-agg → per-metric moment agg + join back →
    ONE partition-grouped pandas pass for the SES level (metrics
    hash-partitioned, series contiguous — never per-group Arrow
    transfer).  Scale: the recursion is over per-metric DAY counts
    (≤ a few thousand rows per metric at any corpus size)."""
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    dd = d.select(
        key, "y", F.row_number().over(w).cast("long").alias("t")
    )
    out = _theta_fit(dd, key, alpha, min_days)
    a_d = F.col("anum").cast("double") / F.col("dd_den").cast("double")
    b_d = F.col("nb").cast("double") / F.col("dn").cast("double")
    n_d = F.col("n").cast("double")

    def _quant(c):
        return F.floor(c * F.lit(1e6)) / F.lit(1e6)

    cols = [
        F.col(key),
        F.col("n").cast("long").alias("n_days"),
        _quant(F.col("level") / F.lit(float(SCALE))).alias("level_v"),
    ]
    for h in horizons:
        fc = (
            F.lit(0.5) * F.col("level")
            + F.lit(0.5) * (a_d + b_d * (n_d + F.lit(float(h))))
        )
        cols.append(
            _quant(fc / F.lit(float(SCALE))).alias(f"fc_{h}")
        )
    return out.select(*cols)


def _theta_fit(dd: DataFrame, key: str, alpha: float,
               min_days: int) -> DataFrame:
    """Theta components over a (key, y, t) day-indexed table:
    (key, n, nb, dn, anum, dd_den, level) — exact trend integers plus
    the SES level of the θ=2 line (see theta_forecast)."""
    a_f = float(alpha)
    g = dd.groupBy(key).agg(
        *moments("t", "y", names="n st sy stt - sty"),
    ).where(F.col("n") >= min_days)
    nb = co_moment("n", "st", "sy", "sty")
    dn = co_moment("n", "st", "st", "stt")
    anum = F.col("sy") * dn - nb * F.col("st")
    p = g.select(
        key, "n", nb.alias("nb"), dn.alias("dn"), anum.alias("anum"),
        (F.col("n") * dn).alias("dd_den"),
    )
    q = dd.join(F.broadcast(p), key).select(
        key, "t",
        (
            (wide(F.lit(2)) * wide("y")
             * F.col("dd_den") - F.col("anum")
             - F.col("nb") * F.col("n") * wide("t"))
            .cast("double") / F.col("dd_den").cast("double")
        ).alias("q"),
    )

    def _ses(batches):
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pdf = pdf.sort_values([key, "t"])
        lvl = (
            pdf.groupby(key, sort=False)["q"]
            .apply(lambda s: s.ewm(alpha=a_f, adjust=False)
                   .mean().iloc[-1])
            .reset_index()
        )
        lvl.columns = [key, "level"]
        yield lvl

    from timeseriescorrelation_spark.session import (
        shuffle_partition_count,
    )

    n_part = shuffle_partition_count(dd.sparkSession)
    lvl = (
        q.repartition(n_part, F.col(key))
        .sortWithinPartitions(key, "t")
        .mapInPandas(_ses, f"{key} string, level double")
    )
    return lvl.join(p, key)


def theta_backtest(series: DataFrame, key: str = "metric", alpha: float = 0.5,
                   holdout: int = 7,
                   min_train: int = 10) -> DataFrame:
    """(metric, n_train, n_test, mae_theta, mae_naive, mase): rolling-
    origin backtest of the Theta forecast — hold out each metric's
    LAST `holdout` days, fit on the rest, score ŷ(T+1..T+holdout)
    against the actuals, and report the MASE-style ratio vs the
    last-value (persistence) forecast.  mase < 1 is the bar a
    forecaster must clear before anyone should trust it over "same as
    yesterday".

    Exactness: the fit is _theta_fit's (exact trend integers + the
    bit-replicable SES level); each holdout day's theta error snaps to
    1e-4-cent integers BEFORE the per-metric sum (order-free), and the
    naive error is exact cents by construction, so both MAEs and
    their ratio are integer-rationals with one double divide.  Metrics
    whose naive error sum is zero (perfectly flat holdout) report NULL
    mase.

    Scale: the split is one key-partitioned window pass; the fit rides
    _theta_fit; scoring is a broadcast join of the metadata-sized fit
    table onto holdout rows."""
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    wf = Window.partitionBy(key)
    idx = d.select(
        key, "y",
        F.row_number().over(w).cast("long").alias("t"),
        F.count(F.lit(1)).over(wf).cast("long").alias("tot"),
    )
    train = idx.where(F.col("t") <= F.col("tot") - holdout).select(
        key, "y", "t"
    )
    fit = _theta_fit(train, key, alpha, min_train)
    last_y = (
        train.join(fit.select(key, F.col("n").cast("long").alias("nt")),
                   key)
        .where(F.col("t") == F.col("nt"))
        .select(key, F.col("y").alias("last_y"))
    )
    test = idx.where(F.col("t") > F.col("tot") - holdout)
    j = test.join(F.broadcast(fit), key).join(
        F.broadcast(last_y), key
    )
    a_d = F.col("anum").cast("double") / F.col("dd_den").cast("double")
    b_d = F.col("nb").cast("double") / F.col("dn").cast("double")
    h_d = (F.col("t") - F.col("n").cast("long")).cast("double")
    fc = (
        F.lit(0.5) * F.col("level")
        + F.lit(0.5) * (a_d + b_d * (F.col("n").cast("double") + h_d))
    )
    err_t = snap(F.abs(F.col("y").cast("double") - fc), 4)
    err_n = F.abs(F.col("y") - F.col("last_y")) * F.lit(10000)
    g = j.select(
        key,
        F.col("n").cast("long").alias("n_train"),
        err_t.alias("et"), err_n.alias("en"),
    ).groupBy(key, "n_train").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("et").alias("set"),
        F.sum("en").alias("sen"),
    )
    den = F.lit(1e4) * F.lit(float(SCALE)) \
        * F.col("n_test").cast("double")
    return g.select(
        key, "n_train", "n_test",
        F.round(F.col("set").cast("double") / den, 6)
         .alias("mae_theta"),
        F.round(F.col("sen").cast("double") / den, 6)
         .alias("mae_naive"),
        F.round(
            F.when(
                F.col("sen") > 0,
                F.col("set").cast("double")
                / F.col("sen").cast("double"),
            ), 6
        ).alias("mase"),
    )


def seasonal_mann_kendall(series: DataFrame, key: str = "metric",
                          min_days: int = 21) -> DataFrame:
    """(metric, n_days, n_strata, s_stat, z): Hirsch-Slack SEASONAL
    Mann-Kendall trend test per metric over the daily cent-sum
    series, stratified by weekday — sign pairs are formed ONLY
    within each weekday's sub-series, so the weekly cycle
    (Mon≠Sat level differences) contributes ZERO sign terms and
    cannot fake a monotone trend the way it can in the unstratified
    test:

        S = Σ_g S_g,   Var = Σ_g [n_g(n_g−1)(2n_g+5) − Σ_t t(t−1)(2t+5)]/18
        z = (S−1)/√Var if S>0, (S+1)/√Var if S<0, 0 if S=0

    (independent strata ⇒ variances add; tie correction per
    stratum).  Weekday via the engine-neutral integer epoch-day rule
    — never a native dayofweek label.  S, n_g and tie terms are
    EXACT integers on cent-snapped daily sums; z is one IEEE divide.
    NULL z when Var ≤ 0 (every stratum constant — e.g. a pure
    weekly cycle with no trend, exactly the case the test exists
    for).

    Scale: the pair enumeration is (|days|/7)² per stratum per
    metric — calendar-bounded (the mann_kendall policy), never
    corpus-sized; one grid hash-agg in front."""
    d = bucket_cents(series, [key], "day")
    dd = d.select(
        key, F.col("day_ts"), F.col("y"),
        weekday("day_ts").cast("int").alias("w"),
    )
    a = dd.select(key, "w", F.col("day_ts").alias("di"),
                  F.col("y").alias("yi"))
    b = dd.select(key, "w", F.col("day_ts").alias("dj"),
                  F.col("y").alias("yj"))
    pairs = a.join(b, [key, "w"]).where(F.col("di") < F.col("dj"))
    sgn = F.signum(
        (F.col("yj") - F.col("yi")).cast("double")
    ).cast("long")
    sg = pairs.groupBy(key, "w").agg(F.sum(sgn).alias("s_g"))
    ties = (
        dd.groupBy(key, "w", "y")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(key, "w")
        .agg(
            F.sum("t").alias("n_g"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tt_g"),
        )
    )
    per_w = ties.join(sg, [key, "w"], "left").select(
        key, "w", "n_g", "tt_g",
        F.coalesce(F.col("s_g"), F.lit(0)).alias("s_g"),
        (F.col("n_g") * (F.col("n_g") - 1) * (2 * F.col("n_g") + 5)
         - F.col("tt_g")).alias("v_g"),
    )
    g = per_w.groupBy(key).agg(
        F.sum("n_g").alias("n_days"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("s_g").alias("s_stat"),
        F.sum("v_g").alias("var_num"),
    ).where(F.col("n_days") >= int(min_days))
    sd = F.sqrt(F.col("var_num").cast("double") / F.lit(18.0))
    s = F.col("s_stat")
    z = F.when(
        F.col("var_num") <= 0, F.lit(None).cast("double")
    ).otherwise(
        F.when(s > 0, (s - 1).cast("double") / sd)
        .when(s < 0, (s + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    return g.select(
        key,
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.round(z, 6).alias("z"),
    )


def lad_trend_daily(series: DataFrame, key: str = "metric",
                    min_days: int = 5) -> DataFrame:
    """(metric, n_days, slope, intercept, lad_loss): EXACT least-
    absolute-deviations (median/L1) trend of the daily cent-sum
    series — trend_daily's robust twin where one wild day bends the
    L2 line but not this one, and theil_sen's loss-optimal sibling
    (Theil-Sen picks the median pairwise slope; LAD minimizes the
    actual Σ|residual|).

    An optimal L1 line always passes through two data points, so the
    candidate set is the T² day pairs; each candidate is scored by

        loss·den = Σ_k |(y_k − y_i)·den − num·(x_k − x_i)|

    with num = y_j − y_i, den = x_j − x_i — every term an exact
    integer.  Cross-candidate comparison snaps loss to integer
    micro-cents (floor-DIV by den), and the argmin tie-breaks on the
    INTEGER triple (loss_u, x_i, x_j) — both engines pick the same
    line always.  x counts days from the metric's first day, so
    `intercept` is the fitted value at that first day.

    Scale: T³ rows per metric where T = CALENDAR DAYS — the
    mann_kendall bounded-n policy (a year is 48M rows per metric,
    fine for a diagnostic; never in HEADLINE).  trend_daily is the
    O(T) scale path."""
    d0 = bucket_cents(series, [key], "day")
    ed = epoch_day("day_ts")
    base = d0.groupBy(key).agg(
        F.min(ed).alias("x0"), F.count(F.lit(1)).alias("n_days")
    ).where(F.col("n_days") >= int(min_days))
    d = d0.join(base, key).select(
        key, (ed - F.col("x0")).alias("x"), "y", "n_days"
    )
    i = d.select(key, F.col("x").alias("xi"), F.col("y").alias("yi"))
    j = d.select(key, F.col("x").alias("xj"), F.col("y").alias("yj"))
    cand = i.join(j, key).where(F.col("xi") < F.col("xj")).select(
        key, "xi", "xj", "yi",
        (F.col("yj") - F.col("yi")).alias("num"),
        (F.col("xj") - F.col("xi")).alias("den"),
    )
    k = d.select(key, F.col("x").alias("xk"), F.col("y").alias("yk"))
    r = cand.join(k, key)
    term = F.abs(
        wide(F.col("yk") - F.col("yi")) * wide("den")
        - wide("num") * wide(F.col("xk") - F.col("xi"))
    )
    sc = r.groupBy(key, "xi", "xj", "yi", "num", "den").agg(
        F.sum(term).alias("loss_den")
    )
    loss_u = idiv(wide("loss_den") * F.lit(1000000), wide("den"))
    best = sc.select(
        key,
        F.struct(
            loss_u.alias("lu"),
            F.col("xi").alias("xi"), F.col("xj").alias("xj"),
            F.col("yi").alias("yi"), F.col("num").alias("num"),
            F.col("den").alias("den"),
        ).alias("s"),
    ).groupBy(key).agg(F.min("s").alias("b"))
    n = d.groupBy(key).agg(F.max("n_days").alias("n_days"))
    out = best.join(n, key)
    numd = F.col("b.num").cast("double")
    dend = F.col("b.den").cast("double")
    return out.select(
        key,
        F.col("n_days").cast("long").alias("n_days"),
        F.round(numd / dend / F.lit(float(SCALE)), 6).alias("slope"),
        F.round(
            (F.col("b.yi").cast("double") * dend
             - numd * F.col("b.xi").cast("double"))
            / dend / F.lit(float(SCALE)), 6
        ).alias("intercept"),
        F.round(
            F.col("b.lu").cast("double") / F.lit(1e6)
            / F.lit(float(SCALE)), 6
        ).alias("lad_loss"),
    )


def skyline_volume_errors(events: DataFrame,
                          error_type: str = "error") -> DataFrame:
    """(actor, vol, errs, err_rate): the Pareto frontier (skyline) of
    actors over (volume ↑, error rate ↓) — "who does the most with
    the cleanest record", the classic two-criteria DB skyline
    operator.  An actor survives unless someone has ≥ volume and
    ≤ error rate with one strict.

    Dominance runs LEVEL-compressed, not pairwise: at fixed volume
    the rate order is the integer error-count order, so the corpus
    collapses to one (vol, min_errs) row per DISTINCT volume level
    and each actor checks against broadcast levels — |levels| is
    bounded by the max events-per-actor (a product/calendar bound,
    not corpus size), and rate comparisons are exact integer
    cross-multiplications (e_v·vol_u ≤ e_u·vol_v), never floats.
    The extreme-scale path is the classic sort-based skyline scan
    (range-partition by vol desc + distributed prefix-min — the
    global_row_number two-pass shape); the level join is preferred
    while levels stay broadcastable.

    Scale: one hash-agg to |actors|, one to |levels|, one broadcast
    theta-join probe."""
    per = events.groupBy(F.col("user_id").alias("actor")).agg(
        F.count(F.lit(1)).alias("vol"),
        F.sum((F.col("event_type") == error_type).cast("long"))
        .alias("errs"),
    )
    levels = per.groupBy("vol").agg(F.min("errs").alias("e_min"))
    dom = (
        (F.col("l.vol") > F.col("u.vol"))
        & (wide("l.e_min") * wide("u.vol")
           <= wide("u.errs") * wide("l.vol"))
    ) | (
        (F.col("l.vol") == F.col("u.vol"))
        & (F.col("l.e_min") < F.col("u.errs"))
    )
    dominated = (
        per.alias("u")
        .join(F.broadcast(levels.alias("l")), dom, "left_semi")
    )
    sky = per.join(dominated.select(F.col("actor")), "actor",
                   "left_anti")
    return sky.select(
        F.col("actor").cast("long").alias("actor"),
        F.col("vol").cast("long").alias("vol"),
        F.col("errs").cast("long").alias("errs"),
        F.round(
            F.col("errs").cast("double") / F.col("vol").cast("double"),
            6,
        ).alias("err_rate"),
    )


def gmd_daily(series: DataFrame, key: str = "metric",
              min_n: int = 4) -> DataFrame:
    """(metric, day_ts, n, gmd): Gini mean difference per metric-day
    — E|X−X'|, the dispersion measure that is robust like the MAD
    but uses EVERY pair's spread, via the sorted-rank identity

        GMD = 2·Σᵢ (2i − n − 1)·x₍ᵢ₎ / (n(n−1))

    so the naive O(n²) pair enumeration collapses to one sort-rank
    window.  The weight sum over any tie run is unchanged under
    intra-tie permutation (same value multiplies consecutive
    weights), so the undetermined order among equal cents cannot
    change S — exact integer S, ONE divide, 6 dp.

    Completes the dispersion family: variance (moments, outlier-
    loving), MAD (median-based, ignores all but the middle), GMD
    (pairwise, robust AND efficient under near-normality).

    Scale: day-bounded window ranks (the grubbs policy) + one
    hash-agg."""
    pt = series.select(
        F.col(key),
        F.date_trunc("day", "ts").alias("day_ts"),
        snap("value", VALUE_DECIMALS).alias("c"),
    )
    w = Window.partitionBy(key, "day_ts").orderBy("c")
    ranked = pt.select(
        key, "day_ts", "c",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy(key, "day_ts")
        ).cast("long").alias("n"),
    )
    g = ranked.groupBy(key, "day_ts").agg(
        F.max("n").alias("n"),
        F.sum(
            wide(F.lit(2) * F.col("i") - F.col("n") - F.lit(1)) * wide("c")
        ).alias("s"),
    ).where(F.col("n") >= int(min_n))
    nd = F.col("n").cast("double")
    return g.select(
        key, "day_ts",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.lit(2.0) * F.col("s").cast("double")
            / (nd * (nd - F.lit(1.0))) / F.lit(float(SCALE)), 6
        ).alias("gmd"),
    )


def isotonic_trend_daily(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, value_raw, value_iso): isotonic (monotone
    non-decreasing) fit of the daily cent-sum series — the shape-
    constrained trend filter: where trend_daily forces a LINE and
    lttb keeps wiggles, PAVA finds the closest monotone staircase
    (L2-optimal), the right read for "adoption only ever grows; show
    me the underlying level" dashboards.  value_iso − value_raw is
    the monotonicity violation each day.

    Stage split (the isotonic_calibration policy): one hash-agg to
    the |metrics|·|days| grid (calendar-bounded METADATA, not data),
    PAVA on the driver with exact integer cross-multiplied pooling
    (s₁·n₂ > s₂·n₁ — no float ever decides a merge), fitted value =
    one final divide.  The DuckDB oracle replays the minimax identity
    max_{j≤i} min_{k≥i} mean(y[j..k]) per metric — equal to the PAVA
    block means as rationals, hence as correctly-rounded doubles."""
    g = bucket_cents(series, [key], "day")
    rows = sorted(
        ((r[key], r["day_ts"], int(r["y"])) for r in g.collect()),
        key=lambda t: (t[0], t[1]),
    )
    out = []
    i = 0
    while i < len(rows):
        m = rows[i][0]
        seq = []
        while i < len(rows) and rows[i][0] == m:
            seq.append(rows[i])
            i += 1
        blocks: list[list] = []  # [sum, n, members]
        for _m, day, c in seq:
            blocks.append([c, 1, [(day, c)]])
            while len(blocks) >= 2:
                s2, n2, m2 = blocks[-1]
                s1, n1, m1 = blocks[-2]
                if s1 * n2 <= s2 * n1:  # monotone already
                    break
                blocks[-2:] = [[s1 + s2, n1 + n2, m1 + m2]]
        for s_blk, n_blk, members in blocks:
            for day, c in members:
                out.append((
                    m, day,
                    round(c / SCALE, 6),
                    round(s_blk / n_blk / SCALE, 6),
                ))
    return local_frame(
        series.sparkSession, out,
        f"{key} string, day_ts timestamp, value_raw double,"
        " value_iso double",
    )


def huber_trend(series: DataFrame, key: str = "metric", n_iter: int = 2,
                min_days: int = 10) -> DataFrame:
    """(metric, n_days, slope_per_day, intercept, sigma,
    n_downweighted): Huber-robust daily linear trend — trend_daily's
    outlier-resistant sibling by IRLS, the missing member between the
    L2 line (outlier-dragged), theil_sen/lad_trend (bounded-n exact
    robust), and this: O(n)-scalable robust regression via 2 unrolled
    reweight steps (the logit_fit fixed-iteration policy applied to
    M-estimation):

        step 0: exact-moment OLS;
        step k: r = y − (b0 + b1·u) snapped to integer MILLI-cents,
                σ̂ = √(Σr²/(m−2)),  δ = 1.345·σ̂,
                w = min(1, δ/|r|)  (Huber weights, shared doubles),
                WLS via weighted moments snapped per term class
                (w/w·u/w·u² at 1e-9; w·y/w·u·y at 1e-6 — chosen so
                every round() argument stays ≤ 2⁵³ for daily cent
                sums ≤ ~9e9; rescale VALUE_DECIMALS beyond that),
                β from the 2×2 weighted normal equations.

    u = day − min(day) per metric (small integers), y = daily cent
    sums.  Every sum is decimal(38,0)/hugeint over snapped integers,
    every divide a shared double tree; the oracle unrolls the two
    reweights bit-exactly.  n_downweighted = days with w < 1 at the
    final step.

    Scale: day-grid hash-agg → per-metric span (broadcast) → n_iter+1
    moment hash-aggs with a broadcast 1-row-per-metric β join between
    — O(iterations) grid scans, no windows."""
    d = bucket_cents(series, [F.col(key).alias("metric")], "day").select(
        "metric", "y", epoch_day("day_ts").alias("di"),
    )
    span = d.groupBy("metric").agg(
        F.min("di").alias("d0"), F.count(F.lit(1)).alias("nd")
    ).where(F.col("nd") >= int(min_days)).select("metric", "d0")
    base = d.join(F.broadcast(span), "metric").select(
        "metric", "y", (F.col("di") - F.col("d0")).alias("u")
    ).localCheckpoint(eager=False)

    # step 0: plain OLS on exact integer moments
    g0 = base.groupBy("metric").agg(
        *moments("u", "y", names="m su sy suu - suy"),
    )
    md = F.col("m").cast("double")
    num = co_moment("m", "su", "sy", "suy").cast("double")
    den = co_moment("m", "su", "su", "suu").cast("double")
    beta = g0.where(den > 0).select(
        "metric",
        (num / den).alias("b1"),
        (
            (F.col("sy").cast("double")
             - (num / den) * F.col("su").cast("double")) / md
        ).alias("b0"),
    )

    snap9 = 1.0e9
    snap6 = 1.0e6
    for _ in range(int(n_iter)):
        j = base.join(F.broadcast(beta), "metric")
        r = (
            F.col("y").cast("double")
            - (F.col("b0") + F.col("b1") * F.col("u").cast("double"))
        )
        ru = snap(r, 3)  # milli-cents
        t = j.select("metric", "u", "y", ru.alias("ru"))
        sc = t.groupBy("metric").agg(
            wide(F.count(F.lit(1))).alias("m"),
            F.sum(wide("ru") * wide("ru")).alias("sr2"),
        )
        t2 = t.join(F.broadcast(sc), "metric")
        sig_mc = F.sqrt(
            F.col("sr2").cast("double")
            / (F.col("m").cast("double") - F.lit(2.0))
        )
        delta = F.lit(1.345) * sig_mc
        absr = F.abs(F.col("ru").cast("double"))
        w = F.when(absr <= delta, F.lit(1.0)).otherwise(delta / absr)
        ud = F.col("u").cast("double")
        yd = F.col("y").cast("double")
        terms = t2.select(
            "metric",
            wide(F.round(w * F.lit(snap9))).alias("tw"),
            wide(F.round(w * ud * F.lit(snap9))).alias("twu"),
            wide(F.round(w * ud * ud * F.lit(snap9))).alias("twuu"),
            wide(F.round(w * yd * F.lit(snap6))).alias("twy"),
            wide(F.round(w * ud * yd * F.lit(snap6))).alias("twuy"),
            (w < F.lit(1.0)).cast("long").alias("dw"),
        )
        gw = terms.groupBy("metric").agg(
            wide(F.count(F.lit(1))).alias("m"),
            F.sum("tw").alias("sw"),
            F.sum("twu").alias("swu"),
            F.sum("twuu").alias("swuu"),
            F.sum("twy").alias("swy"),
            F.sum("twuy").alias("swuy"),
            F.sum("dw").cast("long").alias("ndw"),
        )
        swd = F.col("sw").cast("double") / F.lit(snap9)
        swud = F.col("swu").cast("double") / F.lit(snap9)
        swuud = F.col("swuu").cast("double") / F.lit(snap9)
        swyd = F.col("swy").cast("double") / F.lit(snap6)
        swuyd = F.col("swuy").cast("double") / F.lit(snap6)
        wden = swd * swuud - swud * swud
        b1n = (swd * swuyd - swud * swyd) / wden
        beta = gw.where(wden > 0).select(
            "metric",
            b1n.alias("b1"),
            ((swyd - b1n * swud) / swd).alias("b0"),
            F.col("ndw").alias("ndw"),
            F.col("m").cast("long").alias("n_days"),
        )

    # final sigma readout from the last residual pass
    jf = base.join(
        F.broadcast(beta.select("metric", "b0", "b1")), "metric"
    )
    rf = (
        F.col("y").cast("double")
        - (F.col("b0") + F.col("b1") * F.col("u").cast("double"))
    )
    ruf = snap(rf, 3)
    sf = jf.select("metric", ruf.alias("ru")).groupBy("metric").agg(
        wide(F.count(F.lit(1))).alias("m"),
        F.sum(wide("ru") * wide("ru")).alias("sr2"),
    )
    out = beta.join(sf.select(
        "metric",
        F.sqrt(
            F.col("sr2").cast("double")
            / (F.col("m").cast("double") - F.lit(2.0))
        ).alias("sig_mc"),
    ), "metric")
    fs = F.lit(float(SCALE))
    return out.select(
        "metric",
        F.col("n_days"),
        F.round(F.col("b1") / fs, 6).alias("slope_per_day"),
        F.round(F.col("b0") / fs, 6).alias("intercept"),
        F.round(F.col("sig_mc") / F.lit(1e3) / fs, 6).alias("sigma"),
        F.col("ndw").alias("n_downweighted"),
    )


def markov_absorption(events: DataFrame, target: str = "purchase",
                      k_steps: int = 8) -> DataFrame:
    """(state, n_out, p_absorb): probability that a user currently at
    `state` reaches `target` within `k_steps` transitions of the
    empirical event-type Markov chain — the funnel question asked of
    the WHOLE graph ("from error, how often does a journey still
    convert?"), where funnel_3step counts one fixed path and
    last-touch attribution credits one edge.  Backward induction:

        P_0(s)   = [s = target]
        P_k(s)   = 1 if s = target else Σ_t T(s,t)·P_{k−1}(t)

    with T the row-normalized transition counts.  The Markov
    removal-effect attribution literature builds on exactly this
    absorption primitive.

    Exactness (the pagerank_conserving policy — integers end to end):
    probabilities are µ-units (10⁶ = certainty); each level computes
    Σ cnt(s,t)·P_{k−1}(t) DIV total(s) in pure int64 (cnt·P ≤
    n_transitions·10⁶ — overflow-free to ~10¹² transitions per
    state), so the oracle unrolls the K levels bit-exactly.  The
    floor-DIV per level loses < 1µ per step — deterministic and
    identical cross-engine, the point.

    Scale: one lag window over the user stream → |states|² count
    hash-agg (metadata: event vocabularies are small); the K-level
    recursion runs on broadcast-sized tables."""
    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), "event_id"
    )
    tr = events.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull())
    t = tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)
    tot = t.groupBy("src").agg(F.sum("c").alias("tot"))
    states = (
        t.select(F.col("src").alias("state"))
        .unionByName(t.select(F.col("dst").alias("state")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    M_U = 1_000_000
    p = states.select(
        "state",
        F.when(F.col("state") == target, F.lit(M_U))
        .otherwise(F.lit(0)).cast("long").alias("p"),
    )
    for _ in range(int(k_steps)):
        p = p.localCheckpoint(eager=False)
        flow = (
            t.join(p.withColumnRenamed("state", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.col("c") * F.col("p")).alias("num"))
            .join(tot, "src")
            .select(
                F.col("src").alias("state"),
                F.expr("num DIV tot").cast("long").alias("p_new"),
            )
        )
        p = states.join(flow, "state", "left").select(
            "state",
            F.when(F.col("state") == target, F.lit(M_U))
            .otherwise(F.coalesce(F.col("p_new"), F.lit(0)))
            .cast("long").alias("p"),
        )
    out_deg = tot.withColumnRenamed("src", "state")
    return (
        p.join(out_deg, "state", "left")
        .select(
            "state",
            F.coalesce(F.col("tot"), F.lit(0)).cast("long")
            .alias("n_out"),
            F.round(F.col("p").cast("double") / F.lit(1e6), 6)
            .alias("p_absorb"),
        )
    )


def forecast_baselines(series: DataFrame, key: str = "metric",
                       horizon: int = 24, season: int = 24,
                       min_train: int = 48) -> DataFrame:
    """(metric, model, n_test, mae): the M-competition baseline
    forecasters — naive (last value), seasonal-naive (value one
    season back), drift (last value + trend line through first and
    last train points) — backtested on each metric's LAST `horizon`
    observed hours.  Any fancier forecaster (holt_winters, theta,
    croston, ar2) must beat this table to justify itself; publishing
    model scores without the baseline row is the classic forecasting
    sin.

    Exactness: the observed hourly sequence is rank-indexed per
    metric; naive/snaive errors are plain integer differences; drift
    errors multiply through by the integer denominator (train_len−1)
    so every |error| summed is an EXACT integer (decimal38), and each
    MAE is one terminal divide.  Holdout rows whose seasonal lag
    falls before the series start drop from snaive's n_test (reported
    per model, never silently).

    Scale: grid hash-agg → one rank window per metric → three
    metadata-sized joins against the per-metric anchor row."""
    h = bucket_cents(series, [F.col(key).alias("metric")], "hour")
    w = Window.partitionBy("metric").orderBy("hour_ts")
    wn = Window.partitionBy("metric")
    r = h.select(
        "metric", "y",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).where(F.col("n") >= int(min_train) + int(horizon))
    te = F.col("n") - F.lit(int(horizon))  # last train rank
    test = r.where(F.col("rn") > te).select(
        "metric", F.col("rn").alias("t"), F.col("y").alias("yt"),
        te.alias("te"),
    )
    anchors = (
        r.where(F.col("rn") == te)
        .select("metric", F.col("y").alias("y_te"))
        .join(
            r.where(F.col("rn") == 1).select(
                "metric", F.col("y").alias("y1")
            ),
            "metric",
        )
    )
    lagged = r.select(
        "metric", F.col("rn").alias("lag_rn"), F.col("y").alias("y_lag")
    )
    j = test.join(F.broadcast(anchors), "metric")
    naive = j.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(wide(F.abs(F.col("yt") - F.col("y_te")))).alias("sae"),
    ).select(
        "metric", F.lit("naive").alias("model"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(
            F.col("sae").cast("double")
            / F.col("n_test").cast("double")
            / F.lit(float(SCALE)),
            6,
        ).alias("mae"),
    )
    # standard multi-step snaive: repeat the LAST TRAIN season — lag
    # k·season steps where k = ceil((t − te)/season), so the lag rank
    # never lands inside the holdout even when season < horizon (a
    # plain t − season would "forecast" from other test-set actuals —
    # leakage flagged in the r4 advice).  At the default season ==
    # horizon, k == 1 for every holdout rank and this is bit-identical
    # to the plain lag (oracle unchanged).
    k = F.ceil(
        (F.col("t") - F.col("te")).cast("double") / F.lit(int(season))
    ).cast("int")
    sn = j.withColumn(
        "lag_rn", F.col("t") - k * F.lit(int(season))
    ).join(lagged, ["metric", "lag_rn"])
    snaive = sn.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(wide(F.abs(F.col("yt") - F.col("y_lag")))).alias("sae"),
    ).select(
        "metric", F.lit("snaive").alias("model"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(
            F.col("sae").cast("double")
            / F.col("n_test").cast("double")
            / F.lit(float(SCALE)),
            6,
        ).alias("mae"),
    )
    # drift error × (te−1) is exact: (yt − y_te)·(te−1) − (t−te)·(y_te−y1)
    den = F.col("te") - F.lit(1)
    derr = F.abs(
        (F.col("yt") - F.col("y_te")) * den
        - (F.col("t") - F.col("te")) * (F.col("y_te") - F.col("y1"))
    )
    drift = j.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(wide(derr)).alias("sae"),
        F.max(den).alias("den"),
    ).select(
        "metric", F.lit("drift").alias("model"),
        F.col("n_test").cast("long").alias("n_test"),
        F.round(
            F.col("sae").cast("double")
            / F.col("n_test").cast("double")
            / F.col("den").cast("double")
            / F.lit(float(SCALE)),
            6,
        ).alias("mae"),
    )
    return naive.unionByName(snaive).unionByName(drift)
