"""Metrics-database surface (the Prometheus/OpenTSDB idioms): reset-
aware counter increase and histogram-bucket quantile estimation.

A tiered rollup engine ingests two shapes of series the plain
aggregate path mishandles: CUMULATIVE COUNTERS (monotone, except when
the emitting process restarts and the counter snaps back toward 0 —
naive delta would book a huge negative) and PRE-BUCKETED HISTOGRAMS
(only bucket counts survive ingestion; quantiles must be interpolated
from the buckets, the `histogram_quantile` contract).  These two
operators add that surface with the house exactness recipe: integer
deltas/counts throughout, reset decisions and bucket selection by
integer comparison, ONE shared double expression at the end (6 dp).

Scale notes (100 TB): counter_increase is one lag window over
key-partitioned sequences + a bucket hash-agg; histogram_quantile_est
is one hash-agg to |keys|·|days|·|buckets| cells and a ≤|buckets|-row
window per group — no raw self-joins, no global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    snap,
)


def counter_increase(counters: DataFrame, key: str = "metric",
                     trunc: str = "day") -> DataFrame:
    """(key, bucket_ts, n_samples, n_resets, increase): Prometheus-
    style `increase()` over a cumulative counter column — per bucket,
    the counter's true growth with restarts healed:

        d_i = c_i − c_{i−1};   term = d_i if d_i ≥ 0 else c_i

    (a negative delta means the process restarted; the counter is
    assumed to have restarted from 0, so the post-reset reading IS
    the growth since the reset — Prometheus's convention, which
    UNDERSTATES when the counter re-climbed past an ambiguous
    boundary, documented here as there).  The sequence's very first
    sample has no baseline and contributes 0.  All terms are exact
    integers; no doubles anywhere but the caller's own units.

    Scale: one lag window over the key-partitioned sample sequence +
    one hash-agg to the bucket grid."""
    w = Window.partitionBy(key).orderBy("ts")
    d = counters.select(
        key, "ts", "cnt",
        (F.col("cnt") - F.lag("cnt", 1).over(w))
        .alias("d"),
    )
    term = F.when(F.col("d").isNull(), F.lit(0)).when(
        F.col("d") >= 0, F.col("d")
    ).otherwise(F.col("cnt"))
    g = d.groupBy(
        key, F.date_trunc(trunc, "ts").alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum((F.col("d") < 0).cast("long")).alias("n_resets"),
        F.sum(term).alias("increase"),
    )
    return g.select(
        key, "bucket_ts",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("n_resets").cast("long").alias("n_resets"),
        F.col("increase").cast("long").alias("increase"),
    )


def histogram_quantile_est(series: DataFrame, edges_cents: list[int],
                           key: str = "metric",
                           q_pct: int = 95) -> DataFrame:
    """(metric, day_ts, n, p{q}_est): the `histogram_quantile`
    contract — per (metric, day), estimate the q-th percentile from
    FIXED bucket counts by linear interpolation inside the target
    bucket:

        est = lo + (hi − lo) · (q·n/100 − cum_below) / n_bucket

    The target bucket is the first whose cumulative count reaches
    q·n/100, decided by the INTEGER comparison 100·cum ≥ q·n; the
    open top bucket reports its lower edge (the Prometheus
    convention for +Inf).  Exact integer counts, one double tree.

    This is the read side of a pre-bucketed ingestion path: when only
    bucket counts survive (the histogram_v2 wire format), this is the
    best any engine can answer — latency_percentiles /
    hdr_quantiles_day are the exact paths when raw samples exist.

    Scale: one hash-agg to |keys|·|days|·|buckets| cells, then a
    ≤|buckets|-row window per group."""
    edges = sorted(int(e) for e in edges_cents)
    c = snap("value", VALUE_DECIMALS)
    b = sum(
        (c >= F.lit(e)).cast("int") for e in edges
    )  # 0..len(edges): number of edges passed
    pt = series.select(
        F.col(key), F.date_trunc("day", "ts").alias("day_ts"),
        b.alias("b"),
    )
    cells = pt.groupBy(key, "day_ts", "b").agg(
        F.count(F.lit(1)).alias("nb")
    )
    wcum = (
        Window.partitionBy(key, "day_ts").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(key, "day_ts")
    cum = cells.select(
        key, "day_ts", "b", "nb",
        F.sum("nb").over(wcum).alias("cum"),
        F.sum("nb").over(wall).alias("n"),
    )
    hit = cum.where(
        F.lit(100) * F.col("cum") >= F.lit(int(q_pct)) * F.col("n")
    ).groupBy(key, "day_ts").agg(
        F.min(F.struct("b", "nb", "cum", "n")).alias("t")
    ).select(
        key, "day_ts",
        F.col("t.b").alias("b"), F.col("t.nb").alias("nb"),
        F.col("t.cum").alias("cum"), F.col("t.n").alias("n"),
    )
    lo_map = {i: (edges[i - 1] if i > 0 else 0) for i in
              range(len(edges) + 1)}
    hi_map = {i: (edges[i] if i < len(edges) else None) for i in
              range(len(edges) + 1)}
    lo = F.element_at(
        F.array(*[F.lit(lo_map[i]) for i in range(len(edges) + 1)]),
        F.col("b") + 1,
    ).cast("double")
    hi = F.element_at(
        F.array(*[
            F.lit(hi_map[i] if hi_map[i] is not None else -1)
            for i in range(len(edges) + 1)
        ]),
        F.col("b") + 1,
    ).cast("double")
    pos = F.lit(float(q_pct)) / F.lit(100.0) * F.col("n").cast("double")
    below = F.col("cum").cast("double") - F.col("nb").cast("double")
    est = F.when(
        F.col("b") == len(edges), lo
    ).otherwise(
        lo + (hi - lo) * (pos - below) / F.col("nb").cast("double")
    )
    return hit.select(
        key, "day_ts",
        F.col("n").cast("long").alias("n"),
        F.round(est / F.lit(float(SCALE)), 6)
        .alias(f"p{int(q_pct)}_est"),
    )
