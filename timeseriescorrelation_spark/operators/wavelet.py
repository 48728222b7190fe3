"""Haar wavelet variance: multi-scale variance decomposition of the
hourly activity series by dyadic tree aggregation.

Allan variance (tsdiag) answers "how stable is the rate between
adjacent windows of size τ"; the Haar wavelet variance answers the
richer question "how much of the series' total variance lives at each
time scale 2^j hours" — the standard multi-resolution diagnostic for
long-range dependence (the log2 ν²_j vs j slope estimates the same
Hurst exponent `hurst` gets from R/S, by an independent route) and
for picking rollup tier widths: a tier boundary placed below the
scale that carries the variance wastes resolution, one placed above
it destroys signal.

Haar is the ONE wavelet whose detail coefficients are pure integer
arithmetic on integer inputs — no filter taps, no trig, no ln:

    D_{j,b} = Σ y (left half of block b) − Σ y (right half),
    block b = t DIV 2^j,   half = (t DIV 2^{j-1}) mod 2,
    ν²_j    = Σ_b D²_{j,b} / (2^j · n_blocks)

(the normalized coefficient is d = D/2^{j/2}; ν²_j is the mean of d²,
so the 2^j lands in the denominator once, after the integer sum).
Every D and every D² is an exact integer, so the only float operation
is the final divide (`functions.exact`).

Scale notes (100 TB): raw scan → |keys|·|hours| grid rows in one
map-side-combined hash-agg; the level explode multiplies the GRID
(not raw events) by J≤5; two more hash-aggs keyed (key, level, block)
then (key, level) — balanced keys, no windows over raw data, no
joins beyond the grid densify.  Dyadic blocks mean each level-j agg
row summarizes 2^j grid rows: the tree shrinks geometrically, so the
whole decomposition costs ~2× the level-1 agg.

Complete blocks only: a tail block with fewer than 2^j hours is
dropped (its D would mix scales), detected by count == 2^j — cheap
because the grid is dense per key by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import wide
from timeseriescorrelation_spark.operators.acf import hourly_counts_dense


def haar_variance(series: DataFrame, keys: list[str] | None = None,
                  max_level: int = 4, min_blocks: int = 4) -> DataFrame:
    """(keys..., level, scale_h, n_blocks, nu2): Haar wavelet variance
    of the dense hourly event-count series at scales 2^1..2^max_level
    hours.

    nu2 is the mean squared NORMALIZED detail coefficient
    (D/2^{j/2})², i.e. Σ D² / (2^j · n_blocks), in (events/hour)²
    units; levels with fewer than `min_blocks` complete blocks are
    dropped (a 2-block variance is noise, not a spectrum point).

    Closed forms worth testing against: constant series → 0 at every
    level; linear trend of slope s per hour → nu2_j = s²·2^{3j-4}
    (each block's halves differ by exactly s·4^{j-1})."""
    keys = keys or ["metric"]
    g = hourly_counts_dense(series, keys)
    w = F.min("h_us").over(Window.partitionBy(*keys))
    idx = g.select(
        *keys, "y",
        ((F.col("h_us") - w) / F.lit(3_600_000_000))
        .cast("long").alias("t"),
    )
    lv = idx.select(
        *keys, "y", "t",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, max_level + 1)])
        ).alias("level"),
    )
    half_len = F.expr("cast(shiftleft(1, level - 1) as long)")
    blk_len = F.expr("cast(shiftleft(1, level) as long)")
    blocks = lv.groupBy(
        *keys, "level",
        (F.col("t") / blk_len).cast("long").alias("b"),
    ).agg(
        F.sum(
            F.when(((F.col("t") / half_len).cast("long") % 2) == 0,
                   F.col("y")).otherwise(-F.col("y"))
        ).cast("long").alias("d"),
        F.count(F.lit(1)).alias("cnt"),
    )
    blk_len2 = F.expr("cast(shiftleft(1, level) as long)")
    per_level = (
        blocks.where(F.col("cnt") == blk_len2)
        .groupBy(*keys, "level")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(
                wide("d") * wide("d")
            ).alias("ssq"),
        )
        .where(F.col("n_blocks") >= F.lit(min_blocks))
    )
    scale_h = F.expr("cast(shiftleft(1, level) as int)")
    nu2 = (
        F.col("ssq").cast("double")
        / F.expr(
            "cast(n_blocks * cast(shiftleft(1, level) as long) as double)"
        )
    )
    return per_level.select(
        *keys,
        F.col("level").cast("int").alias("level"),
        scale_h.alias("scale_h"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.round(nu2, 6).alias("nu2"),
    )
