"""Tiered cross-series correlation: bucketed DFT/Euclidean pruning +
exact Pearson over downsampled aggregates (BASELINE.json:6; reference
pipeline role per SURVEY §3.1(3), algorithms §0.1: StatStream grid +
Agrawal/Faloutsos/Swami DFT lower bound + the ρ↔distance identity).

Math. For each series take the dense aligned vector x of length m,
z-normalize to unit norm: x̂ = (x − μ) / (σ√m), so Pearson ρ(x,y) =
x̂·ŷ and ‖x̂−ŷ‖² = 2(1−ρ).  Thus "ρ ≥ θ" ⟺ "d ≤ ε = √(2(1−θ))".
With X = FFT(x̂): Σ_f |X_f|² = m (Parseval, numpy convention), DC term
is 0, and coefficients are conjugate-symmetric, so for any k <
(m−1)/2 the scaled prefix sketch  s(x̂) = √(2/m)·[Re X_1, Im X_1, …,
Re X_k, Im X_k]  satisfies ‖s(x̂) − s(ŷ)‖ ≤ d — a safe lower bound:
pruning pairs with ‖s_a − s_b‖ > ε never drops a reported pair.

Spark shape (all joins equi-joins; no cartesian):
1. vectors: groupBy(id) → sorted value array, z-normed with native
   higher-order functions;
2. sketch: one vectorized pandas_udf (numpy rfft over the whole Arrow
   batch — the only Python in the operator);
3. ε-grid: cell = (⌊s₀/ε⌋, ⌊s₁/ε⌋); side A explodes to its 3×3
   neighborhood, side B keeps home cells → pure equi-join on the cell
   pair + id_a < id_b gives each candidate exactly once (J1);
4. lower-bound filter ‖s_a−s_b‖² ≤ ε² via zip_with/aggregate (JVM);
5. exact ρ = x̂_a·x̂_b via zip_with/aggregate after two hash joins of
   candidates to the (small) vectors table — broadcast when it fits.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def build_vectors(aligned: DataFrame) -> DataFrame:
    """aligned (series_id, grid_ts, value) — one row per grid step, all
    series on the same grid → (series_id, m, vec) with vec z-normalized
    to unit norm.  Constant series (σ=0) are dropped (ρ undefined)."""
    vec = F.transform(
        F.array_sort(F.collect_list(F.struct("grid_ts", "value"))),
        lambda s: s["value"],
    )
    g = aligned.groupBy("series_id").agg(
        vec.alias("raw"),
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
        F.count("value").alias("m"),
    )
    denom = F.col("sigma") * F.sqrt(F.col("m").cast("double"))
    return (
        g.where(F.col("sigma") > 0)
        .select(
            "series_id",
            "m",
            F.transform(
                "raw", lambda v: (v - F.col("mu")) / denom
            ).alias("vec"),
        )
    )


def dft_sketch(vectors: DataFrame, k: int = 4) -> DataFrame:
    """(series_id, m, vec) → (series_id, vec, sketch[2k]) — scaled DFT
    prefix, one Arrow-vectorized numpy rfft per batch."""

    @pandas_udf("array<double>")
    def _sketch(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # equal lengths guaranteed
        m = mat.shape[1]
        kk = min(k, max((m - 1) // 2, 1))
        coef = np.fft.rfft(mat, axis=1)[:, 1 : kk + 1] * math.sqrt(2.0 / m)
        out = np.empty((mat.shape[0], 2 * kk))
        out[:, 0::2] = coef.real
        out[:, 1::2] = coef.imag
        return pd.Series(list(out))

    return vectors.select("series_id", "m", "vec",
                          _sketch("vec").alias("sketch"))


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def candidate_pairs(sketches: DataFrame, theta: float,
                    id_col: str = "series_id") -> DataFrame:
    """ε-grid bucket self-join (J1) + DFT lower-bound filter (P4)."""
    eps = math.sqrt(2.0 * (1.0 - theta))
    sk = sketches.select(
        F.col(id_col).alias("sid"),
        "sketch",
        F.floor(F.element_at("sketch", 1) / F.lit(eps)).alias("c0"),
        F.floor(F.element_at("sketch", 2) / F.lit(eps)).alias("c1"),
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    a = (
        sk.withColumn("d0", d)
        .withColumn("d1", d)
        .select(
            F.col("sid").alias("id_a"),
            F.col("sketch").alias("sk_a"),
            (F.col("c0") + F.col("d0")).alias("e0"),
            (F.col("c1") + F.col("d1")).alias("e1"),
        )
    )
    b = sk.select(
        F.col("sid").alias("id_b"),
        F.col("sketch").alias("sk_b"),
        F.col("c0").alias("e0"),
        F.col("c1").alias("e1"),
    )
    cand = a.join(b, ["e0", "e1"]).where(F.col("id_a") < F.col("id_b"))
    return cand.select(
        "id_a",
        "id_b",
        _sq_dist(F.col("sk_a"), F.col("sk_b")).alias("lb_sq"),
    ).where(F.col("lb_sq") <= F.lit(eps * eps))


# Max number of vector ELEMENTS (n_series * m doubles) we will hint for
# broadcast in exact_corr: 8 bytes/element -> ~128 MB serialized at the
# cap, under Spark's practical broadcast comfort zone.  Above it the
# probe joins fall back to shuffle joins (SMJ/AQE's choice), which is
# the correct plan when the vectors table itself is cluster-scale.
BROADCAST_MAX_ELEMENTS = 16_000_000


def exact_corr(cand: DataFrame, vectors: DataFrame, theta: float,
               broadcast_vectors: bool | None = None,
               n_elements: int | None = None) -> DataFrame:
    """Candidates → exact ρ via unit-vector dot product (A4/J2).

    broadcast_vectors: True/False force the plan; None (default)
    auto-sizes — broadcast only when the vectors table holds at most
    BROADCAST_MAX_ELEMENTS doubles.  Pass ``n_elements`` (n_series * m)
    when the caller already knows it (corr_report does, from counters);
    otherwise one count job on ``vectors`` decides (cache ``vectors``
    first, as corr_report does, to make that job cheap)."""
    if broadcast_vectors is None:
        if n_elements is None:
            # width from the vec column itself (no reliance on an 'm'
            # column — callers may pass a bare (id, vec) frame); the
            # engine's vectors are equal-length by construction
            first = vectors.select(F.size("vec").alias("_w")).first()
            m_width = int(first["_w"]) if first is not None else 0
            n_elements = vectors.count() * max(m_width, 1)
        broadcast_vectors = n_elements <= BROADCAST_MAX_ELEMENTS
    v = vectors.select(F.col("series_id").alias("vid"), "vec")
    if broadcast_vectors:
        v = F.broadcast(v)
    paired = (
        cand.join(v.withColumnRenamed("vec", "va"),
                  cand.id_a == F.col("vid")).drop("vid")
        .join(v.withColumnRenamed("vec", "vb"),
              cand.id_b == F.col("vid")).drop("vid")
    )
    return (
        paired.select(
            "id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("rho")
        )
        .where(F.col("rho") >= F.lit(theta))
    )


def corr_report(aligned: DataFrame, theta: float, k: int = 4,
                broadcast_vectors: bool | None = None) -> tuple[DataFrame, dict]:
    """Full tiered operator.  Returns (report_df sorted by ρ desc,
    pruning counters) — counters trigger computation (A5)."""
    from timeseriescorrelation_spark.session import cache_once

    vectors = cache_once(
        dft_sketch(build_vectors(aligned), k)
    )
    n = vectors.count()
    first = vectors.select("m").first()
    m_width = int(first["m"]) if first is not None else 1
    cand = candidate_pairs(vectors, theta)
    cand = cache_once(cand)
    n_checked = cand.count()
    report = exact_corr(
        cand, vectors, theta, broadcast_vectors,
        n_elements=n * m_width,
    ).orderBy(F.desc("rho"), "id_a", "id_b")
    n_reported = report.count()
    counters = {
        "n_series": n,
        "all_pairs": n * (n - 1) // 2,
        "checked": n_checked,
        "reported": n_reported,
        "pruned": n * (n - 1) // 2 - n_checked,
    }
    return report, counters


def corr_naive(aligned: DataFrame, theta: float) -> DataFrame:
    """All-pairs exact Pearson (no pruning) — the golden baseline the
    pruned report must equal (SURVEY §5.2 item 4)."""
    vectors = build_vectors(aligned)
    a = vectors.select(F.col("series_id").alias("id_a"),
                       F.col("vec").alias("va"))
    b = vectors.select(F.col("series_id").alias("id_b"),
                       F.col("vec").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _dot(F.col("va"), F.col("vb")).alias("rho"))
        .where(F.col("rho") >= F.lit(theta))
    )


def rank_transform(aligned: DataFrame) -> DataFrame:
    """Average-rank each series' values WITHIN its own aligned vector:
    rank_asc + (tie_cnt − 1)/2 — the same one-sort tie identity
    spearman_hourly_pairs uses, but over the fixed per-series grid.

    This is the composition seam for PRUNED Spearman: Spearman ρ of
    (x, y) is Pearson ρ of (rank(x), rank(y)), so rank-transforming
    the aligned input and running the existing tiered pipeline
    (build_vectors → dft_sketch → candidate_pairs → exact_corr) gives
    rank correlation with the ε-grid prune's no-false-negative
    guarantee carried over verbatim — the sketch lower bound only
    assumes unit-normed vectors, and the rank vectors are z-normed by
    build_vectors like any other series.

    Scale: ONE shuffle keyed on series_id (both windows sort-satisfy
    on the same (id, value) order); per-partition work is bounded by
    the aligned vector length m, never corpus-wide.  Pairs whose
    values are all ties (σ=0 after ranking) drop in build_vectors —
    Spearman is undefined there, matching SQL corr()'s NULL."""
    from pyspark.sql import Window

    w = Window.partitionBy("series_id").orderBy("value")
    ties = Window.partitionBy("series_id", "value")
    return aligned.withColumn(
        "value",
        F.rank().over(w) + (F.count("*").over(ties) - 1) / 2.0,
    )
