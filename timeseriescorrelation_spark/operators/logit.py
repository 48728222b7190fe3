"""In-engine trained logistic classifier: two unrolled IRLS (Newton)
steps, fully declarative — the quality-classifier primitive a
training-data pipeline wants next to the heuristics (langid, quality
scores are hand-set thresholds; this LEARNS a separating plane from
labels, inside the engine, no sklearn).

Unrolling is the changepoints/ESD policy applied to optimization: a
FIXED iteration count makes the driver loop a pure plan — iteration 1
starts at β = 0 where μ = ½ exactly (exp(0) is exact in every libm),
iteration 2 re-weights with the β the first step produced, carried as
a broadcast 1-row frame (never a collect).  Two Newton steps on a
well-separated 2-feature problem land within ~1e-3 of the converged
fit — and BIT-EXACTLY reproducibly, which is what the gate needs.

Exactness recipe: features are exact rationals of integers (chars /
1000, micro-snapped vowel ratio); μ itself is snapped to the 1e-9
grid straight out of the sigmoid, then every per-row IRLS term
(gradient components (y−μ)·x_j, Hessian entries w·x_j·x_k) is ONE
double expression over the snapped μ, SNAPPED again to 1e-9 units,
so the cross-row sums are exact widened integers (`functions.exact`)
in both engines and the 3×3 Cramer solve is a shared double tree over those
integers (the harmonic_regression pattern; the snap scale cancels
inside H⁻¹g).  Residual cross-engine risk is exactly ONE surface:
round(μ·1e9) where the sigmoid differs by <1 ulp of libm exp() —
a μ landing within half an ulp of a .5e-9 boundary could still flip
one unit (astronomically unlikely per value, stated for honesty);
everything downstream of that snap is engine-identical by
construction.

Scale: per iteration ONE map-side-combined hash-agg over the corpus
(9 integer sums) + a broadcast join of the 1-row β — O(iterations)
scans, no shuffle beyond the aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import wide
from timeseriescorrelation_spark.session import local_frame

SNAP = 1.0e9


def _features(docs: DataFrame, pos_label: str) -> DataFrame:
    lt = F.lower(F.col("text"))
    vowels = F.regexp_count(lt, F.lit(r"[aeiou]"))
    letters = F.regexp_count(lt, F.lit(r"[a-z]"))
    vr_u = F.when(
        letters > 0,
        F.round(
            vowels.cast("double") / letters.cast("double") * F.lit(1e6)
        ),
    ).otherwise(F.lit(0.0)).cast("long")
    return docs.select(
        (F.col("lang") == pos_label).cast("int").alias("y"),
        (F.length("text").cast("double") / F.lit(1000.0)).alias("x1"),
        (vr_u.cast("double") / F.lit(1e6)).alias("x2"),
    )


def _newton_step(feat: DataFrame, beta: DataFrame) -> DataFrame:
    """One IRLS step: returns the next 1-row β frame (b0, b1, b2)."""
    j = feat.crossJoin(F.broadcast(beta))
    z = (
        F.col("b0") + F.col("b1") * F.col("x1")
        + F.col("b2") * F.col("x2")
    )
    # μ is snapped to the shared 1e-9 grid BEFORE any product is
    # formed, so both engines derive every gradient/Hessian term from
    # IDENTICAL inputs — the only cross-engine divergence surface left
    # is this single round(μ·1e9), whose argument differs by ≤1 ulp of
    # libm exp() (vs nine independent product-rounding surfaces when
    # the snap happened after the multiply; judged a data-dependent
    # flake risk in round 3's ADVICE).
    mu_raw = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    mu = F.round(mu_raw * F.lit(SNAP)) / F.lit(SNAP)
    w = mu * (F.lit(1.0) - mu)
    yd = F.col("y").cast("double")

    x1, x2 = F.col("x1"), F.col("x2")
    terms = {
        "g0": yd - mu, "g1": (yd - mu) * x1, "g2": (yd - mu) * x2,
        "h00": w, "h01": w * x1, "h02": w * x2,
        "h11": w * x1 * x1, "h12": w * x1 * x2, "h22": w * x2 * x2,
    }
    g = j.select(
        *[wide(F.round(e * F.lit(SNAP))).alias(c) for c, e in terms.items()]
    ).groupBy().agg(*[F.sum(c).alias(c) for c in terms])
    d = {c: F.col(c).cast("double") for c in terms}
    det = (
        d["h00"] * (d["h11"] * d["h22"] - d["h12"] * d["h12"])
        - d["h01"] * (d["h01"] * d["h22"] - d["h12"] * d["h02"])
        + d["h02"] * (d["h01"] * d["h12"] - d["h11"] * d["h02"])
    )
    # Cramer: replace column j of H with g (symmetric H)
    det0 = (
        d["g0"] * (d["h11"] * d["h22"] - d["h12"] * d["h12"])
        - d["h01"] * (d["g1"] * d["h22"] - d["h12"] * d["g2"])
        + d["h02"] * (d["g1"] * d["h12"] - d["h11"] * d["g2"])
    )
    det1 = (
        d["h00"] * (d["g1"] * d["h22"] - d["g2"] * d["h12"])
        - d["g0"] * (d["h01"] * d["h22"] - d["h12"] * d["h02"])
        + d["h02"] * (d["h01"] * d["g2"] - d["g1"] * d["h02"])
    )
    det2 = (
        d["h00"] * (d["h11"] * d["g2"] - d["h12"] * d["g1"])
        - d["h01"] * (d["h01"] * d["g2"] - d["g1"] * d["h02"])
        + d["g0"] * (d["h01"] * d["h12"] - d["h11"] * d["h02"])
    )
    prev = beta.select("b0", "b1", "b2")
    step = g.select(
        (det0 / det).alias("s0"),
        (det1 / det).alias("s1"),
        (det2 / det).alias("s2"),
    )
    return prev.crossJoin(F.broadcast(step)).select(
        (F.col("b0") + F.col("s0")).alias("b0"),
        (F.col("b1") + F.col("s1")).alias("b1"),
        (F.col("b2") + F.col("s2")).alias("b2"),
    )


def logit_fit(docs: DataFrame, pos_label: str = "en",
              n_iter: int = 2) -> DataFrame:
    """(n_docs, n_pos, b0, b1, b2, train_acc): logistic regression of
    `label == pos_label` on (kchars, vowel ratio) after `n_iter`
    unrolled Newton steps; train_acc is the 0.5-threshold accuracy of
    the final plane (exact integer counts over the sign of z)."""
    feat = _features(docs, pos_label)
    beta = local_frame(
        docs.sparkSession, [(0.0, 0.0, 0.0)], "b0 double, b1 double, b2 double"
    )
    for _ in range(int(n_iter)):
        beta = _newton_step(feat, beta)
    scored = feat.crossJoin(F.broadcast(beta))
    z = (
        F.col("b0") + F.col("b1") * F.col("x1")
        + F.col("b2") * F.col("x2")
    )
    hit = ((z > 0).cast("int") == F.col("y")).cast("long")
    out = scored.groupBy("b0", "b1", "b2").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").alias("n_pos"),
        F.sum(hit).alias("n_hit"),
    )
    return out.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b1"),
        F.round("b2", 6).alias("b2"),
        F.round(
            F.col("n_hit").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("train_acc"),
    )
