"""Deterministic sampling / dataset-split assignment for training-data
pipelines: every decision is a pure function of a stable id hash, so
runs are reproducible across clusters, restarts, and engines (the
DuckDB oracle replicates the exact same md5-bucket arithmetic — unlike
`df.sample()`/`sampleBy()`, whose RNG is partition-layout dependent and
cannot be oracle-checked or safely resumed).

Bucket = first 16 bits of md5(id) -> uniform 0..65535.  md5 of the
decimal string form is engine-portable (Spark `md5` == DuckDB `md5`
on identical bytes).  Splitting on conv/doc id (not row id) keeps all
rows of one unit on one side — the leakage-safe split.

Scale notes: stateless per-row projection — no shuffle, no sampling
state, prunes straight down onto the scan; a 1% sample of 100 TB reads
as a filter, not a reservoir."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    snap,
)

N_BUCKETS = 1 << 16


def hash_bucket(id_col: str) -> Column:
    """Stable uniform bucket 0..65535 from md5 of the id's string form."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
    ).cast("int")


def sample_fraction(df: DataFrame, frac: float) -> DataFrame:
    """Keep ~frac of units, deterministically (bucket < frac * 2^16)."""
    return df.where(hash_bucket("doc_id") < int(frac * N_BUCKETS))


def assign_split(df: DataFrame, train: float = 0.8,
                 val: float = 0.1) -> DataFrame:
    """Append a 'split' column: train / val / test by hash range.

    Boundaries are exact bucket counts (floor), so the same id lands in
    the same split forever regardless of corpus size or order."""
    b = hash_bucket("doc_id")
    t_hi = int(train * N_BUCKETS)
    v_hi = int((train + val) * N_BUCKETS)
    split = (
        F.when(b < t_hi, F.lit("train"))
        .when(b < v_hi, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def weighted_sample_topk(df: DataFrame, strata: list[str],
                         k: int = 20) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per stratum, weighted
    by `n_chars`, fully deterministic: Efraimidis–Spirakis A-ES — each
    unit draws u ~ U(0,1) and the k largest u^(1/w) win, which provably
    samples with probability proportional to weight.  The uniform comes
    from the same md5-integer recipe as hash_bucket (top 15 hex chars →
    60-bit integer h; u = (h+1)/(2^60+1) ∈ (0,1)), so the draw is a
    pure function of the id: reproducible across clusters, restarts,
    and engines, and the DuckDB oracle replicates every key exactly.

    The selection key is ln(u)/w — the monotone log form of u^(1/w)
    (larger is better for both) — SNAPPED to integer nano-units before
    ranking (the lm.py fixed-point discipline): a ≤1-ulp libm
    difference in ln() can never flip the order of two snapped keys,
    so the selected set is deterministic cross-engine; snapped ties
    break by id.

    Scale notes (100 TB): one stateless projection + a PARTITIONED
    top-k window keyed by the stratum (row_number ≤ k, rank pushdown
    applies); never a global sort.  Weights must be > 0 — the caller
    clamps (a ≤ 0 weight has no u^(1/w) interpretation)."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    two60 = float((1 << 60) + 1)
    u = (h + F.lit(1)).cast("double") / F.lit(two60)
    key = snap(F.log(u) / F.col("n_chars").cast("double"), 9)
    from pyspark.sql import Window

    win = Window.partitionBy(*strata).orderBy(
        F.desc("_es_key_n"), F.asc("doc_id")
    )
    return (
        df.withColumn("_es_key_n", key)
        .withColumn("_rk", F.row_number().over(win))
        .where(F.col("_rk") <= int(k))
        .select(
            *strata, "doc_id",
            F.col("_rk").cast("int").alias("draw_rank"),
            F.col("_es_key_n").alias("es_key_n"),
        )
    )


def source_mix_weights(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature-based source mixing weights for training-data
    assembly (the alpha-sampling rule from the multilingual-LM
    literature: p_s = m_s^alpha / sum_t m_t^alpha, alpha < 1 upweights
    small sources; alpha=1 is proportional, alpha=0 uniform).  Returns
    one row per source: document count, exact token-mass total,
    its natural share, the alpha-tempered sampling weight, and the
    expected epochs over each source when one full corpus-mass budget
    is drawn under the tempered distribution (epochs_at_budget =
    p_s * M / m_s — >1 means that source repeats).

    Cross-engine exactness: m_s and M are exact BIGINT sums; m_s^alpha
    is micro-snapped (floor(pow * 1e6) as BIGINT) BEFORE the
    denominator sum, so the normalizing constant is an exact integer
    in both engines and every output is a single deterministic
    double divide rounded 6dp — a raw double sum over sources would
    inherit engine addition order.

    Scale notes (100 TB): one hash-agg down to |sources| rows, then a
    broadcast of the 1-row total back onto it; the corpus itself is
    touched exactly once."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("mass"),
    ).withColumn(
        "_w",
        F.floor(F.pow(F.col("mass").cast("double"), F.lit(float(alpha)))
                * F.lit(1e6)).cast("long"),
    )
    tot = per.agg(
        F.sum("mass").alias("_m_tot"), F.sum("_w").alias("_w_tot")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("mass").cast("long").alias("mass"),
        F.round(F.col("mass").cast("double") / F.col("_m_tot"), 6)
        .alias("natural_share"),
        F.round(F.col("_w").cast("double") / F.col("_w_tot"), 6)
        .alias("mix_weight"),
        F.round(
            (F.col("_w").cast("double") / F.col("_w_tot"))
            * F.col("_m_tot").cast("double") / F.col("mass"),
            6,
        ).alias("epochs_at_budget"),
    )


# Poisson(1) CDF quantized to the 60-bit hash grid: T[k] =
# floor(cdf(k)·2^60).  A 60-bit md5 integer h maps to the multiplier
# w = |{k : h >= T[k]}| (capped at 8, beyond which cdf ~ 1 - 1e-5) —
# the inverse-CDF draw as EIGHT integer comparisons, no floats, so
# every engine derives the identical weight from the identical id.
POISSON1_T60 = [
    424136118829305344, 848272237658610688, 1060340297073263360,
    1131029650211480960, 1148701988496035328, 1152236456152946176,
    1152825534095764608, 1152909688087595776,
]


def bootstrap_mean_ci(series: DataFrame, n_boot: int = 32,
                      lo_rank: int = 2, hi_rank: int = 31) -> DataFrame:
    """Per-metric mean of cent values with a percentile-bootstrap CI
    from the Poisson multiplier bootstrap (the web-scale bootstrap:
    resampling n rows WITH replacement is a shuffle of the whole
    dataset per replica, but Poisson(1) multipliers approximate the
    same multinomial in ONE pass — each row independently weighted,
    no coordination, the standard trick for CIs over data too large
    to resample).

    Determinism: replica b's weight for a row is a pure function of
    md5(event_id:b) through the integer threshold table POISSON1_T60
    — reproducible across engines, clusters, and restarts, and the
    DuckDB oracle replays every draw exactly.  Replica means are one
    IEEE divide of exact int64 sums; the CI bounds are order
    statistics of the n_boot replica means (rank lo/hi over (mean,
    b) — deterministic because tied doubles fall back to b).

    Scale shape: the explode is rows×n_boot but purely map-side
    (md5 + comparisons in whole-stage codegen); the only shuffle is
    the (metric, b) hash-agg — |metrics|·n_boot cells of partial
    sums.  lo=2/hi=31 of 32 ≈ a 94% interval.
    """
    b = F.explode(
        F.sequence(F.lit(1), F.lit(int(n_boot)))
    ).alias("b")
    rows = series.select(
        "metric",
        snap("value", VALUE_DECIMALS).alias("c"),
        F.col("turn_idx").cast("long").alias("eid"),
        b,
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("eid"), F.col("b"))), 1, 15
        ),
        16, 10,
    ).cast("long")
    w = sum(
        (h >= F.lit(t)).cast("long") for t in POISSON1_T60
    )
    rep = (
        rows.withColumn("w", w)
        .groupBy("metric", "b")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("c")).alias("swc"),
        )
        .where(F.col("sw") > 0)
        .select(
            "metric", "b",
            (F.col("swc").cast("double") / F.col("sw").cast("double"))
            .alias("mean_b"),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("metric").orderBy("mean_b", "b")
    ci = (
        rep.withColumn("rk", F.row_number().over(win))
        .groupBy("metric")
        .agg(
            F.max(
                F.when(F.col("rk") == int(lo_rank), F.col("mean_b"))
            ).alias("lo_c"),
            F.max(
                F.when(F.col("rk") == int(hi_rank), F.col("mean_b"))
            ).alias("hi_c"),
        )
    )
    point = series.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(snap("value", VALUE_DECIMALS)).alias("sc"),
    )
    return (
        point.join(ci, "metric")
        .select(
            "metric", "n_points",
            F.round(
                F.col("sc").cast("double")
                / (F.lit(float(SCALE)) * F.col("n_points").cast("double")),
                6,
            ).alias("mean_amt"),
            F.round(F.col("lo_c") / float(SCALE), 6).alias("boot_lo"),
            F.round(F.col("hi_c") / float(SCALE), 6).alias("boot_hi"),
        )
    )
