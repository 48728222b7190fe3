"""Skew handling for heavy conversations (SURVEY J7; BASELINE.json:6
"partitioning hashes on conv_id with salted repartitioning for skewed
long conversations").

Three tools, used at different layers:

1. ``with_salt`` / ``salted_repartition`` — spread ONE heavy key over
   ``buckets`` partitions for storage layout and embarrassingly-parallel
   per-row work.  The salt derives from a row-varying column
   (turn_idx), so a 5M-turn conversation lands on ``buckets`` tasks
   instead of one.  Order-sensitive consumers re-sort via the usual
   explicit repartition+sortWithinPartitions discipline (O1).
2. ``stats_two_phase`` — skew-proof per-(conv_id, metric) global stats:
   phase 1 aggregates (cnt, Σv, Σv², min, max) per (key, salt) — the
   heavy key's rows are reduced in parallel across salt buckets —
   phase 2 merges the tiny per-salt partials.  Algebraically identical
   to the direct groupBy (sums are associative), so the DuckDB oracle
   is the plain aggregation.
3. For joins and AQE-visible skew the engine relies on
   spark.sql.adaptive.skewJoin (enabled in session.py); groupBy skew is
   what needs the explicit salt (AQE does not split aggregation keys).

Note the windows that CANNOT be salted: lag/lead over a whole
conversation (turn_rate derivation, gap-fill lead) are inherently
sequential per key.  Their skew ceiling is one conversation per task —
bounded by the max single-conversation length, and measured acceptable
(the 8→32 end-to-end efficiency is 0.85+ on 1%-of-convs-500x-skewed
synthetic data; see BENCH/BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import wide


def with_salt(df: DataFrame, buckets: int = 16) -> DataFrame:
    """Add a deterministic salt in [0, buckets) varying per row."""
    return df.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(buckets)).cast("int"),
    )


def salted_repartition(df: DataFrame, n_parts: int,
                       buckets: int = 16) -> DataFrame:
    """Hash-repartition on (key, salt): heavy keys spread over
    ``buckets`` partitions, light keys unaffected (one bucket each
    lands in one partition anyway).  Follow with sortWithinPartitions
    for order-sensitive writes."""
    return with_salt(df, buckets).repartition(
        n_parts, "conv_id", "salt"
    ).drop("salt")


def stats_two_phase(series: DataFrame, buckets: int = 16) -> DataFrame:
    """Per-(conv_id, metric) count/sum/avg/std/min/max, skew-proof.

    Output matches the direct groupBy exactly (associative partials);
    std is population std from the merged moments:
    sqrt(max(Σv²/n − (Σv/n)², 0))."""
    p1 = (
        with_salt(series, buckets)
        .groupBy("conv_id", "metric", "salt")
        .agg(
            F.count("value").alias("c"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    merged = p1.groupBy("conv_id", "metric").agg(
        F.sum("c").alias("cnt"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
    )
    mean = F.col("s1") / F.col("cnt")
    var = F.greatest(
        F.col("s2") / F.col("cnt") - mean * mean, F.lit(0.0)
    )
    return merged.select(
        "conv_id",
        "metric",
        "cnt",
        F.round("s1", 6).alias("sum_v"),
        F.round(mean, 6).alias("avg_v"),
        F.round(F.sqrt(var), 6).alias("std_v"),
        F.col("min_v"),
        F.col("max_v"),
    )


def key_skew_report(series: DataFrame) -> DataFrame:
    """(group, n_keys, n_rows, gini_u, top1_share_u): how skewed is the
    per-key row distribution inside each group — the measurement that
    DECIDES when the salting above is worth its shuffle (BASELINE's
    "salted repartitioning for skewed long conversations" needs a
    detector, not a guess).

    Gini over sorted per-key counts x₁≤…≤xₙ:
        G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)
    The numerator and denominator are EXACT decimal(38,0)/hugeint
    integers (rank·count products), so gini_u = floor(1e6·num/den) is
    bit-identical cross-engine; ties in x are interchangeable under
    Σi·xᵢ, so the rank's tie order cannot change the result.
    top1_share_u = floor(1e6·max(x)/Σx) — the one-key concentration
    that decides between AQE skew-join and explicit salt.

    Scale notes (100 TB): the raw scan collapses map-side to one row
    per (group, key); the rank window runs over |keys|-per-group rows
    (NOT raw data).  At 10⁹ keys per group, shard the rank by count
    buckets first (same telescoped-prefix trick as
    intervals.max_concurrency); at the engine's conv_id cardinalities
    the single per-group window is the right plan."""
    counts = series.groupBy("metric", "conv_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("metric").orderBy("x", "conv_id")
    ranked = counts.select(
        "metric", "x", F.row_number().over(w).alias("i")
    )
    g = ranked.groupBy("metric").agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(wide("x")).alias("sx"),
        F.sum(wide("i") * wide("x")).alias("six"),
        F.max("x").alias("xmax"),
    )
    num = wide(F.lit(2)) * F.col("six") - (
        F.col("n") + wide(F.lit(1))
    ) * F.col("sx")
    den = F.col("n") * F.col("sx")
    return g.select(
        F.col("metric"),
        F.col("n").cast("long").alias("n_keys"),
        F.col("sx").cast("long").alias("n_rows"),
        F.floor(
            num.cast("double") * F.lit(1_000_000.0) / den.cast("double")
        ).cast("long").alias("gini_u"),
        F.floor(
            F.col("xmax").cast("double") * F.lit(1_000_000.0)
            / F.col("sx").cast("double")
        ).cast("long").alias("top1_share_u"),
    )
