"""Matrix profile over the daily 24-hour activity window: for every
length-m subsequence of each (key, day) hourly series, the distance to
its nearest non-trivial neighbour that day — THE modern time-series
similarity primitive (motif = the profile's global minimum, discord =
its maximum), pointed at the same question the reference's correlation
report asks ("which stretches of activity repeat?") at sub-day scale.

Distances are z-normalized Euclidean, computed entirely from exact
integer moments (the MASS/STOMP trick, batch form):

    dist²(i,j) = 2m·(1 − ρ_ij),
    ρ_ij = (m·Σxy − Sx·Sy) / √((m·Σx² − Sx²)·(m·Σy² − Sy²))

Σx/Σx² per window and Σxy per (lag, start) are integer sums assembled
by EXPLODING each hour (resp. each lagged product) into the ≤m windows
containing it — rolling sums as hash aggregations, no window
functions over raw data.  ρ and dist are then one identical double
expression tree over exact integers; Cauchy–Schwarz holds exactly, so
the only float hazard is ρ = 1+ulp, squashed by greatest(0, ·) in both
engines.  The per-pair distance is snapped to integer micro-units
(round(dist·1e6) → long) BEFORE the argmin, so nearest-neighbour
selection and its (dist, j) tie-break are pure integer comparisons —
bit-identical cross-engine.

Trivial-match exclusion: |i−j| > m//2 (a subsequence trivially matches
its own shifted copies).  Zero-variance (constant) windows cannot be
z-normalized; pairs touching one are dropped, and an index whose every
candidate is dropped emits nothing.  Only complete 24-hour days
participate (a partial edge day would mix window lengths).

Scale notes (100 TB): raw scan → |keys|·|hours| dense grid in one
map-side-combined hash-agg; everything after is sized by the grid ×
bounded fan-outs (≤m window memberships per hour, ≤24−m−excl lags per
hour) through three more hash-aggs and two equi-joins keyed
(key, day[, i]) — per-day work is a CONSTANT (~2k intermediate rows),
so the operator scales linearly in metric-days with no skew risk.  A
cross-day or cross-key matrix profile is the same plan with a wider
join key and an AB-join candidate prune in front (candidate_pairs),
deliberately out of scope here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap
from timeseriescorrelation_spark.operators.acf import hourly_counts_dense


def matrix_profile_daily(series: DataFrame, keys: list[str] | None = None,
                         m: int = 4) -> DataFrame:
    """(keys..., day_ts, idx, j_star, mp): per complete (key, day),
    the z-normalized nearest-neighbour distance `mp` of the length-m
    subsequence starting at hour `idx`, and its neighbour's start
    `j_star` (ties broken toward the smaller j).  mp is in
    √(2m)-bounded z-space: 0 = an exact repeat exists, √(2m) ≈ worst.
    """
    keys = keys or ["metric"]
    excl = m // 2
    n = 24
    last = n - m  # last valid subsequence start
    g = hourly_counts_dense(series, keys)
    day = g.select(
        *keys,
        F.timestamp_micros(
            (F.floor(F.col("h_us") / F.lit(86_400_000_000))
             * F.lit(86_400_000_000)).cast("long")
        ).alias("day_ts"),
        ((F.col("h_us") % F.lit(86_400_000_000))
         / F.lit(3_600_000_000)).cast("int").alias("t"),
        "y",
    )
    wd = Window.partitionBy(*keys, "day_ts")
    full = (
        day.withColumn("nh", F.count(F.lit(1)).over(wd))
        .where(F.col("nh") == n)
        .drop("nh")
    )
    # per-window integer moments: each hour joins the <=m windows
    # containing it (explode born post-agg on the 24-row day grid)
    win = (
        full.select(
            *keys, "day_ts", "y",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("t") - F.lit(m - 1)),
                    F.least(F.col("t"), F.lit(last)),
                )
            ).alias("i"),
        )
        .groupBy(*keys, "day_ts", "i")
        .agg(
            F.sum("y").alias("sx"),
            F.sum(F.col("y") * F.col("y")).alias("sxx"),
        )
    )
    # lagged products y_t * y_{t+d}, then rolled into window starts
    lags = full.select(
        *keys, "day_ts", "t", "y",
        F.explode(
            F.sequence(F.lit(excl + 1), F.lit(last))
        ).alias("d"),
    ).where(F.col("t") + F.col("d") <= F.lit(n - 1))
    rhs = full.select(
        *keys, "day_ts", F.col("t").alias("t2"), F.col("y").alias("y2")
    )
    prod = (
        lags.withColumn("t2", F.col("t") + F.col("d"))
        .join(rhs, [*keys, "day_ts", "t2"])  # equi-join, hashed on t2 too
        .select(
            *keys, "day_ts", "d", "t",
            (F.col("y") * F.col("y2")).alias("p"),
        )
    )
    sxy = (
        prod.select(
            *keys, "day_ts", "d", "p",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("t") - F.lit(m - 1)),
                    F.least(F.col("t"), F.lit(last) - F.col("d")),
                )
            ).alias("i"),
        )
        .groupBy(*keys, "day_ts", "d", "i")
        .agg(F.sum("p").alias("sxy"), F.count(F.lit(1)).alias("kcnt"))
        .where(F.col("kcnt") == m)
        .withColumn("j", F.col("i") + F.col("d"))
    )
    wi = win.select(
        *keys, "day_ts", F.col("i").alias("i"),
        F.col("sx").alias("sx_i"), F.col("sxx").alias("sxx_i"),
    )
    wj = win.select(
        *keys, "day_ts", F.col("i").alias("j"),
        F.col("sx").alias("sx_j"), F.col("sxx").alias("sxx_j"),
    )
    pr = (
        sxy.join(wi, [*keys, "day_ts", "i"])
        .join(wj, [*keys, "day_ts", "j"])
    )
    num = (F.lit(m) * F.col("sxy")
           - F.col("sx_i") * F.col("sx_j")).cast("double")
    den_i = F.lit(m) * F.col("sxx_i") - F.col("sx_i") * F.col("sx_i")
    den_j = F.lit(m) * F.col("sxx_j") - F.col("sx_j") * F.col("sx_j")
    rho = num / F.sqrt(den_i.cast("double") * den_j.cast("double"))
    d2 = F.greatest(F.lit(0.0), F.lit(2.0 * m) * (F.lit(1.0) - rho))
    scored = pr.where((den_i > 0) & (den_j > 0)).select(
        *keys, "day_ts", "i", "j", snap(F.sqrt(d2), 6).alias("dsnap")
    )
    both = scored.unionByName(
        scored.select(
            *keys, "day_ts",
            F.col("j").alias("i"), F.col("i").alias("j"), "dsnap",
        )
    )
    wr = Window.partitionBy(*keys, "day_ts", "i").orderBy("dsnap", "j")
    top = both.withColumn("rn", F.row_number().over(wr)).where(
        F.col("rn") == 1
    )
    return top.select(
        *keys, "day_ts",
        F.col("i").cast("int").alias("idx"),
        F.col("j").cast("int").alias("j_star"),
        (F.col("dsnap").cast("double") / F.lit(1e6)).alias("mp"),
    )
