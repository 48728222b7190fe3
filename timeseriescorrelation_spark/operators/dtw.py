"""Dynamic time warping over DAILY PROFILES — the classic elastic
similarity measure cross-metric Pearson can't express (Pearson dies on
phase shifts; DTW aligns them).

Scale discipline: DTW is O(L²) dynamic programming per pair and
inherently sequential — the WRONG thing to run on raw series.  The
operator therefore runs on the hourly daily profile (L = 24 fixed):
raw events collapse map-side to |keys|·|days|·24 aggregate rows, the
pair space is |keys|²·|days| TINY profile pairs, and each DP is a
24×24 kernel inside an Arrow batch (applyInPandas, numpy) — thousands
of them per task, no per-row Python.  A Sakoe–Chiba band (|i−j| ≤ r)
bounds warping to ±r hours and cuts the kernel to O(L·r).

Exactness: profiles are exact integer cent sums; the DP is float but
deterministic (fixed evaluation order) — still, DTW is not expressible
in one SQL pass (the recurrence is 2-D), so the driver check is
rows-only and the MATH is pinned by pytest against a brute-force
reference implementation (same policy as the streaming operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    bucket_cents,
)


def dtw_daily_pairs(series: DataFrame, key: str = "metric", band: int = 3,
                    z_norm: bool = True) -> DataFrame:
    """(metric_a, metric_b, day_ts, dtw): banded DTW distance between
    every metric pair's 24-point daily profile (missing hours are 0 —
    a profile is a histogram, absence IS zero activity, unlike the
    sampled-series semantics corr_matrix_daily uses).

    ``z_norm`` standardizes each profile first (constant profiles map
    to all-zeros), so DTW measures SHAPE, not magnitude — the standard
    prep in the UCR/matrix-profile literature."""
    import numpy as np
    import pandas as pd

    hourly = bucket_cents(
        series, [F.col(key).alias("k"), F.hour("ts").alias("h")], "day"
    )
    prof = hourly.groupBy("k", "day_ts").agg(
        F.array_sort(F.collect_list(F.struct("h", "y"))).alias("hy")
    )
    a = prof.select(
        F.col("k").alias("metric_a"), "day_ts", F.col("hy").alias("pa")
    )
    b = prof.select(
        F.col("k").alias("metric_b"), "day_ts", F.col("hy").alias("pb")
    )
    pairs = a.join(b, "day_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )

    r = int(band)
    zn = bool(z_norm)

    def _dense(hy) -> "np.ndarray":
        yv = np.zeros(24, dtype=np.int64)
        for e in hy:
            yv[int(e["h"])] = int(e["y"])
        if not zn:
            return yv.astype(np.float64) / SCALE
        # z-norm as ONE double expression over exact integers:
        #   v_i = (24·y_i − T) / sqrt(24·S2 − T²)
        # algebraically identical to (v − mean)/std but replicable
        # bit-for-bit by the SQL oracle (int→double conversion and
        # the correctly-rounded sqrt/divide are engine-independent);
        # scale cancels entirely
        t = int(yv.sum())
        s2 = sum(int(x) * int(x) for x in yv)  # python bigint, no wrap
        den2 = 24 * s2 - t * t
        if den2 <= 0:
            return np.zeros(24)
        num = 24 * yv - t  # exact int64
        return num.astype(np.float64) / float(np.sqrt(float(den2)))

    def _dtw(x: "np.ndarray", y: "np.ndarray") -> float:
        n = len(x)
        inf = np.inf
        d = np.full((n + 1, n + 1), inf)
        d[0, 0] = 0.0
        for i in range(1, n + 1):
            lo, hi = max(1, i - r), min(n, i + r)
            for j in range(lo, hi + 1):
                c = abs(x[i - 1] - y[j - 1])
                d[i, j] = c + min(d[i - 1, j], d[i, j - 1],
                                  d[i - 1, j - 1])
        return float(d[n, n])

    schema = "metric_a string, metric_b string, day_ts timestamp, dtw double"

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = []
        for row in pdf.itertuples(index=False):
            x = _dense(row.pa)
            y = _dense(row.pb)
            out.append(
                (row.metric_a, row.metric_b, row.day_ts,
                 round(_dtw(x, y), 6))
            )
        return pd.DataFrame(
            out, columns=["metric_a", "metric_b", "day_ts", "dtw"]
        )

    return pairs.mapInPandas(
        lambda it: (_kernel(pdf) for pdf in it), schema
    )
