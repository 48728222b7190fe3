"""Global sequence alignment (Needleman–Wunsch) between metric pairs'
daily activity strings — the EDIT-style shape comparison next to
DTW's elastic one: DTW warps time but must match every point; NW may
DELETE hours at a cost, so a metric that skips two hours then tracks
the other perfectly scores high where DTW pays for every skipped
point.

Each (metric, day) becomes a 24-symbol string: 0 = silent hour,
1 = active at-or-below the metric's median hourly volume, 2 = above
(the mcnemar/pairtests doubled-median threshold — exact integer,
engine-neutral).  Alignment scoring is the classic +2 match /
−1 mismatch / −1 gap, so the WHOLE DP is integer arithmetic — no
float enters anywhere, and the fixed length-24 recursion unrolls
along anti-diagonals into generated SQL exactly like the DTW oracle
(operators/dtw.py), but with max() instead of min() and analytic
boundary cells d[i][0] = d[0][j] = −i/−j.

The symbol build, pair join, densification, and kernel scaffolding
are SHARED between the global (NW) and local (SW) variants via
``_daily_symbol_pairs`` / ``_align_pairs`` — only the inner DP
differs, so a threshold or profile change lands exactly once and
cannot silently diverge from the generated SQL oracles (round-3
ADVICE item).

Scale notes (100 TB): the symbol build is one hour-grid hash-agg +
a per-metric median window (aggregate-sized); the pair space is
k²·days over 24-symbol ARRAYS, not raw rows; the DP kernel is an
Arrow-batched mapInPandas over that bounded pair table — the dtw
shape exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import bucket_cents, snap

MATCH = 2
MISMATCH = -1
GAP = -1

_SCHEMA = ("metric_a string, metric_b string, day_ts timestamp,"
           " score long, sim double")


def _daily_symbol_pairs(series: DataFrame, key: str) -> DataFrame:
    """Shared builder: (metric_a, metric_b, day_ts, pa, pb) where
    pa/pb are the sorted (h, s) symbol profiles of each metric's day
    (s ∈ {1, 2} by the doubled-median rule; silent hours are absent
    and densify to 0 in the kernel)."""
    hourly = bucket_cents(
        series, [F.col(key).alias("k"), F.hour("ts").alias("h")], "day"
    )
    w_med = Window.partitionBy("k")
    med2 = snap(F.lit(2) * F.percentile("y", F.lit(0.5)).over(w_med))
    sym = hourly.select(
        "k", "day_ts", "h",
        F.when(F.lit(2) * F.col("y") > med2, F.lit(2))
        .otherwise(F.lit(1)).cast("int").alias("s"),
    )
    prof = sym.groupBy("k", "day_ts").agg(
        F.array_sort(F.collect_list(F.struct("h", "s"))).alias("hs")
    )
    a = prof.select(F.col("k").alias("metric_a"), "day_ts",
                    F.col("hs").alias("pa"))
    b = prof.select(F.col("k").alias("metric_b"), "day_ts",
                    F.col("hs").alias("pb"))
    return a.join(b, "day_ts").where(
        F.col("metric_a") < F.col("metric_b")
    )


def _align_pairs(series: DataFrame, key: str, dp) -> DataFrame:
    """Parameterized kernel wrapper: runs ``dp(x, y) -> int`` (an
    integer DP over two dense 24-symbol vectors) over every
    (metric pair, day) via Arrow-batched mapInPandas; sim normalizes
    by the perfect-match score 2·24."""
    import numpy as np
    import pandas as pd

    pairs = _daily_symbol_pairs(series, key)

    def _dense(hs) -> "np.ndarray":
        v = np.zeros(24, dtype=np.int64)
        for e in hs:
            v[int(e["h"])] = int(e["s"])
        return v

    def _kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = []
        for row in pdf.itertuples(index=False):
            sc = dp(_dense(row.pa), _dense(row.pb))
            out.append((row.metric_a, row.metric_b, row.day_ts, sc,
                        round(sc / (2.0 * 24.0), 6)))
        return pd.DataFrame(
            out,
            columns=["metric_a", "metric_b", "day_ts", "score", "sim"],
        )

    return pairs.mapInPandas(
        lambda it: (_kernel(pdf) for pdf in it), _SCHEMA
    )


def _nw_dp(x, y) -> int:
    import numpy as np

    n = len(x)
    d = np.zeros((n + 1, n + 1), dtype=np.int64)
    d[:, 0] = GAP * np.arange(n + 1)
    d[0, :] = GAP * np.arange(n + 1)
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            sub = MATCH if x[i - 1] == y[j - 1] else MISMATCH
            d[i, j] = max(d[i - 1, j - 1] + sub,
                          d[i - 1, j] + GAP,
                          d[i, j - 1] + GAP)
    return int(d[n, n])


def _sw_dp(x, y) -> int:
    import numpy as np

    n = len(x)
    d = np.zeros((n + 1, n + 1), dtype=np.int64)
    best = 0
    for i in range(1, n + 1):
        for j in range(1, n + 1):
            sub = MATCH if x[i - 1] == y[j - 1] else MISMATCH
            d[i, j] = max(0, d[i - 1, j - 1] + sub,
                          d[i - 1, j] + GAP, d[i, j - 1] + GAP)
            if d[i, j] > best:
                best = int(d[i, j])
    return best


def nw_align_daily(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric_a, metric_b, day_ts, score, sim): per metric pair and
    day, the global-alignment score of the two 24-symbol activity
    strings and sim = score / (2·24) ∈ [−?, 1] (1 = identical
    strings; the normalizer is the perfect-match score)."""
    return _align_pairs(series, key, _nw_dp)


def sw_align_daily(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric_a, metric_b, day_ts, score, sim): Smith–Waterman LOCAL
    alignment of the same 24-symbol day strings — where NW scores the
    WHOLE day (one divergent evening drags everything down), SW finds
    the best-matching SUBWINDOW: d[i][j] floors at 0 and the score is
    the grid MAX, so "these two metrics track perfectly from 9 to 17
    and diverge elsewhere" reads as a high local score with a
    mediocre global one.  Same +2/−1/−1 integers, same anti-diagonal
    oracle unroll (boundary cells 0, greatest(0, …), final max over
    all cells)."""
    return _align_pairs(series, key, _sw_dp)
