"""Sliding/rolling window statistics over EVENT TIME (SURVEY §2.5 W5,
frame specs W6): per-row aggregates over a trailing time range, e.g.
"count/min/max/sum/avg of this user's values in the last hour".

This is the `rangeBetween` frame — a true event-time range, not a row
count: a user with 3 events in the last hour gets a 3-row frame no
matter how their rows interleave with other hours.  The order key is
integer epoch microseconds (TIMESTAMP_NTZ-safe via timeutil.epoch_us;
rangeBetween requires a numeric orderBy), so the frame boundary is
exact at full timestamp precision and DuckDB's
``ORDER BY epoch_us(ts) RANGE BETWEEN n PRECEDING AND CURRENT ROW``
replicates it bit-for-bit.  Rows with equal (key, ts) are frame peers
in both engines.

Scale notes: one shuffle on the partition keys, then a single ordered
pass per partition — Spark's bounded-preceding range frame keeps a
sliding buffer of at most the rows inside the range, O(rows_in_range)
memory per partition, no self-join (the naive equivalent is a range
self-join that explodes quadratically on dense series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.timeutil import epoch_us


def rolling_stats(df: DataFrame, keys: list[str],
                  range_seconds: int) -> DataFrame:
    """Append trailing-range aggregates to every input row.

    Output = input columns + (roll_cnt, roll_min, roll_max, roll_sum,
    roll_avg) over the frame [ts - range_seconds, ts] (both ends
    inclusive, matching SQL RANGE ... PRECEDING AND CURRENT ROW).
    Sum/avg are rounded to 6dp — frame summation order differs between
    engines in the last ulps."""
    range_us = int(range_seconds) * 1_000_000
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col("ts")))
        .rangeBetween(-range_us, 0)
    )
    v = F.col("value")
    return df.select(
        "*",
        F.count(v).over(w).alias("roll_cnt"),
        F.min(v).over(w).alias("roll_min"),
        F.max(v).over(w).alias("roll_max"),
        F.round(F.sum(v).over(w), 6).alias("roll_sum"),
        F.round(F.avg(v).over(w), 6).alias("roll_avg"),
    )


def rolling_corr(df: DataFrame, keys: list[str], range_seconds: int,
                 ts_col: str = "ts", min_n: int = 5) -> DataFrame:
    """Trailing-range Pearson correlation between two INTEGER-valued
    columns — the reference's correlation moved into a sliding
    event-time frame ("is volume tracking rate over the last hour?").

    `F.corr` exists as a window function, but its running float sums
    accumulate in engine-specific order, so a cross-engine oracle can
    only match to a tolerance.  Instead the five moment sums (Σx, Σy,
    Σx², Σy², Σxy) run over the range frame in exact BIGINT (inputs
    are cast to long — snap values to cents first), and

        ρ = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²) · √(nΣy²−(Σy)²))

    is assembled from those exact integers: IEEE sqrt and divide are
    exactly rounded, so Spark and DuckDB produce bit-identical doubles
    (same trick as `analytics._anomaly_moments`).  Rows with a frame
    of fewer than `min_n` points or zero variance yield NULL.

    Scale notes: identical shape to `rolling_stats` — one shuffle on
    the keys, one ordered pass, O(rows_in_range) memory; no pair
    shuffle because both series arrive pre-aligned on the same row.

    Overflow: nΣxy and nΣx² must stay < 2^63 — with frame length f and
    |x|,|y| ≤ B that is f²·B² < 2^63, e.g. f=60 one-minute buckets
    allows B ≈ 5·10⁷ (values to 500k in cents).  ANSI mode turns an
    overflow into a loud error, not a wrong answer."""
    range_us = int(range_seconds) * 1_000_000
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch_us(F.col(ts_col)))
        .rangeBetween(-range_us, 0)
    )
    x = F.col("x").cast("long")
    y = F.col("y").cast("long")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxx = F.sum(x * x).over(w)
    syy = F.sum(y * y).over(w)
    sxy = F.sum(x * y).over(w)
    num = (n * sxy - sx * sy).cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    rho = F.when(
        (n >= min_n) & (dx > 0) & (dy > 0),
        F.round(
            num / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))), 6
        ),
    )
    return df.select("*", n.alias("roll_n"), rho.alias("roll_corr"))


def rolling_slope(hourly: DataFrame, keys: list[str],
                  window_hours: int = 24) -> DataFrame:
    """Trailing OLS slope over the last `window_hours` hourly points —
    the continuous trend monitor ("is this metric accelerating RIGHT
    NOW"), where trend_daily answers the same per calendar day.

    Input is an hourly aggregate (key, hour_ts, y) with y an exact
    integer (cent sums); output appends (slope_n, slope) where

        slope = (n·Σty − Σt·Σy) / (n·Σtt − Σt²)    [y-units/hour]

    over the frame [t − (W−1), t] in integer hour indexes
    (t = epoch hours).  All five moments are int64 window sums on ONE
    rangeBetween frame/sort (hour indexes ≈ 5·10⁵, y cents ≈ 10⁶ →
    n·Σty ≈ 10¹⁴, three orders under int64), the divide is the one
    terminal double op (6 dp), den = 0 (single distinct hour) → NULL.

    Scale notes: identical shape to rolling_stats — one shuffle on the
    key, one ordered pass, O(W) frame memory; never a range self-join.
    """
    w_us = 3_600_000_000
    t = (epoch_us(F.col("hour_ts")) / w_us).cast("long")
    src = hourly.select(
        *keys, F.col("hour_ts"),
        t.alias("_t"),
        F.col("y").cast("long").alias("_y"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_t")
        .rangeBetween(-(int(window_hours) - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    st = F.sum("_t").over(w)
    sy = F.sum("_y").over(w)
    stt = F.sum(F.col("_t") * F.col("_t")).over(w)
    sty = F.sum(F.col("_t") * F.col("_y")).over(w)
    num = (n * sty - st * sy).cast("double")
    den = (n * stt - st * st).cast("double")
    return src.select(
        *keys, "hour_ts",
        F.col("_y").alias("y"),
        n.cast("long").alias("slope_n"),
        F.round(
            F.when(den > 0, num / den / 100.0), 6
        ).alias("slope"),
    )
