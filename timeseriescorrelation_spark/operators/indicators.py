"""Technical-indicator family over the daily / hourly aggregate
grids: Cutler RSI, Bollinger bands, stochastic oscillator, and
Garman–Klass / Parkinson range volatility.

Monitoring teams read ops telemetry exactly the way traders read
price bars — "is today's volume stretched vs its recent band?", "how
violent was the intraday range?" — so the classic indicators are
first-class rollup outputs here, computed over per-metric daily cent
totals (RSI / Bollinger / stochastic) and per-day OHLC of the hourly
sequence (volatility).

All four follow the aggregate-first discipline: ONE map-side-combined
hash aggregation collapses the corpus to |metrics|·|days| (or ·|hours|)
rows, then every indicator runs in bounded ROWS-frame windows over
that grid — nothing downstream scales with raw turn count.

Exactness recipe (house-wide): rolling gains/losses, band moments,
and min/max are exact integers; breach flags are decided by INTEGER
cross-multiplication (never by comparing against a double band);
the stochastic %D averages three rationals with an exact
cross-multiplied numerator/denominator; the volatility lns are
micro-snapped to integer units before the quadratic (libm-ulp
discipline, see operators/acf.py).  Each emitted double is one
identical expression tree over those integers, 6 dp.

Sequence convention: windows run over the sequence of OBSERVED days
ordered by day_ts (a calendar gap splices neighbours) — the
reference's missing-is-missing view; a dense-grid variant is one
gapfill away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    bucket_cents,
    snap,
    wide,
)

# 2·ln 2 − 1 and 4·ln 2, pinned as literals so both engines use the
# identical double (not their own libm ln(2)).
_GK_CONST = 0.3862943611198906
_PK_CONST = 2.772588722239781


def rsi_cutler(series: DataFrame, key: str = "metric",
               window: int = 14) -> DataFrame:
    """(metric, day_ts, n_win, sum_gain, sum_loss, rsi): Cutler's RSI
    over each metric's daily cent totals — the SMA form (rolling sums
    of gains and losses over `window` days), not Wilder's recursive
    EWMA, precisely because the SMA form is exact-integer and
    window-local:

        RSI = 100 · ΣG / (ΣG + ΣL)      (NULL when both sums are 0)

    algebraically identical to 100 − 100/(1+RS) but with a single
    division that cannot divide by zero when only ΣL is 0.  Gains and
    losses are exact integer cent deltas; rows emit once the trailing
    frame holds `window` deltas.

    Scale: daily grid → one bounded ROWS window per metric → in-row
    math.  Wilder's recursive form is one ewma() composition away
    (operators/analytics.ewma) for callers who want it.
    """
    d = bucket_cents(series, [key], "day")
    w = Window.partitionBy(key).orderBy("day_ts")
    delta = F.col("y") - F.lag("y", 1).over(w)
    t = d.select(F.col(key), "day_ts", delta.alias("dy")) \
        .where(F.col("dy").isNotNull())
    wf = Window.partitionBy(key).orderBy("day_ts") \
        .rowsBetween(-(window - 1), 0)
    g = t.select(
        F.col(key), "day_ts",
        F.count(F.lit(1)).over(wf).alias("n_win"),
        F.sum(F.when(F.col("dy") > 0, F.col("dy")).otherwise(0))
        .over(wf).alias("sum_gain"),
        F.sum(F.when(F.col("dy") < 0, -F.col("dy")).otherwise(0))
        .over(wf).alias("sum_loss"),
    ).where(F.col("n_win") >= window)
    tot = F.col("sum_gain") + F.col("sum_loss")
    return g.select(
        key, "day_ts", F.col("n_win").cast("long").alias("n_win"),
        F.col("sum_gain").cast("long").alias("sum_gain"),
        F.col("sum_loss").cast("long").alias("sum_loss"),
        F.when(
            tot > 0,
            F.round(
                F.lit(100.0) * F.col("sum_gain").cast("double")
                / tot.cast("double"), 6
            ),
        ).alias("rsi"),
    )


def bollinger_daily(series: DataFrame, key: str = "metric",
                    window: int = 7, k: int = 2) -> DataFrame:
    """(metric, day_ts, n_win, mid, upper, lower, above, below):
    Bollinger bands over daily cent totals — trailing `window`-day
    mean ± k·σ (population σ over the frame), with the breach flags
    decided by exact INTEGER cross-multiplication, never by comparing
    y against the rounded double band:

        above ⇔ n·y − Σ > 0  ∧  (n·y − Σ)² > k²·(n·Σy² − Σ²)

    (and symmetrically for below), which is y > mean + k·σ with both
    sides scaled by n² — flags are therefore bit-deterministic in
    both engines even when y sits exactly on the band.  mid/upper/
    lower are reported in natural value units, 6 dp, for humans.

    Scale: daily grid → one bounded ROWS window per metric.
    """
    d = bucket_cents(series, [key], "day")
    wf = Window.partitionBy(key).orderBy("day_ts") \
        .rowsBetween(-(window - 1), 0)
    g = d.select(
        F.col(key), "day_ts", F.col("y"),
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum(wide("y")).over(wf).alias("s"),
        F.sum(wide("y") * wide("y")).over(wf).alias("q"),
    ).where(F.col("n") >= window)
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sig = F.sqrt(
        (nd * F.col("q").cast("double")
         - F.col("s").cast("double") * F.col("s").cast("double"))
        / (nd * nd)
    )
    # integer breach decision: dev = n·y − Σ, spread = n·Σy² − Σ²
    dev = wide("n") * wide("y") - F.col("s")
    spread = wide("n") * wide("q") - F.col("s") * F.col("s")
    kk = F.lit(int(k) * int(k))
    return g.select(
        key, "day_ts", F.col("n").cast("long").alias("n_win"),
        F.round(mean / F.lit(float(SCALE)), 6).alias("mid"),
        F.round((mean + F.lit(float(k)) * sig) / F.lit(float(SCALE)), 6)
        .alias("upper"),
        F.round((mean - F.lit(float(k)) * sig) / F.lit(float(SCALE)), 6)
        .alias("lower"),
        F.when((dev > 0) & (dev * dev > kk * spread), 1)
        .otherwise(0).cast("long").alias("above"),
        F.when((dev < 0) & (dev * dev > kk * spread), 1)
        .otherwise(0).cast("long").alias("below"),
    )


def stochastic_k(series: DataFrame, key: str = "metric",
                 window: int = 14) -> DataFrame:
    """(metric, day_ts, n_win, pct_k, pct_d): stochastic oscillator
    over daily cent totals — %K locates today inside the trailing
    `window`-day range, %D is the 3-day average of %K:

        %K = 100·(y − L)/(H − L)          (NULL when H = L)
        %D = 100·(n₁d₂d₃ + n₂d₁d₃ + n₃d₁d₂) / (3·d₁d₂d₃)

    %D is NOT an average of three rounded doubles: the three %K
    rationals nᵢ/dᵢ (integer numerators y−L and denominators H−L)
    are cross-multiplied into ONE exact integer numerator/denominator
    pair in decimal(38,0)/hugeint, so %D is a single double division
    in both engines — no addition-order or intermediate-rounding
    drift.  NULL when any of the three frames is degenerate or the
    history is shorter than window+2.

    Overflow: dᵢ ≤ range in cents; d₁d₂d₃ ≲ 10³⁸ holds until ranges
    of ~10¹² cents — ANSI errors loudly beyond.

    Scale: daily grid → two bounded ROWS windows per metric.
    """
    d = bucket_cents(series, [key], "day")
    wf = Window.partitionBy(key).orderBy("day_ts") \
        .rowsBetween(-(window - 1), 0)
    t = d.select(
        F.col(key), "day_ts",
        F.count(F.lit(1)).over(wf).alias("n_win"),
        wide(F.col("y") - F.min("y").over(wf)).alias("num"),
        wide(F.max("y").over(wf) - F.min("y").over(wf)).alias("den"),
    )
    w1 = Window.partitionBy(key).orderBy("day_ts")
    t2 = t.select(
        F.col(key), "day_ts", "n_win", "num", "den",
        F.lag("num", 1).over(w1).alias("n2"),
        F.lag("den", 1).over(w1).alias("d2"),
        F.lag("num", 2).over(w1).alias("n3"),
        F.lag("den", 2).over(w1).alias("d3"),
        F.lag("n_win", 2).over(w1).alias("nw3"),
    ).where(F.col("n_win") >= window)
    k_ok = F.col("den") > 0
    d_ok = (
        k_ok & (F.col("d2") > 0) & (F.col("d3") > 0)
        & (F.col("nw3") >= window)
    )
    dnum = (
        F.col("num") * F.col("d2") * F.col("d3")
        + F.col("n2") * F.col("den") * F.col("d3")
        + F.col("n3") * F.col("den") * F.col("d2")
    )
    dden = wide(F.lit(3)) * F.col("den") * F.col("d2") * F.col("d3")
    return t2.select(
        key, "day_ts", F.col("n_win").cast("long").alias("n_win"),
        F.when(
            k_ok,
            F.round(
                F.lit(100.0) * F.col("num").cast("double")
                / F.col("den").cast("double"),
                6,
            ),
        ).alias("pct_k"),
        F.when(
            d_ok,
            F.round(
                F.lit(100.0) * dnum.cast("double") / dden.cast("double"), 6
            ),
        ).alias("pct_d"),
    )


def range_volatility(series: DataFrame, key: str = "metric",
                     min_hours: int = 8) -> DataFrame:
    """(metric, day_ts, n_hours, o, h, l, c, gk_var, pk_var): daily
    range volatility from the OHLC of each metric's hourly cent-sum
    bars — Garman–Klass and Parkinson estimators of intraday
    "how violent was today", in squared-log units:

        GK = ½·ln(H/L)² − (2ln2−1)·ln(C/O)²
        PK = ln(H/L)² / (4ln2)

    Libm discipline: ln(H/L) and ln(C/O) are each ONE libm call on a
    double ratio of exact integers, micro-snapped to integer 1e-8
    units (round(ln·1e8) as long) BEFORE the quadratic — java.libm
    vs glibc last-ulp differences vanish under the half-unit snap,
    and the quadratic then runs over exact integers scaled by pinned
    double literals (0.3862943611198906, 2.772588722239781 — never
    each engine's own 2·ln2−1).  Rows require L > 0 (cent sums are
    positive for nonnegative-valued metrics) and ≥ min_hours bars.

    Scale: ONE hash-agg to |metrics|·|days| rows (min/max/arg_min/
    arg_max), in-row math after.
    """
    h = bucket_cents(series, [key], "hour")
    g = h.groupBy(
        F.col(key), F.date_trunc("day", "hour_ts").alias("day_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.expr("min_by(y, hour_ts)").alias("o"),
        F.max("y").alias("h"),
        F.min("y").alias("l"),
        F.expr("max_by(y, hour_ts)").alias("c"),
    ).where((F.col("n_hours") >= min_hours) & (F.col("l") > 0))
    lhl = snap(F.log(F.col("h").cast("double") / F.col("l").cast("double")), 8)
    lco = snap(F.log(F.col("c").cast("double") / F.col("o").cast("double")), 8)
    t = g.select(
        F.col(key), "day_ts", "n_hours", "o", "h", "l", "c",
        lhl.alias("lhl"), lco.alias("lco"),
    )
    hl2 = (F.col("lhl") * F.col("lhl")).cast("double") / F.lit(1e16)
    co2 = (F.col("lco") * F.col("lco")).cast("double") / F.lit(1e16)
    return t.select(
        key, "day_ts", F.col("n_hours").cast("long").alias("n_hours"),
        F.round(F.col("o").cast("double") / F.lit(float(SCALE)), 6).alias("o"),
        F.round(F.col("h").cast("double") / F.lit(float(SCALE)), 6).alias("h"),
        F.round(F.col("l").cast("double") / F.lit(float(SCALE)), 6).alias("l"),
        F.round(F.col("c").cast("double") / F.lit(float(SCALE)), 6).alias("c"),
        F.round(
            F.lit(0.5) * hl2 - F.lit(_GK_CONST) * co2, 6
        ).alias("gk_var"),
        F.round(hl2 / F.lit(_PK_CONST), 6).alias("pk_var"),
    )


def ohlc_daily(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, open, high, low, close, body, day_range, gap,
    n_hours): daily OHLC candles of the HOURLY cent-sum series — the
    exchange-bar readout under bollinger/rsi/stochastic (those consume
    closes; this materializes the bars themselves, plus the gap vs the
    prior day's close that gap-up/gap-down monitors alert on).

    Candles aggregate the hourly series, not raw points: hour_ts is
    UNIQUE within a (metric, day) group, so min_by/max_by on it are
    deterministic in both engines (raw points can tie on ts across
    conversations — arg_min over ties is engine-nondeterministic and
    would flake the gate).  All inputs are exact integer cents;
    open/close pick by a single atomic ordering column
    (hash-aggregable — the packed_order_key policy); gap is NULL on
    each metric's first day.

    Scale: hour-grid hash-agg → day hash-agg → one lag window over
    per-metric DAY rows."""
    h = bucket_cents(series, [F.col(key).alias("metric")], "hour")
    g = h.groupBy(
        "metric", F.date_trunc("day", "hour_ts").alias("day_ts")
    ).agg(
        F.min_by("y", "hour_ts").alias("o"),
        F.max("y").alias("hi"),
        F.min("y").alias("lo"),
        F.max_by("y", "hour_ts").alias("c"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    w = Window.partitionBy("metric").orderBy("day_ts")
    g = g.withColumn("pc", F.lag("c", 1).over(w))
    fs = F.lit(float(SCALE))
    return g.select(
        "metric", "day_ts",
        F.round(F.col("o").cast("double") / fs, 6).alias("open"),
        F.round(F.col("hi").cast("double") / fs, 6).alias("high"),
        F.round(F.col("lo").cast("double") / fs, 6).alias("low"),
        F.round(F.col("c").cast("double") / fs, 6).alias("close"),
        F.round(
            (F.col("c") - F.col("o")).cast("double") / fs, 6
        ).alias("body"),
        F.round(
            (F.col("hi") - F.col("lo")).cast("double") / fs, 6
        ).alias("day_range"),
        F.round(
            (F.col("o") - F.col("pc")).cast("double") / fs, 6
        ).alias("gap"),
        F.col("n_hours").cast("long").alias("n_hours"),
    )
