"""Statistical process control charts over the metric-day grid:
p-chart (defect PROPORTION, binomial limits) and c-chart (event
COUNT, Poisson limits) — the Shewhart complements of the model-based
detectors already gated (cusum_alerts: drift; anomaly_1h: rolling-z;
page_hinkley: online mean shift).  Control charts answer the simpler
audit question "is today inside the historical common-cause band",
with limits every SRE can recompute by hand.

Exactness: defect/event counts are exact integers; the centerline is
an exact rational (total_defects/total_n); control limits involve one
sqrt so they are doubles — but BOTH engines derive them from the SAME
exact integers through the SAME expression tree, so the out-of-
control FLAG (a double comparison of identically-computed doubles)
matches bit-for-bit cross-engine, same policy as anomaly_1h's z.

Scale: one hash agg raw → (metric, day), one tiny agg → per-metric
centerline, broadcast back.  Nothing after the first agg sees raw
rows; output is grid-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    co_moment,
    moments,
    snap,
    wide,
)


def p_chart(series: DataFrame, key: str = "metric",
            defect_cents: int = 10_000) -> DataFrame:
    """(metric, day_ts, n, defects, p_day, p_bar, ucl, lcl, ooc):
    per-metric-day defect-proportion chart; a "defect" is an
    observation whose cent-snapped value exceeds `defect_cents`
    (value-as-latency: a slow request).

        p̄   = Σ defects / Σ n          (per metric, exact rational)
        UCL = p̄ + 3·√(p̄(1−p̄)/n_day)   (varying limits — n differs
        LCL = max(0, p̄ − 3·√(...))       by day, the textbook form)

    ooc ∈ {-1, 0, 1}: below LCL / in control / above UCL."""
    day = series.groupBy(
        F.col(key).alias("metric"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (snap("value", VALUE_DECIMALS)
             > F.lit(int(defect_cents))).cast("long")
        ).alias("defects"),
    )
    center = day.groupBy("metric").agg(
        F.sum("n").alias("tot_n"), F.sum("defects").alias("tot_d")
    )
    j = day.join(F.broadcast(center), "metric")
    p_bar = F.col("tot_d").cast("double") / F.col("tot_n").cast("double")
    nn = F.col("n").cast("double")
    sig = F.sqrt(p_bar * (F.lit(1.0) - p_bar) / nn)
    ucl = p_bar + F.lit(3.0) * sig
    lcl = F.greatest(F.lit(0.0), p_bar - F.lit(3.0) * sig)
    p_day = F.col("defects").cast("double") / nn
    return j.select(
        "metric", "day_ts",
        F.col("n").cast("long").alias("n"),
        F.col("defects").cast("long").alias("defects"),
        F.round(p_day, 6).alias("p_day"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        F.when(p_day > ucl, F.lit(1))
        .when(p_day < lcl, F.lit(-1))
        .otherwise(F.lit(0)).cast("int").alias("ooc"),
    )


def c_chart(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, c, c_bar, ucl, lcl, ooc): per-metric-day event
    COUNT chart with Poisson limits c̄ ± 3√c̄ over the metric's own
    observed-day span — missing grid days count as c = 0 (a silent
    day is the strongest out-of-control signal a counter can emit).

    The day grid comes from each metric's [first, last] day span
    (sequence + explode), so c̄ divides by calendar days, not by
    days-with-data."""
    day = series.groupBy(
        F.col(key).alias("metric"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).agg(F.count(F.lit(1)).alias("c"))
    span = day.groupBy("metric").agg(
        F.min("day_ts").alias("d0"), F.max("day_ts").alias("d1"),
        F.sum("c").alias("tot_c"),
    )
    grid = span.select(
        "metric", "tot_c",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day_ts"),
    )
    full = grid.join(day, ["metric", "day_ts"], "left").select(
        "metric", "day_ts", "tot_c",
        F.coalesce("c", F.lit(0)).cast("long").alias("c"),
    )
    n_days = full.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    j = full.join(F.broadcast(n_days), "metric")
    c_bar = F.col("tot_c").cast("double") / F.col("n_days").cast("double")
    sig = F.sqrt(c_bar)
    ucl = c_bar + F.lit(3.0) * sig
    lcl = F.greatest(F.lit(0.0), c_bar - F.lit(3.0) * sig)
    cc = F.col("c").cast("double")
    return j.select(
        "metric", "day_ts", "c",
        F.round(c_bar, 6).alias("c_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        F.when(cc > ucl, F.lit(1))
        .when(cc < lcl, F.lit(-1))
        .otherwise(F.lit(0)).cast("int").alias("ooc"),
    )


def we_rules(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, c, side, rule1, rule2, rule4, any_signal):
    Western Electric run rules over the c-chart — the pattern layer
    Shewhart limits miss (a process can drift for a week without one
    3σ point):

        rule1: the point itself beyond 3σ            (the c-chart ooc)
        rule2: ≥2 of the last 3 points beyond 2σ on the SAME side
        rule4: 8 consecutive points on the same side of centerline

    side ∈ {−1, 0, 1} vs the exact-rational centerline (a point ON
    the line breaks runs, side 0).  All rolling counts are integer
    sums over ROWS frames inside metric partitions on the calendar-
    bounded day grid; every flag is a double comparison of
    identically-computed values (the anomaly_1h policy).

    Scale: c_chart's grid + two bounded windows; grid-sized output."""
    base = c_chart(series, key)
    cc = F.col("c").cast("double")
    cb = F.col("c_bar")
    sig = (F.col("ucl") - cb) / F.lit(3.0)
    side = (
        F.when(cc > cb, F.lit(1))
        .when(cc < cb, F.lit(-1))
        .otherwise(F.lit(0))
    )
    b2p = ((cc - cb) > F.lit(2.0) * sig).cast("long")
    b2n = ((cb - cc) > F.lit(2.0) * sig).cast("long")
    t = base.select(
        "metric", "day_ts", "c", "c_bar", "ucl", "lcl", "ooc",
        side.alias("side"), b2p.alias("b2p"), b2n.alias("b2n"),
        (side == 1).cast("long").alias("sp"),
        (side == -1).cast("long").alias("sn"),
    )
    w3 = (
        Window.partitionBy("metric").orderBy("day_ts")
        .rowsBetween(-2, Window.currentRow)
    )
    w8 = (
        Window.partitionBy("metric").orderBy("day_ts")
        .rowsBetween(-7, Window.currentRow)
    )
    out = t.select(
        "metric", "day_ts", "c", "side",
        (F.col("ooc") != 0).cast("int").alias("rule1"),
        (
            (F.sum("b2p").over(w3) >= 2) | (F.sum("b2n").over(w3) >= 2)
        ).cast("int").alias("rule2"),
        (
            (F.sum("sp").over(w8) >= 8) | (F.sum("sn").over(w8) >= 8)
        ).cast("int").alias("rule4"),
    )
    return out.select(
        "metric", "day_ts",
        F.col("c").cast("long").alias("c"),
        F.col("side").cast("int").alias("side"),
        "rule1", "rule2", "rule4",
        (
            (F.col("rule1") + F.col("rule2") + F.col("rule4")) > 0
        ).cast("int").alias("any_signal"),
    )


def ewma_chart(series: DataFrame, key: str = "metric",
               lam_num: int = 1, lam_den: int = 4,
               k_window: int = 24) -> DataFrame:
    """(metric, hour_ts, x, z, center, ucl, lcl, ooc): EWMA control
    chart over the hourly cent series — the small-persistent-shift
    detector between Shewhart (big jumps) and CUSUM (cumulative
    drift): z_t = λ·x_t + (1−λ)·z_{t−1}, flag when z leaves
    μ ± 3σ·√(λ/(2−λ)) (steady-state limits).

    TRUNCATED-KERNEL exactness recipe: the infinite recursion needs
    pow(1−λ, t) — a libm call whose cross-engine agreement this repo
    never assumes — so z is computed as the K-term kernel

        z_t = Σ_{j=0..K−1} w_j·x_{t−j} / W,   w_j = a^j·(d−a)^{…}

    with λ = a/d dyadic (default 1/4) and K = 24: every w_j =
    lam_num^0·…  is an exact INTEGER precomputed in Python and
    embedded as a literal, the numerator is an exact decimal(38,0)
    sum of 24 lag terms (one window pass), and W = Σw_j is an integer
    literal — so z is one double divide of exact integers in both
    engines.  The truncation residue is (1−λ)^K ≈ 0.1% of the kernel
    mass at the defaults (documented, not hidden); the first K−1
    points per metric drop (burn-in).  Steady-state limit variance
    factor Σw²/W² is likewise an exact-rational literal.  μ, σ are
    the usual exact central moments; every output is a shared double
    tree → 6-dp rounds and the ooc flag agree bit-for-bit.

    Scale: grid hash-agg → one 24-lag window pass per metric → one
    broadcast join of per-metric moments.  Grid-sized everything."""
    a, d = int(lam_num), int(lam_den)
    K = int(k_window)
    # w_j = a·(d−a)^j·d^(K−1−j) for j≥... weights of x_{t−j}; the
    # common denominator d^K cancels in num/W.  Exact integers:
    w = [a * (d - a) ** j * d ** (K - 1 - j) for j in range(K)]
    W = sum(w)
    varfac = sum(x * x for x in w) / (W * W)  # exact-rational literal

    h = bucket_cents(series, [F.col(key).alias("metric")], "hour")
    win = Window.partitionBy("metric").orderBy("hour_ts")
    num = None
    for j in range(K):
        term = wide(F.lag("y", j).over(win)) * wide(F.lit(w[j]))
        num = term if num is None else num + term
    t = h.select(
        "metric", "hour_ts", "y",
        num.alias("num"),
        F.row_number().over(win).alias("rn"),
    ).where(F.col("rn") >= K)
    mom = h.groupBy("metric").agg(
        *moments("y", names="n s ss"),
    )
    j2 = t.join(F.broadcast(mom), "metric")
    nn = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nn
    # population variance from exact integers
    var = co_moment("n", "s", "s", "ss").cast("double") / (nn * nn)
    sig = F.sqrt(var)
    z = F.col("num").cast("double") / F.lit(float(W))
    half = F.lit(3.0) * sig * F.sqrt(F.lit(float(varfac)))
    ucl = mu + half
    lcl = mu - half
    ooc = (
        F.when(z > ucl, F.lit(1))
        .when(z < lcl, F.lit(-1))
        .otherwise(F.lit(0))
    )
    fs = F.lit(float(SCALE))
    return j2.select(
        "metric", "hour_ts",
        F.round(F.col("y").cast("double") / fs, 6).alias("x"),
        F.round(z / fs, 6).alias("z"),
        F.round(mu / fs, 6).alias("center"),
        F.round(ucl / fs, 6).alias("ucl"),
        F.round(lcl / fs, 6).alias("lcl"),
        ooc.cast("int").alias("ooc"),
    )


def xmr_chart(series: DataFrame, key: str = "metric") -> DataFrame:
    """(metric, day_ts, x, mr, ucl_x, lcl_x, ucl_mr, ooc_x, ooc_mr):
    individuals + moving-range (I-MR) Shewhart chart over the daily
    cent series — the control chart for UNGROUPED measurements (one
    observation per period, where p/c charts need counts and xbar
    charts need subgroups):

        MR_t   = |x_t − x_{t−1}|
        σ̂      = MR̄ / d₂,  d₂ = 1.128 (n=2 constant)
        UCL/LCL = x̄ ± 2.66·MR̄,   UCL_MR = 3.267·MR̄

    (2.66 = 3/d₂ and 3.267 = D₄ — the textbook I-MR constants,
    embedded as exact literals).  x̄ and MR̄ are exact-integer means
    (cents; |Δ| is integer); every limit and flag is one shared
    double tree — the p_chart policy.  The first day per metric has
    no MR (NULL, not flagged).

    Scale: day-grid hash-agg → one lag window → one broadcast join
    of per-metric centerlines."""
    d = bucket_cents(series, [F.col(key).alias("metric")], "day")
    w = Window.partitionBy("metric").orderBy("day_ts")
    t = d.withColumn(
        "mr", F.abs(F.col("y") - F.lag("y", 1).over(w))
    )
    c = t.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.count("mr").alias("nmr"),
        F.sum("mr").alias("smr"),
    )
    j = t.join(F.broadcast(c), "metric")
    xbar = F.col("sy").cast("double") / F.col("n").cast("double")
    mrbar = F.col("smr").cast("double") / F.col("nmr").cast("double")
    ucl_x = xbar + F.lit(2.66) * mrbar
    lcl_x = xbar - F.lit(2.66) * mrbar
    ucl_mr = F.lit(3.267) * mrbar
    yd = F.col("y").cast("double")
    fs = F.lit(float(SCALE))
    return j.select(
        "metric", "day_ts",
        F.round(yd / fs, 6).alias("x"),
        F.round(F.col("mr").cast("double") / fs, 6).alias("mr"),
        F.round(ucl_x / fs, 6).alias("ucl_x"),
        F.round(lcl_x / fs, 6).alias("lcl_x"),
        F.round(ucl_mr / fs, 6).alias("ucl_mr"),
        F.when(yd > ucl_x, F.lit(1))
        .when(yd < lcl_x, F.lit(-1))
        .otherwise(F.lit(0)).cast("int").alias("ooc_x"),
        F.when(
            F.col("mr").isNotNull(),
            (F.col("mr").cast("double") > ucl_mr).cast("int"),
        ).alias("ooc_mr"),
    )


def process_capability(series: DataFrame, lsl: float, usl: float,
                       key: str = "metric") -> DataFrame:
    """(metric, n, mean, sigma, cp, cpk, pct_out): Cp/Cpk process
    capability of each metric's daily cent series against fixed spec
    limits — the SPC summary purchasing/SRE reviews quote ("is the
    process capable of the SLO band", Cpk ≥ 1.33 = capable):

        Cp  = (USL − LSL)/(6σ),   Cpk = min(USL − μ, μ − LSL)/(3σ)

    σ is the SAMPLE SD of exact-integer daily sums (n−1); spec limits
    are exact literals in value units; pct_out counts days outside
    [LSL, USL] by integer comparison against the cent-scaled limits
    (no float compare on data).  One hash-agg + one broadcast join.
    """
    lsl_c = int(round(lsl * SCALE))
    usl_c = int(round(usl * SCALE))
    d = bucket_cents(series, [F.col(key).alias("metric")], "day")
    g = d.groupBy("metric").agg(
        *moments("y", names="n s ss"),
        F.sum(
            ((F.col("y") < lsl_c) | (F.col("y") > usl_c)).cast("long")
        ).alias("n_out"),
    )
    nn = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nn
    sd = F.sqrt(
        co_moment("n", "s", "s", "ss")
        .cast("double") / (nn * (nn - F.lit(1.0)))
    )
    fs = F.lit(float(SCALE))
    usl_d = F.lit(float(usl_c))
    lsl_d = F.lit(float(lsl_c))
    cp = F.when(sd > 0, (usl_d - lsl_d) / (F.lit(6.0) * sd))
    cpk = F.when(
        sd > 0,
        F.least(usl_d - mu, mu - lsl_d) / (F.lit(3.0) * sd),
    )
    return g.where(F.col("n") >= 2).select(
        "metric",
        F.col("n").cast("long").alias("n"),
        F.round(mu / fs, 6).alias("mean"),
        F.round(sd / fs, 6).alias("sigma"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        F.round(
            F.col("n_out").cast("double") / nn, 6
        ).alias("pct_out"),
    )


def g_chart(events: DataFrame, adverse_type: str = "error") -> DataFrame:
    """(n_gaps, g_bar, ucl, n_above, max_gap, pct_above): G-chart
    (geometric chart) summary over events-between-adverse-events — the
    SPC form for RARE events where p/c charts starve ("how many
    ordinary events pass between errors, and did any gap pattern
    leave the geometric band"):

        x_i  = events strictly between consecutive adverse events of
               one actor's stream
        ḡ    = mean gap,   UCL = ḡ + 3·√(ḡ·(ḡ + 1))   (Benneyan's
               geometric limits; LCL floors at 0 and is omitted)

    Gaps are computed inside per-actor streams (partitioned windows —
    never a global sort) and POOLED: position = row_number over the
    actor's (ts, order) sequence, gap = Δposition − 1 at each adverse
    event after the actor's first.  Exact integers throughout; ḡ is
    one exact-rational divide; the UCL and the above-limit flags are
    the shared double tree.

    Scale: one partitioned window over actor streams → filter to
    adverse rows → one pooled aggregate."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), "event_id"
    )
    pos = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.row_number().over(w).alias("pos"),
    )
    err = pos.where(F.col("t") == adverse_type)
    we = Window.partitionBy("u").orderBy("pos")
    gaps = err.select(
        (F.col("pos") - F.lag("pos", 1).over(we) - F.lit(1))
        .alias("g")
    ).where(F.col("g").isNotNull())
    m = gaps.agg(
        wide(F.count(F.lit(1))).alias("n"),
        F.sum(wide("g")).alias("s"),
        F.max("g").alias("mx"),
    )
    nn = F.col("n").cast("double")
    gbar = F.col("s").cast("double") / nn
    ucl = gbar + F.lit(3.0) * F.sqrt(gbar * (gbar + F.lit(1.0)))
    lims = m.select(
        F.col("n"), F.col("mx"), gbar.alias("gbar"), ucl.alias("ucl")
    )
    j = gaps.crossJoin(F.broadcast(lims))
    out = j.agg(
        F.max(F.col("n")).alias("n"),
        F.max(F.col("gbar")).alias("gbar"),
        F.max(F.col("ucl")).alias("ucl"),
        F.max(F.col("mx")).alias("mx"),
        F.sum(
            (F.col("g").cast("double") > F.col("ucl")).cast("long")
        ).alias("n_above"),
    )
    return out.select(
        F.col("n").cast("long").alias("n_gaps"),
        F.round(F.col("gbar"), 6).alias("g_bar"),
        F.round(F.col("ucl"), 6).alias("ucl"),
        F.col("n_above").cast("long").alias("n_above"),
        F.col("mx").cast("long").alias("max_gap"),
        F.round(
            F.col("n_above").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("pct_above"),
    )


def u_chart(series: DataFrame, key: str = "metric",
            defect_cents: int = 10_000) -> DataFrame:
    """(metric, day_ts, n, defects, u_day, u_bar, ucl, lcl, ooc):
    defects-per-UNIT chart with varying limits — the fourth classic
    attribute chart (p = proportion, c = fixed-opportunity count,
    G = rare-event gaps, u = count per exposure when daily volume
    varies):

        ū    = Σ defects / Σ n          (per metric, exact rational)
        UCL  = ū + 3·√(ū/n_day)          LCL = max(0, ū − 3·√(ū/n_day))

    A "defect" is an observation whose cent value exceeds
    `defect_cents` (the p_chart convention — so p vs u on the same
    stream shows proportion- vs rate-framing of the same signal).
    Exact integer counts; limits and the ooc flag are one shared
    double tree.  One hash-agg + one broadcast join."""
    day = series.groupBy(
        F.col(key).alias("metric"),
        F.date_trunc("day", "ts").alias("day_ts"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (snap("value", VALUE_DECIMALS)
             > F.lit(int(defect_cents))).cast("long")
        ).alias("defects"),
    )
    center = day.groupBy("metric").agg(
        F.sum("n").alias("tot_n"), F.sum("defects").alias("tot_d")
    )
    j = day.join(F.broadcast(center), "metric")
    u_bar = F.col("tot_d").cast("double") / F.col("tot_n").cast("double")
    nn = F.col("n").cast("double")
    sig = F.sqrt(u_bar / nn)
    ucl = u_bar + F.lit(3.0) * sig
    lcl = F.greatest(F.lit(0.0), u_bar - F.lit(3.0) * sig)
    u_day = F.col("defects").cast("double") / nn
    ooc = (
        F.when(u_day > ucl, F.lit(1))
        .when(u_day < lcl, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return j.select(
        "metric", "day_ts",
        F.col("n").cast("long").alias("n"),
        F.col("defects").cast("long").alias("defects"),
        F.round(u_day, 6).alias("u_day"),
        F.round(u_bar, 6).alias("u_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ooc.cast("int").alias("ooc"),
    )
