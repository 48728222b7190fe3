"""Privacy / governance operators: k-anonymity risk reporting over
quasi-identifier combinations.

A transcript corpus shipped to training must answer "how many rows are
re-identifiable through coarse attributes?" before release.  The
k-anonymity report is the standard first gate: group by the
quasi-identifier (QI) tuple, count group sizes, and report — for each
policy threshold k — how many QI groups (and rows) fall below it.

Everything is exact integer counting plus one double division for the
percentage, so the DuckDB oracle matches bit-for-bit after 6dp.

Scale notes (100 TB): ONE hash-agg keyed by the QI tuple (map-side
partial counts collapse the raw scan), then a tiny re-aggregation of
|distinct QI| rows per threshold — the thresholds EXPLODE on the
collapsed group table, never on raw rows.  No windows, no joins; the
report is a handful of rows regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import wide


def kanon_report(df: DataFrame, quasi: list[Column | str],
                 ks: list[int] = (2, 5, 10)) -> DataFrame:
    """(k, n_groups, n_groups_below, n_rows_below, pct_rows_below):
    per policy threshold k, the QI groups of size < k, the rows they
    contain (the at-risk population), and that population's share.

    ``quasi`` are the quasi-identifier columns/expressions — pass
    pre-bucketed expressions (e.g. n_chars//100) so the QI space is
    the COARSENED one a release would actually publish."""
    cols = [
        (F.col(q) if isinstance(q, str) else q).alias(f"_q{i}")
        for i, q in enumerate(quasi)
    ]
    groups = df.select(*cols).groupBy(
        *[f"_q{i}" for i in range(len(cols))]
    ).agg(F.count(F.lit(1)).alias("gn"))
    per_k = groups.select(
        "gn",
        F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k"),
    )
    rep = per_k.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("gn") < F.col("k"), 1).otherwise(0))
        .alias("n_groups_below"),
        F.sum(F.when(F.col("gn") < F.col("k"), F.col("gn")).otherwise(0))
        .alias("n_rows_below"),
        F.sum("gn").alias("_total"),
    )
    return rep.select(
        "k", "n_groups", "n_groups_below", "n_rows_below",
        F.round(
            F.col("n_rows_below").cast("double")
            / F.col("_total").cast("double"), 6
        ).alias("pct_rows_below"),
    )


def l_diversity(df: DataFrame, quasi: list[Column | str],
                sensitive: Column | str,
                ls: list[int] = (2, 3, 5)) -> DataFrame:
    """(l, n_groups, n_groups_below, n_rows_below, pct_rows_below):
    distinct l-diversity — k-anonymity's companion gate.  A QI group
    can be large (k-anonymous) yet still leak: if every row in it
    shares ONE sensitive value, membership reveals the attribute.
    Per policy threshold l, report the QI groups whose sensitive
    column carries fewer than l distinct values, the rows they hold,
    and that population's share.

    Same shape discipline as kanon_report: ONE hash-agg keyed by the
    QI tuple (count + exact count-distinct of the sensitive value via
    a two-level agg), thresholds explode on the collapsed group
    table.  Exact integers + one double divide.
    """
    cols = [
        (F.col(q) if isinstance(q, str) else q).alias(f"_q{i}")
        for i, q in enumerate(quasi)
    ]
    s = (F.col(sensitive) if isinstance(sensitive, str)
         else sensitive).alias("_s")
    qnames = [f"_q{i}" for i in range(len(cols))]
    # exact distinct: collapse (QI, sensitive) first, then count —
    # two map-side-combinable hash-aggs, no expensive distinct agg
    per_val = df.select(*cols, s).groupBy(*qnames, "_s").agg(
        F.count(F.lit(1)).alias("vn")
    )
    groups = per_val.groupBy(*qnames).agg(
        F.sum("vn").alias("gn"),
        F.count(F.lit(1)).alias("gd"),
    )
    per_l = groups.select(
        "gn", "gd",
        F.explode(F.array(*[F.lit(int(v)) for v in ls])).alias("l"),
    )
    rep = per_l.groupBy("l").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("gd") < F.col("l"), 1).otherwise(0))
        .alias("n_groups_below"),
        F.sum(F.when(F.col("gd") < F.col("l"), F.col("gn")).otherwise(0))
        .alias("n_rows_below"),
        F.sum("gn").alias("n_rows"),
    )
    return rep.select(
        "l", "n_groups", "n_groups_below",
        F.col("n_rows_below").cast("long").alias("n_rows_below"),
        F.round(
            F.col("n_rows_below").cast("double")
            / F.col("n_rows").cast("double"), 6
        ).alias("pct_rows_below"),
    )


def t_closeness(df: DataFrame, quasi: list[Column | str],
                sensitive: Column | str,
                ts10: list[int] = (2, 3, 5)) -> DataFrame:
    """(t, n_groups, n_groups_above, n_rows_above, pct_rows_above,
    max_tvd): t-closeness — the third gate of the release family
    (k-anonymity: groups big enough; l-diversity: values varied
    enough; t-closeness: the group's sensitive DISTRIBUTION must stay
    within t of the global one, else group membership itself shifts
    an attacker's posterior).  Distance = total variation (the
    categorical EMD with uniform ground distance):

        TVD_g = ½ Σ_v |c_gv/n_g − c_v/n|

    evaluated EXACTLY: the numerator Σ_v |c_gv·n − c_v·n_g| handles
    group-absent values in closed form (Σ_{v∉g} c_v·n_g = n·n_g −
    Σ_{v∈g} c_v·n_g — no dense (group × value) grid is ever built),
    accumulates in decimal(38,0), and every threshold decision is the
    integer comparison 10·num > t10·2·n_g·n — no float ever decides.
    max_tvd is the one display double (round 6).

    Thresholds are t10 = 10·t (t ∈ {0.2, 0.3, 0.5} by default).

    Scale: (QI, value) hash-agg → QI hash-agg → broadcast of the
    |values|-row global histogram → threshold explode on the
    collapsed group table.  Same shape family as kanon_report."""
    cols = [
        (F.col(q) if isinstance(q, str) else q).alias(f"_q{i}")
        for i, q in enumerate(quasi)
    ]
    s = (F.col(sensitive) if isinstance(sensitive, str)
         else sensitive).alias("_s")
    qnames = [f"_q{i}" for i in range(len(cols))]
    per_val = df.select(*cols, s).groupBy(*qnames, "_s").agg(
        F.count(F.lit(1)).alias("cgv")
    )
    glob = per_val.groupBy("_s").agg(F.sum("cgv").alias("cv"))
    tot = glob.agg(F.sum("cv").alias("n"))
    gsz = per_val.groupBy(*qnames).agg(F.sum("cgv").alias("ng"))
    j = per_val.join(F.broadcast(glob), "_s") \
        .join(gsz, qnames).crossJoin(F.broadcast(tot))
    term = (
        F.abs(
            wide("cgv") * wide("n")
            - wide("cv") * wide("ng")
        )
        - wide("cv") * wide("ng")
    )
    per_g = j.groupBy(*qnames).agg(
        F.first("ng").alias("ng"),
        F.first("n").alias("n"),
        F.sum(term).alias("present_sum"),
    ).select(
        "ng", "n",
        (F.col("present_sum")
         + wide("n") * wide("ng")).alias("num"),
    )
    per_t = per_g.select(
        "ng", "n", "num",
        F.explode(
            F.array(*[F.lit(int(v)) for v in ts10])
        ).alias("t10"),
    )
    above = (
        10 * F.col("num")
        > wide("t10") * 2 * F.col("ng") * F.col("n")
    )
    tvd = F.col("num").cast("double") / (
        2.0 * F.col("ng").cast("double") * F.col("n").cast("double")
    )
    rep = per_t.groupBy("t10").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(above, 1).otherwise(0)).alias("n_groups_above"),
        F.sum(F.when(above, F.col("ng")).otherwise(0))
        .alias("n_rows_above"),
        F.sum("ng").alias("n_rows"),
        F.max(F.round(tvd, 6)).alias("max_tvd"),
    )
    return rep.select(
        (F.col("t10").cast("double") / 10.0).alias("t"),
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n_groups_above").cast("long").alias("n_groups_above"),
        F.col("n_rows_above").cast("long").alias("n_rows_above"),
        F.round(
            F.col("n_rows_above").cast("double")
            / F.col("n_rows").cast("double"), 6
        ).alias("pct_rows_above"),
        F.col("max_tvd").alias("max_tvd"),
    )


def dp_release(events: DataFrame, group_cols: list[str] | None = None,
               epsilon: float = 1.0) -> DataFrame:
    """(group..., n, noise, noisy_n, epsilon): ε-differential-privacy-
    SHAPED noisy count release per group — Laplace(1/ε) noise added to
    each count, the fourth privacy primitive next to k-anonymity /
    l-diversity / t-closeness (those say when a release is safe; this
    is the mechanism that makes counts safe).

    The noise is drawn by INVERSE-CDF from a SEEDED md5 uniform
    (u = (48-bit md5 slice + ½)/2⁴⁸, noise = −(1/ε)·sign(u−½)·
    ln(1−2|u−½|)) so the whole release is deterministic and
    oracle-replicable — which also means it is NOT actually private
    (a seeded PRNG violates DP's randomness requirement; same honesty
    policy as multimodal's stubbed decoder).  The Spark-side mechanism
    — sensitivity-1 count, per-group independent noise, one ln on
    identical doubles rounded 6 dp — is the real, tested plumbing;
    production swaps the seed for entropy and DROPS the true n column
    (kept here for auditability and the pytest).

    Scale notes (100 TB): one hash-agg; the noise is a per-row scalar
    expression on the |groups|-row result."""
    group_cols = group_cols or ["event_type"]
    g = events.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # timestamps enter the seed as DATE strings (identical 'YYYY-MM-DD'
    # rendering in both engines; full timestamp strings are a
    # format-divergence hazard)
    dtypes = dict(g.dtypes)
    key = F.md5(F.concat_ws(
        "|",
        *[
            F.col(c).cast("date").cast("string")
            if dtypes.get(c, "").startswith("timestamp")
            else F.col(c).cast("string")
            for c in group_cols
        ],
    ))
    v = F.conv(F.substring(key, 1, 12), 16, 10).cast("long")
    u = (v.cast("double") + F.lit(0.5)) / F.lit(float(1 << 48))
    c = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / float(epsilon))
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return g.select(
        *group_cols, "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n").cast("double") + noise, 6).alias("noisy_n"),
        F.lit(float(epsilon)).alias("epsilon"),
    )
