"""Declarative data-quality expectations — the Deequ/Great-Expectations
verification-suite shape, PySpark-native: a suite of per-column checks
evaluates in ONE aggregation pass over the table (each check is a
conditional count inside the same agg — no per-check scans), emitting
one row per check:

    (check, col, observed, total, frac, expected_frac, passed)

Check types:
- not_null   — fraction of non-null values ≥ min_frac
- unique     — distinct count == row count (key integrity)
- range      — fraction inside [lo, hi] ≥ min_frac (nulls fail)
- in_set     — fraction in the allowed set ≥ min_frac (nulls fail)
- matches    — fraction matching a regex ≥ min_frac

plus ``dq_ref_check`` for referential integrity (child keys ⊆ parent
keys), which is necessarily a second scan + one anti-join.

Exactness: every observed statistic is an exact integer count; frac is
one division rounded to 6dp; passed compares on the integer cross-
multiply observed·10⁶ ≥ min_frac_ppm·total, so no float comparison
ever decides a verdict and the DuckDB oracle matches bit-for-bit.

Scale notes (100 TB): the suite is ONE scan with map-side partial
aggregation (a handful of longs per task regardless of row count);
`unique` adds count_distinct's dedup shuffle for that column only.
Results are |checks| rows — driver-safe to alert on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.timeutil import epoch_us


def _ppm(min_frac: float) -> int:
    return int(round(float(min_frac) * 1_000_000))


def dq_checks(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Evaluate a suite of checks in one aggregation pass.

    Each check: {"type": ..., "col": ..., and type-specific params};
    see module docstring.  Check names are deterministic
    ("<type>:<col>")."""
    aggs = [F.count(F.lit(1)).alias("_total")]
    meta = []  # (name, col, agg_alias, expected_ppm, compare_to_total)
    for i, c in enumerate(checks):
        t, col = c["type"], c["col"]
        alias = f"_c{i}"
        name = f"{t}:{col}"
        if t == "not_null":
            aggs.append(
                F.count(F.col(col)).cast("long").alias(alias)
            )
            meta.append((name, col, alias, _ppm(c.get("min_frac", 1.0))))
        elif t == "unique":
            aggs.append(F.count_distinct(F.col(col)).alias(alias))
            meta.append((name, col, alias, _ppm(1.0)))
        elif t == "range":
            ok = (
                F.col(col).isNotNull()
                & (F.col(col) >= F.lit(c["lo"]))
                & (F.col(col) <= F.lit(c["hi"]))
            )
            aggs.append(
                F.sum(ok.cast("long")).cast("long").alias(alias)
            )
            meta.append((name, col, alias, _ppm(c.get("min_frac", 1.0))))
        elif t == "in_set":
            allowed = F.array(*[F.lit(x) for x in c["allowed"]])
            ok = F.col(col).isNotNull() & F.array_contains(
                allowed, F.col(col)
            )
            aggs.append(
                F.sum(ok.cast("long")).cast("long").alias(alias)
            )
            meta.append((name, col, alias, _ppm(c.get("min_frac", 1.0))))
        elif t == "matches":
            ok = F.col(col).isNotNull() & F.col(col).rlike(c["pattern"])
            aggs.append(
                F.sum(ok.cast("long")).cast("long").alias(alias)
            )
            meta.append((name, col, alias, _ppm(c.get("min_frac", 1.0))))
        else:
            raise ValueError(f"unknown check type {t!r}")
    wide = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("check"),
            F.lit(col).alias("col"),
            F.col(alias).cast("long").alias("observed"),
            F.lit(ppm).cast("long").alias("expected_ppm"),
        )
        for name, col, alias, ppm in meta
    ])
    ex = wide.select(
        F.col("_total").cast("long").alias("total"),
        F.explode(rows).alias("r"),
    )
    return ex.select(
        F.col("r.check").alias("check"),
        F.col("r.col").alias("col"),
        F.col("r.observed").alias("observed"),
        "total",
        F.round(
            F.col("r.observed").cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("frac"),
        F.round(
            F.col("r.expected_ppm").cast("double") / 1e6, 6
        ).alias("expected_frac"),
        # integer cross-multiply: no float decides a verdict
        (
            F.col("r.observed") * F.lit(1_000_000)
            >= F.col("r.expected_ppm") * F.col("total")
        ).alias("passed"),
    )


def dq_ref_check(child: DataFrame, parent: DataFrame,
                 child_key: str, parent_key: str) -> DataFrame:
    """Referential integrity: child rows whose key has no parent.
    Output one row (check, col, observed=orphans, total, frac,
    expected_frac=0, passed) — same schema as dq_checks, unionable
    into one report.  One anti-join keyed by the child key (broadcast
    when the parent key set is small)."""
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("long").alias("orphans"))
    total = child.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return orphans.crossJoin(total).select(
        F.lit(f"ref:{child_key}").alias("check"),
        F.lit(child_key).alias("col"),
        F.col("orphans").alias("observed"),
        "total",
        F.round(
            F.col("orphans").cast("double") / F.col("total").cast("double"),
            6,
        ).alias("frac"),
        F.lit(0.0).alias("expected_frac"),
        (F.col("orphans") == 0).alias("passed"),
    )


def dq_sequence(series: DataFrame) -> DataFrame:
    """Per-conversation SEQUENCE invariants — the transcript-shaped
    checks dq_checks' per-column counters can't see because they are
    properties of ADJACENT rows in turn order:

      n_same_adjacent — consecutive turns with the same type (role-
                        alternation violations: a well-formed dialog
                        never has two same-role turns back to back)
      n_time_ties     — consecutive turns sharing a timestamp (the
                        time-tie hazard mann_kendall/pattern oracles
                        break on tie ordinals)
      n_idx_inversions— the time order and the turn-index order
                        disagree (ts strictly increases while
                        turn_idx decreases) — the corruption an
                        out-of-order ingest writes
      is_clean        — all three are zero

    Output: (conv_id, n_turns, n_same_adjacent, n_time_ties,
    n_idx_inversions, is_clean) — one row per conversation, all exact
    integer counts.

    Scale notes (100 TB): ONE shuffle to conv_id, ONE window pass per
    group ordered by (ts, turn_idx) (the deterministic total order —
    ties can't make adjacency ambiguous), then a hash-agg reusing the
    same partitioning.  Rows per group = turns per conversation, the
    same bound every per-conv op in the engine already carries."""
    w = Window.partitionBy("conv_id").orderBy("_ts", "_idx")
    flagged = series.select(
        "conv_id",
        F.col("ts").alias("_ts"),
        F.col("turn_idx").alias("_idx"),
        F.col("metric").alias("_tp"),
    ).select(
        "conv_id",
        (F.col("_tp") == F.lag("_tp").over(w)).cast("long")
        .alias("same_adj"),
        (F.col("_ts") == F.lag("_ts").over(w)).cast("long")
        .alias("time_tie"),
        (
            (F.col("_ts") > F.lag("_ts").over(w))
            & (F.col("_idx") < F.lag("_idx").over(w))
        ).cast("long").alias("idx_inv"),
    )
    return flagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.coalesce(F.sum("same_adj"), F.lit(0)).alias("n_same_adjacent"),
        F.coalesce(F.sum("time_tie"), F.lit(0)).alias("n_time_ties"),
        F.coalesce(F.sum("idx_inv"), F.lit(0)).alias("n_idx_inversions"),
    ).withColumn(
        "is_clean",
        (F.col("n_same_adjacent") + F.col("n_time_ties")
         + F.col("n_idx_inversions")) == 0,
    )


def category_churn(events: DataFrame) -> DataFrame:
    """(day_ts, n_cats, n_new, n_dropped, new_rows, new_rows_share):
    day-over-day category churn — the schema-drift tripwire upstream
    pipelines need ("a new event_type appeared yesterday; did anyone
    tell the rollup?").  For each day after the first: categories
    present today but not yesterday (new), present yesterday but not
    today (dropped), and the ROW mass arriving under new categories
    (a new category carrying 40% of rows is an incident; one carrying
    3 rows is a canary).

    Scale: one hash-agg to |days|·|categories| rows (map-side
    combine), then a self full-outer join of that tiny table shifted
    by one day — aggregate-sized everywhere, no windows over raw
    rows.  Day 1 has no baseline and is excluded.
    """
    per = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.col("event_type").alias("cat"),
    ).agg(F.count(F.lit(1)).alias("rn"))
    today = per.select("day_ts", "cat", "rn")
    yest = per.select(
        (F.col("day_ts") + F.expr("INTERVAL 24 HOURS")).alias("day_ts"),
        F.col("cat").alias("cat"),
        F.lit(1).alias("was_there"),
    )
    # restrict to days that HAVE a baseline (previous day observed)
    days_with_prev = per.select("day_ts").distinct().alias("d").join(
        per.select(
            (F.col("day_ts") + F.expr("INTERVAL 24 HOURS"))
            .alias("day_ts")
        ).distinct().alias("p"),
        "day_ts",
    )
    j = today.join(yest, ["day_ts", "cat"], "full_outer").join(
        days_with_prev, "day_ts"
    )
    g = j.groupBy("day_ts").agg(
        F.sum(F.when(F.col("rn").isNotNull(), 1).otherwise(0))
        .alias("n_cats"),
        F.sum(
            F.when(
                F.col("rn").isNotNull() & F.col("was_there").isNull(), 1
            ).otherwise(0)
        ).alias("n_new"),
        F.sum(
            F.when(
                F.col("rn").isNull() & F.col("was_there").isNotNull(), 1
            ).otherwise(0)
        ).alias("n_dropped"),
        F.sum(
            F.when(
                F.col("rn").isNotNull() & F.col("was_there").isNull(),
                F.col("rn"),
            ).otherwise(0)
        ).alias("new_rows"),
        F.sum(F.coalesce(F.col("rn"), F.lit(0))).alias("tot_rows"),
    )
    return g.select(
        "day_ts",
        F.col("n_cats").cast("long").alias("n_cats"),
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        F.col("new_rows").cast("long").alias("new_rows"),
        F.round(
            F.col("new_rows").cast("double")
            / F.col("tot_rows").cast("double"), 6
        ).alias("new_rows_share"),
    )


def lateness_audit(series: DataFrame,
                   keys: list[str] | None = None) -> DataFrame:
    """(metric, n, n_late, late_share, max_lateness_s, drop_1m,
    drop_5m, drop_15m): out-of-orderness audit — for each observation,
    lateness = (max event time among STRICTLY EARLIER arrivals) −
    its own event time; positive means it arrived after newer data.
    This is THE measurement that sizes Structured Streaming's
    `withWatermark`: drop_Xm is exactly how many events a watermark
    of X minutes would discard, computed on the batch corpus before
    anyone commits to a threshold.

    Arrival order is the data's own ingest sequence (turn_idx, which
    carries event_id in the events-derived series).  All counts are
    exact integers off one lag-style window inside key partitions;
    shares are one division.

    Scale: one partitioned window + one hash agg; no grids, no
    joins."""
    keys = keys or ["metric"]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("turn_idx").cast("long"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t_us = epoch_us(F.col("ts"))
    lat = series.select(
        *keys,
        F.greatest(
            F.coalesce(F.max(t_us).over(w) - t_us, F.lit(0)),
            F.lit(0),
        ).alias("late_us"),
    )
    m = 60_000_000
    agg = lat.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("late_us") > 0).cast("long")).alias("n_late"),
        F.max("late_us").alias("max_us"),
        F.sum((F.col("late_us") > 1 * m).cast("long")).alias("drop_1m"),
        F.sum((F.col("late_us") > 5 * m).cast("long")).alias("drop_5m"),
        F.sum(
            (F.col("late_us") > 15 * m).cast("long")
        ).alias("drop_15m"),
    )
    return agg.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("n_late").cast("long").alias("n_late"),
        F.round(
            F.col("n_late").cast("double") / F.col("n").cast("double"), 6
        ).alias("late_share"),
        F.round(
            F.col("max_us").cast("double") / F.lit(1.0e6), 6
        ).alias("max_lateness_s"),
        F.col("drop_1m").cast("long").alias("drop_1m"),
        F.col("drop_5m").cast("long").alias("drop_5m"),
        F.col("drop_15m").cast("long").alias("drop_15m"),
    )
