"""Continuous-aggregate tier cascade raw→1m→1h→1d (SURVEY A2/A3) —
the one owner of the tier algebra.

**The fold.** Every tier operation — raw points → a tier, a tier → the
next tier up, merging same-grain partials, the streaming 1m tier and
the streaming 1h/1d cascade — is one sum-product fold over the same
aggregate vector, written once in `tier_fold`:

    from raw `value`:    cnt=count  sum=sum  min=min  max=max
    from tier rows:      cnt=sum    sum=sum  min=min  max=max
    both:                first=min_by(·, fkey)  last=max_by(·, lkey)

plus, in the upsertable form, `fkey=min(fkey)` / `lkey=max(lkey)` so
partials merge exactly later.  Every higher tier re-aggregates **from
the tier below it**, never from raw (BASELINE.json:6).

**The packed order key.** first/last are `min_by`/`max_by` on the
composite order (ts, turn_idx) — never the order-dependent `first()`
aggregate (SURVEY §7 "hard parts").  The composite is packed into ONE
int64 by `pack_key`:

    key = off << idx_bits(width_us) | min(idx, 2^idx_bits − 1)
    idx_bits(width_us) = 63 − bit_length(width_us − 1)

where `off` is the µs offset of the point inside its bucket of width
`width_us` (minute 37 idx bits, hour 31, day 26, 5 min 34).  Keys are
only compared within one bucket, so the offset preserves (ts, idx)
order exactly; comparable across partials of the same bucket, and a
key of a finer grain re-keys exactly to a coarser one
(`partials_1d_from_1h`).  A struct(ts, turn_idx) key would force
SortAggregate (struct agg buffers are not hash-aggregable), silently
turning every tier build into a per-partition sort; the packed long
keeps the whole cascade in HashAggregate + whole-stage codegen with
map-side partial aggregation (tests/test_plans.py).

Scale note: groupBy keys are (conv_id, metric, bucket_ts); partial
aggregation collapses each task's rows before the shuffle, so shuffle
volume ≈ |buckets|, not |points|.  Tier N+1 reuses tier N's output
(cheap: ~60x smaller each step).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.timeutil import epoch_us

TIER_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TRUNC_US = {"minute": 60_000_000, "hour": 3_600_000_000,
            "day": 86_400_000_000}
TIER_COLS = ("cnt", "sum", "min", "max", "first", "last")


def idx_bits(width_us: int) -> int:
    """Low bits left for the tie-break index once the in-bucket µs
    offset of a `width_us`-wide bucket is packed into a signed int64."""
    return 63 - (width_us - 1).bit_length()


def pack_key(off: Column, idx: Column, bits: int) -> Column:
    """off << bits | idx, with idx clamped to `bits` — beyond that two
    same-µs turns tie, which at the day grain needs >775 turns/sec for
    a whole day in one conversation."""
    return off * F.lit(1 << bits) + F.least(idx, F.lit((1 << bits) - 1))


def packed_order_key(trunc: str, ts: str = "ts",
                     idx: Column | None = None) -> Column:
    """(ts, idx) order inside a `trunc` bucket as ONE int64; `ts` names
    the timestamp column, `idx` defaults to turn_idx."""
    off = epoch_us(F.col(ts)) - epoch_us(F.date_trunc(trunc, ts))
    if idx is None:
        idx = F.col("turn_idx").cast("long")
    return pack_key(off, idx, idx_bits(TRUNC_US[trunc]))


def tier_fold(rows: DataFrame, bucket: Column | str, fkey: Column,
              lkey: Column | None = None, keyed: bool = False) -> DataFrame:
    """The tier aggregate, grouped by (conv_id, metric, bucket_ts).

    `rows` are raw points when they carry `value`, else tier rows.
    `bucket` is the bucket_ts expression, or a tumbling-window duration
    on `ts` (epoch-aligned, matches DuckDB's time_bucket).  first/last
    order by `fkey`/`lkey` (`lkey` defaults to `fkey`); `keyed` also
    emits the merged keys as `fkey`/`lkey` after first/last."""
    lkey = fkey if lkey is None else lkey
    if "value" in rows.columns:
        v = first = last = F.col("value")
        head = [F.count(v), F.sum(v), F.min(v), F.max(v)]
    else:
        first, last = F.col("first"), F.col("last")
        head = [F.sum("cnt"), F.sum("sum"), F.min("min"), F.max("max")]
    aggs = [a.alias(n) for a, n in zip(head, TIER_COLS)]
    aggs.append(F.min_by(first, fkey).alias("first"))
    if keyed:
        aggs.append(F.min(fkey).alias("fkey"))
    aggs.append(F.max_by(last, lkey).alias("last"))
    if keyed:
        aggs.append(F.max(lkey).alias("lkey"))
    if not isinstance(bucket, str):
        return rows.groupBy(
            "conv_id", "metric", bucket.alias("bucket_ts")
        ).agg(*aggs)
    out = rows.groupBy(
        "conv_id", "metric", F.window("ts", bucket).alias("w")
    ).agg(*aggs)
    return out.select("conv_id", "metric",
                      F.col("w.start").alias("bucket_ts"), *out.columns[3:])


def rollup_raw(series: DataFrame, tier: str = "1m") -> DataFrame:
    """Raw series points → a tier of (cnt,sum,min,max,first,last)."""
    trunc = TIER_TRUNC[tier]
    return tier_fold(series, F.date_trunc(trunc, "ts"),
                     packed_order_key(trunc))


def rollup_interval(series: DataFrame, interval: str = "5 minutes",
                    interval_seconds: int = 300) -> DataFrame:
    """Tier rollup at an arbitrary tumbling interval via window()
    (date_trunc only covers calendar units).  Same output schema as
    rollup_raw.  Tumbling windows are epoch-aligned, so the in-bucket
    offset of the order key is epoch µs mod the interval."""
    ivl_us = interval_seconds * 1_000_000
    key = pack_key(F.pmod(epoch_us(F.col("ts")), F.lit(ivl_us)),
                   F.col("turn_idx").cast("long"), idx_bits(ivl_us))
    return tier_fold(series, interval, key)


def rollup_tier(lower: DataFrame, to_tier: str) -> DataFrame:
    """Re-aggregate tier N → tier N+1 from the lower tier only."""
    lo = lower.withColumnRenamed("bucket_ts", "lo_ts")
    return tier_fold(lo, F.date_trunc(TIER_TRUNC[to_tier], "lo_ts"),
                     F.col("lo_ts"))


def rollup_raw_upsertable(series: DataFrame, tier: str = "1m") -> DataFrame:
    """Tier partials that can be EXACTLY merged later (late data /
    incremental refresh): standard tier columns plus `fkey`/`lkey`,
    the packed in-bucket order keys of the first/last point.

    Plain tier rows cannot merge exactly at the SAME granularity:
    combining a base partial and a late-delta partial of one bucket
    needs to know which side's first point came earlier, and
    `bucket_ts` ties by construction.  Carrying the packed key makes
    first/last merge associative (`tier_merge`).  This is the
    continuous-aggregate maintenance contract:
    `merge(rollup(A), rollup(B)) == rollup(A ∪ B)` for any partition of
    the input — the invariant that lets a 100 TB engine fold a
    late-arriving day of transcripts into a materialized tier without
    re-reading the other 99.9 TB (MERGE INTO-shaped at the storage
    layer; exactness oracle-verified by `tier_upsert_1h`)."""
    trunc = TIER_TRUNC[tier]
    return tier_fold(series, F.date_trunc(trunc, "ts"),
                     packed_order_key(trunc), keyed=True)


def tier_merge(*parts: DataFrame) -> DataFrame:
    """Exact same-granularity merge of upsertable tier partials.

    One hash-agg over the unioned partials; shuffle volume is
    |buckets touched|, so merging a late delta costs O(delta), not
    O(history).  Output keeps fkey/lkey so merges chain."""
    u = reduce(lambda a, b: a.unionByName(b), parts)
    return tier_fold(u, F.col("bucket_ts"), F.col("fkey"), F.col("lkey"),
                     keyed=True)


def _spread(df: DataFrame, n_parts: int | None, *cols: str) -> DataFrame:
    return (df.repartition(n_parts, *cols) if n_parts
            else df.repartition(*cols))


def rollup_cascade(series: DataFrame) -> dict[str, DataFrame]:
    """Full cascade; returns {'1m': df, '1h': df, '1d': df}."""
    t1m = rollup_raw(series, "1m")
    t1h = rollup_tier(t1m, "1h")
    return {"1m": t1m, "1h": t1h, "1d": rollup_tier(t1h, "1d")}


def rollup_cascade_fused(series: DataFrame,
                         n_parts: int | None = None) -> dict[str, DataFrame]:
    """Whole cascade with exactly ONE shuffle.

    An explicit repartition on conv_id up front makes every tier's
    grouping requirement already satisfied: hashpartitioning(conv_id)
    satisfies ClusteredDistribution(conv_id, metric, bucket_ts) (the
    partitioning expressions are a subset of the grouping keys), so
    Catalyst inserts NO further exchanges — 1m, 1h and 1d aggregate
    in place on the same partitioning.  rollup_cascade_auto takes
    this path for even keys.  The batch pipeline (plans/pipeline.run)
    does not: it builds each tier as its own rollup_raw/rollup_tier
    stage over unbucketed parquet and pays one shuffle per tier
    (measured: the 1h re-agg stopped scaling at 8→32 cores because
    its shuffle dominated).

    tests/test_plans.py asserts the single-exchange property."""
    return rollup_cascade(_spread(series, n_parts, "conv_id"))


def tier_summary(tier_df: DataFrame) -> DataFrame:
    """Per-metric / grand-total report via ROLLUP grouping sets (SURVEY A7)."""
    return (
        tier_df.rollup("metric")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("cnt").alias("points"),
            F.sum("sum").alias("total"),
        )
        .orderBy(F.col("metric").asc_nulls_first())
    )


def tier_consistency_report(series: DataFrame, lo_tier: str = "1m",
                            hi_tier: str = "1h") -> DataFrame:
    """Cross-tier data-quality check: re-aggregate the low tier up to
    the high tier and diff it against a direct raw→high rollup,
    per (conv_id, metric, bucket) — the invariant every continuous
    aggregate must hold (``merge(rollup_1m) == rollup_1h``), reported
    instead of assumed.  A bucket "mismatches" when any of
    cnt / round(sum,6) / min / max / first / last disagree (sum is
    compared rounded: re-agg adds partials in a different order than
    the direct rollup, so the raw doubles may differ in the last ulp
    while both are correct).

    Output: one row per metric with buckets compared, buckets present
    on only one side, and per-column mismatch counts.  On consistent
    pipelines every count but n_buckets is 0 — the value of the query
    is that the zeros are *computed*, not asserted.

    Scale: both sides are ordinary tier builds (shuffle ≈ |buckets|);
    the diff is an equi-join on the bucket grain, then one small agg
    keyed on metric.  No extra pass over raw data beyond the two
    rollups, and the low tier is reused from the cascade in practice.
    """
    reagg = rollup_tier(rollup_raw(series, lo_tier), hi_tier)
    direct = rollup_raw(series, hi_tier)

    keys = ["conv_id", "metric", "bucket_ts"]
    a = reagg.select(*keys, *[F.col(c).alias(f"a_{c}") for c in TIER_COLS])
    b = direct.select(*keys, *[F.col(c).alias(f"b_{c}") for c in TIER_COLS])
    j = a.join(b, keys, "full_outer")

    both = F.col("a_cnt").isNotNull() & F.col("b_cnt").isNotNull()

    def _diff(col: str, rounded: bool = False):
        x, y = F.col(f"a_{col}"), F.col(f"b_{col}")
        if rounded:
            x, y = F.round(x, 6), F.round(y, 6)
        return F.sum((both & (x != y)).cast("long")).alias(f"n_{col}_diff")

    return (
        j.groupBy("metric")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.col("b_cnt").isNull().cast("long")).alias("n_only_reagg"),
            F.sum(F.col("a_cnt").isNull().cast("long")).alias("n_only_direct"),
            _diff("cnt"),
            _diff("sum", rounded=True),
            _diff("min"),
            _diff("max"),
            _diff("first"),
            _diff("last"),
        )
    )


# Auto-salt decision thresholds (µ-units): salt when any metric's
# per-conv_id row distribution has Gini above 0.60 OR one conversation
# holds more than 12% of a metric's rows.  Gini ~0.6 is where the
# synthetic skew harness (BENCH/BASELINE.md) measured the fused plan's
# straggler task dominating the stage; top1 share catches the
# single-monster-conversation case Gini dilutes at high key counts.
AUTO_SALT_GINI_U = 600_000
AUTO_SALT_TOP1_U = 120_000


def rollup_cascade_auto(series: DataFrame, n_parts: int | None = None,
                        buckets: int = 16,
                        stats: dict | None = None) -> dict[str, DataFrame]:
    """Cascade with the skew guard WIRED TO MEASUREMENT (VERDICT r02
    #6): run skew.key_skew_report over the input's (metric, conv_id)
    row counts — one map-side-collapsed agg, |metrics| output rows —
    and pick the plan:

    - even keys → rollup_cascade_fused (single raw shuffle on
      conv_id; every tier aggregates in place);
    - skewed keys (Gini or top-1 share over threshold) → salted raw
      shuffle on (conv_id, salt): a monster conversation's raw rows
      spread over `buckets` tasks, partial aggregation collapses each
      salt bucket map-side, and the tier groupBys merge the partials
      with bucket-grain exchanges (≈|buckets| rows — cheap; the raw
      scan was the skew risk, not the tier merges).

    The salted path's aggregates are all associative (cnt/sum/min/max
    + min_by/max_by on the packed order key), so both plans produce
    identical tiers — the pytest diffs them on skewed and even
    synthetics.  `stats`, when passed, records the measurement and
    the decision (`salted`, `gini_u`, `top1_share_u`).

    Scale: the detector is one extra aggregation over the raw scan
    (collapses map-side to |convs| rows, then |metrics|); at 100 TB
    that is the cheapest insurance in the pipeline — the alternative
    is discovering the straggler task on the cluster dashboard."""
    from timeseriescorrelation_spark.operators.skew import (
        key_skew_report,
        with_salt,
    )

    m = (
        key_skew_report(series)
        .agg(
            F.max("gini_u").alias("g"),
            F.max("top1_share_u").alias("t"),
        )
        .first()
    )
    gini_u = int(m["g"]) if m and m["g"] is not None else 0
    top1_u = int(m["t"]) if m and m["t"] is not None else 0
    salted = gini_u > AUTO_SALT_GINI_U or top1_u > AUTO_SALT_TOP1_U
    if stats is not None:
        stats.update(
            {"salted": salted, "gini_u": gini_u, "top1_share_u": top1_u}
        )
    if not salted:
        return rollup_cascade_fused(series, n_parts)
    s = _spread(with_salt(series, buckets), n_parts, "conv_id", "salt")
    return rollup_cascade(s.drop("salt"))
