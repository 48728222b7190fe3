"""Binned interval join (SURVEY §2.3 J5 range/interval family): join
point events to time spans (`key` equal AND start <= ts <= end) WITHOUT
the cartesian/broadcast-nested-loop plan Spark produces for a raw
non-equi range predicate.

Shape: every span explodes to the grid buckets it covers; events carry
their own bucket; the join becomes a pure EQUI-join on (key, bucket)
followed by the exact range filter.  Each (event, span) candidate pair
meets in exactly one bucket (the event's), so no post-join dedup is
needed.

Scale notes: shuffle volume is O(events + sum of span lengths in
buckets) and the join is hash-partitioned on (key, bucket) — dense
keys spread across buckets instead of one hot key row.  Pick the
bucket width near the median span length: too fine multiplies span
replicas, too coarse packs many spans per bucket (the filter then
discards more candidates).  This is the standard Spark answer to
range joins (Databricks' range-join "bin" optimization re-expressed
with public primitives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# calendar intervals, not fixed seconds: a fixed-86400s step drifts off
# date_trunc('day') boundaries across a DST transition in non-UTC
# sessions and the equi-join would silently drop matches (the engine
# pins UTC in session.py, but the operator must not depend on that)
_BUCKET_STEP = {
    "minute": "interval 1 minute",
    "hour": "interval 1 hour",
    "day": "interval 1 day",
}


def interval_join_binned(events: DataFrame, spans: DataFrame, keys: list[str],
                         bucket: str = "hour") -> DataFrame:
    """events ⋈ spans on (keys equal, start <= ts <= end), equi-binned.

    Output: every event row + the matching span's columns (inner join;
    an event inside two overlapping spans yields two rows).  Malformed
    spans (end < start) match nothing — they are filtered before the
    explode rather than throwing ILLEGAL_SEQUENCE_BOUNDARIES and
    killing the job on one bad row."""
    span_buckets = spans.where(
        F.col("end_ts") >= F.col("start_ts")
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col("start_ts")),
                F.date_trunc(bucket, F.col("end_ts")),
                F.expr(_BUCKET_STEP[bucket]),
            )
        ).alias("_bucket"),
    )
    ev = events.withColumn("_bucket", F.date_trunc(bucket, F.col("ts")))
    return (
        ev.join(span_buckets, [*keys, "_bucket"])
        .where(F.col("ts").between(F.col("start_ts"), F.col("end_ts")))
        .drop("_bucket")
    )


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          start_l: str = "start_l", end_l: str = "end_l",
                          start_r: str = "start_r", end_r: str = "end_r",
                          bucket: str = "day") -> DataFrame:
    """Span ⋈ span on OVERLAP (the interval-algebra join: two interval
    sets, which pairs intersect and by how much), binned to an
    equi-join like `interval_join_binned`.

    Both sides explode to their covered grid buckets and meet on the
    bucket key.  A pair overlapping several buckets would join once
    per shared bucket; instead of a post-join `distinct` (a second
    shuffle carrying every duplicate), each pair is kept only in the
    FIRST bucket both spans cover — `date_trunc(bucket,
    greatest(start_l, start_r))` — which any overlapping pair shares
    exactly once.  Overlap length comes out in exact integer µs.

    Column names must be pre-disambiguated by the caller (the join
    has no shared key columns besides the internal bucket).

    Scale notes: shuffle is O(Σ span lengths in buckets) per side;
    bucket width tuned to median span length as in
    `interval_join_binned`.  Inclusive ends: touching spans
    (least_end == greatest_start) count as overlap 0 µs — filter
    `overlap_us > 0` downstream for strict intersection."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    step = F.expr(_BUCKET_STEP[bucket])

    def _explode(df, s, e):
        return df.where(F.col(e) >= F.col(s)).select(
            "*",
            F.explode(
                F.sequence(
                    F.date_trunc(bucket, F.col(s)),
                    F.date_trunc(bucket, F.col(e)),
                    step,
                )
            ).alias("_bucket"),
        )

    g_start = F.greatest(F.col(start_l), F.col(start_r))
    l_end = F.least(F.col(end_l), F.col(end_r))
    return (
        _explode(left, start_l, end_l)
        .join(_explode(right, start_r, end_r).withColumnRenamed(
            "_bucket", "_bucket_r"
        ), F.col("_bucket") == F.col("_bucket_r"))
        .where(
            (F.date_trunc(bucket, g_start) == F.col("_bucket"))
            & (l_end >= g_start)
        )
        .drop("_bucket", "_bucket_r")
        .withColumn("overlap_us", epoch_us(l_end) - epoch_us(g_start))
    )


def concurrency_levels(spans: DataFrame, shard: str = "day",
                       with_delta: bool = False) -> DataFrame:
    """Sweep-line concurrency: the number of spans active at each
    boundary instant (inclusive [start, end] — a span still counts AT
    its end microsecond).  The capacity question behind "how many
    conversations ran at once".

    Plan shape (the 100 TB point of this operator): a naive running
    sum is ONE unpartitioned window — the whole boundary stream sorts
    on a single task.  Instead:

    1. ±1 deltas at start / end+1µs, pre-summed per distinct
       microsecond (groupBy: engine-order-independent, so the running
       sum that follows is deterministic);
    2. running sum WITHIN each shard bucket (day) — |days| parallel
       window partitions;
    3. per-day net totals prefix-summed over the tiny |days|-row
       frame (the only single-partition window left, over days, not
       points) → carry-in level per day;
    4. level = carry_in + local running sum.

    The DuckDB oracle computes the plain GLOBAL running sum, so the
    correctness gate proves the telescoped two-level form is
    output-identical — same adjudication pattern as the day-sharded
    anomaly window.

    Output: one row per distinct boundary microsecond (ts, level).
    Hours/days with no boundary simply carry the previous level and
    emit nothing — consumers read it as a step function.
    `with_delta=True` also emits the net ±k change applied AT that
    instant, so consumers can recover the level *entering* any
    boundary as `level - delta` (max_concurrency needs that to seed
    each bucket with its carry-in level)."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    starts = spans.select(
        epoch_us(F.col("start_ts")).alias("ts_us"),
        F.lit(1).cast("long").alias("d"),
    )
    ends = spans.select(
        (epoch_us(F.col("end_ts")) + 1).alias("ts_us"),
        F.lit(-1).cast("long").alias("d"),
    )
    deltas = (
        starts.unionByName(ends)
        .groupBy("ts_us")
        .agg(F.sum("d").alias("delta"))
    )
    day = F.date_trunc(shard, F.timestamp_micros(F.col("ts_us")))
    d = deltas.withColumn("shard_ts", day)

    w_local = (
        Window.partitionBy("shard_ts")
        .orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("run", F.sum("delta").over(w_local))

    per_day = d.groupBy("shard_ts").agg(F.sum("delta").alias("net"))
    # |days| rows by construction — single-partition BY DESIGN; the
    # non-foldable zero keeps WindowExec from logging a misleading
    # "No Partition Defined" for a provably-bounded frame
    from timeseriescorrelation_spark.functions.timeutil import (
        const_partition,
    )

    w_days = (
        Window.partitionBy(const_partition("shard_ts"))
        .orderBy("shard_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = per_day.withColumn(
        "carry_in", F.sum("net").over(w_days) - F.col("net")
    ).select("shard_ts", "carry_in")

    cols = [
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        (F.col("carry_in") + F.col("run")).alias("level"),
    ]
    if with_delta:
        cols.append(F.col("delta"))
    return local.join(F.broadcast(carry), "shard_ts").select(*cols)


def max_concurrency(spans: DataFrame, trunc: str = "hour") -> DataFrame:
    """Max concurrent spans per bucket — concurrency_levels reduced to
    the per-hour peak.  The peak is seeded with the bucket's CARRY-IN
    level (the level entering the bucket = `level - delta` at the
    bucket's first boundary), so an hour containing only span-end
    boundaries still reports the true concurrent count at the top of
    the hour rather than the strictly-lower post-decrement levels.
    Only buckets containing a boundary appear; a bucket fully inside
    one flat stretch has no row, its level is the previous
    boundary's."""
    lv = concurrency_levels(spans, with_delta=True)
    return lv.groupBy(
        F.date_trunc(trunc, "ts").alias("bucket_ts")
    ).agg(
        F.greatest(
            F.max("level"), F.expr("min_by(level - delta, ts)")
        ).alias("peak"),
        F.count("*").alias("n_changes"),
    )


def interval_islands(spans: DataFrame, keys: list[str],
                     count_col: str | None = None) -> DataFrame:
    """Union coverage per key group via gaps-and-islands: merge
    overlapping/touching [start, end) spans into maximal islands and
    report per group

        (keys..., n_spans, n_islands, covered_us, longest_us)

    where covered_us is the length of the UNION of the spans (overlap
    counted once — what heartbeat-style "active time" actually means)
    and longest_us is the longest merged stretch.

    Island assignment is the running-max form: order spans by (start,
    end); a span starts a new island iff its start exceeds the max end
    of ALL previous spans (rowsBetween unboundedPreceding, -1), which
    — unlike comparing against lag(end) — is correct when a long span
    fully contains later short ones.  Two cumulative windows on the
    SAME (keys, start, end) sort → ONE shuffle + one in-partition
    sort, then two hash-aggs.  Touching spans (start == prev end)
    merge: [s, e) half-open semantics.

    Deterministic: islands depend only on the (start, end) multiset —
    ties in the sort order cannot change the running max (equal starts
    satisfy start <= runmax regardless of their relative order).

    Scale notes (100 TB): the only shuffle is keyed by the group
    columns; group sizes are per-entity span counts (bounded by
    per-user activity), so no global sort and no hot key beyond what
    salting already handles for pathological entities."""
    w_ord = Window.partitionBy(*keys).orderBy("s_us", "e_us")
    runmax = F.max("e_us").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    # count_col: when the input is PRE-MERGED spans (merge_spans),
    # n_spans still reports the raw count folded into them
    cnt = F.col(count_col) if count_col else F.lit(1)
    flagged = spans.select(
        *keys, "s_us", "e_us", cnt.alias("_c"),
        F.when(
            runmax.isNull() | (F.col("s_us") > runmax), F.lit(1)
        ).otherwise(F.lit(0)).alias("_new"),
    ).select(
        *keys, "s_us", "e_us", "_c",
        F.sum("_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_island"),
    )
    per_island = flagged.groupBy(*keys, "_island").agg(
        F.min("s_us").alias("_s0"),
        F.max("e_us").alias("_e1"),
        F.sum("_c").alias("_n"),
    )
    return per_island.groupBy(*keys).agg(
        F.sum("_n").cast("long").alias("n_spans"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("_e1") - F.col("_s0")).cast("long").alias("covered_us"),
        F.max(F.col("_e1") - F.col("_s0")).cast("long").alias("longest_us"),
    )


def merge_spans(spans: DataFrame, keys: list[str]) -> DataFrame:
    """Merge overlapping/touching spans per key group and RETURN the
    merged spans (keys..., s_us, e_us, n_merged) instead of
    interval_islands' aggregates — the composable half of the
    gaps-and-islands pair.  n_merged counts the spans folded into
    each island; interval_islands(count_col="n_merged") sums it over
    the merged spans, so a multi-level merge keeps the original span
    count.

    Union-merge is ASSOCIATIVE: merge per (day, user) first — cheap,
    embarrassingly parallel, shrinks bursty per-entity spans by the
    burst factor — then merge the survivors per day, and the result
    is identical to one global merge (fleet_coverage does exactly
    this; the two-level form also bounds the per-day hot-key group at
    |users|·islands instead of |raw spans|)."""
    w_ord = Window.partitionBy(*keys).orderBy("s_us", "e_us")
    runmax = F.max("e_us").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        *keys, "s_us", "e_us", F.lit(1).alias("_c"),
        F.when(
            runmax.isNull() | (F.col("s_us") > runmax), F.lit(1)
        ).otherwise(F.lit(0)).alias("_new"),
    ).select(
        *keys, "s_us", "e_us", "_c",
        F.sum("_new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_island"),
    )
    return flagged.groupBy(*keys, "_island").agg(
        F.min("s_us").alias("s_us"),
        F.max("e_us").alias("e_us"),
        F.sum("_c").cast("long").alias("n_merged"),
    ).drop("_island")


def sessions_capped(events: DataFrame, keys: list[str], gap_minutes: int = 30,
                    cap_hours: int = 24) -> DataFrame:
    """Web-analytics sessionization with BOTH standard rules: a new
    session opens after `gap_minutes` idle OR when `cap_hours` have
    elapsed since the current gap-session started (the GA 30-min/24-h
    convention; long-polling clients otherwise produce week-long
    sessions).  The cap splits at fixed offsets from the GAP-session
    start — floor(Δt/cap) is plain arithmetic, so the whole operator
    stays two cumulative windows + one hash-agg on ONE (keys, ts)
    sort, no iteration.

    Output: (keys..., session_start, session_end_ts, n_events,
    capped boolean — true for the 2nd+ slice of a split session).

    Scale notes: one shuffle keyed by the session keys; group size =
    per-entity event count.  Note the cap rule is slice-by-offset, not
    re-anchored at each split (re-anchoring is inherently sequential —
    the streaming sessionizer with a state timeout is the operator for
    that semantics)."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    gap_us = int(gap_minutes) * 60_000_000
    cap_us = int(cap_hours) * 3_600_000_000
    w = Window.partitionBy(*keys).orderBy("ts")
    ep = epoch_us(F.col("ts"))
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (ep - epoch_us(F.lag("ts").over(w)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    islanded = events.select(
        *keys, "ts",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_island"),
    )
    w_is = Window.partitionBy(*keys, "_island")
    sliced = islanded.select(
        *keys, "ts", "_island",
        F.floor(
            (ep - F.min(ep).over(w_is)) / F.lit(cap_us)
        ).alias("_slice"),
    )
    return sliced.groupBy(*keys, "_island", "_slice").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end_ts"),
        F.count(F.lit(1)).alias("n_events"),
        (F.first("_slice") > 0).alias("capped"),
    ).drop("_island", "_slice")


def pattern_matches(events: DataFrame, steps: list[str], keys: list[str],
                    tie_col: str = "event_id",
                    within_seconds: int = 3600) -> DataFrame:
    """CEP-lite ordered-pattern detection (MATCH_RECOGNIZE's
    SEQ(A, B, C) core): per key, emit one row for every NON-OVERLAPPING
    completion of `steps` in order within `within_seconds` of the
    match's first step.  Automaton contract (shared verbatim by the
    streaming twin, streaming/pattern_stream.py):

    - events process in (ts, tie_col) order; non-step events are
      ignored;
    - at stage k the automaton advances only on steps[k] (no skips,
      duplicates of earlier stages are ignored);
    - if an event arrives past the window (ts − t0 > within), the
      attempt resets — and that same event may open a NEW attempt if
      it is steps[0];
    - on completion the automaton resets (matches never share events).

    Output: (keys..., start_ts, end_ts, duration_s double).

    Scale notes: one shuffle to the keys, then ONE mapInPandas pass per
    partition over (keys, ts, tie)-sorted step events — the automaton
    state (current key, stage, t0) carries across Arrow batches inside
    the partition iterator, so cost is one Python invocation per
    PARTITION, not per key (the per-group applyInPandas form paid ~3 ms
    of pandas construction per entity, 5 s of pure overhead at 1 500
    keys).  Keys never straddle partitions (hash repartition), so the
    carry state is exact."""
    import pandas as pd

    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    step_list = [str(s) for s in steps]
    n_steps = len(step_list)
    win_us = int(within_seconds) * 1_000_000
    key_fields = ", ".join(f"{c} string" for c in keys)
    schema = (
        f"{key_fields}, start_ts timestamp, end_ts timestamp,"
        " duration_s double"
    )
    def _scan(batches):
        cur_key, stage, t0 = None, 0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_keys, out_s, out_e = [], [], []
            key_tup = list(zip(*(pdf[c] for c in keys)))
            types = pdf["event_type"].to_numpy()
            ords = pdf["_ord"].to_numpy()
            for k, ts_us, st in zip(key_tup, ords, types):
                if k != cur_key:
                    cur_key, stage = k, 0
                if stage > 0 and ts_us - t0 > win_us:
                    stage = 0
                if st == step_list[stage]:
                    if stage == 0:
                        t0 = ts_us
                    stage += 1
                    if stage == n_steps:
                        out_keys.append(k)
                        out_s.append(t0)
                        out_e.append(ts_us)
                        stage = 0
            out = pd.DataFrame(
                dict(zip(keys, zip(*out_keys)))
                if out_keys else {c: [] for c in keys}
            )
            out["start_ts"] = pd.Series(
                out_s, dtype="int64"
            ).astype("datetime64[us]")
            out["end_ts"] = pd.Series(
                out_e, dtype="int64"
            ).astype("datetime64[us]")
            out["duration_s"] = [
                (e - s) / 1e6 for s, e in zip(out_s, out_e)
            ]
            yield out[[*keys, "start_ts", "end_ts", "duration_s"]]

    pre = (
        events.where(F.col("event_type").isin(*step_list))
        .select(
            *keys, "event_type", tie_col,
            epoch_us(F.col("ts")).alias("_ord"),
        )
        .repartition(*keys)
        .sortWithinPartitions(*keys, "_ord", tie_col)
    )
    return pre.mapInPandas(_scan, schema)


_US_PER = {"hour": 3_600_000_000, "day": 86_400_000_000}


def clip_to_buckets(spans: DataFrame, bucket: str = "day") -> DataFrame:
    """Slice [start, end) µs spans at fixed bucket boundaries: each
    span explodes to one row per bucket it touches, with the piece
    clipped to that bucket —

        (input columns..., bucket_ts, s_us/e_us overwritten by the
         clipped piece)

    so downstream per-bucket aggregation (union coverage, time-weighted
    means) never double-counts a midnight-crossing span into the wrong
    day.  Everything is exact int64 µs arithmetic (floor-div for the
    bucket index, greatest/least for the clip) — no timestamp rounding,
    bit-identical across engines.  Zero-length spans (e == s) survive
    as one zero-length piece in their own bucket.

    Fixed-width epoch buckets (UTC), unlike interval_join_binned's
    calendar buckets: coverage math needs constant bucket lengths so
    `covered / bucket_len` is well-defined; the engine pins UTC.

    Scale notes (100 TB): output rows = Σ buckets-touched per span —
    for spans shorter than the bucket this is ~|spans|; no shuffle at
    all (explode is in-partition), the downstream agg pays the only
    one."""
    if bucket not in _US_PER:
        raise ValueError(f"bucket must be one of {sorted(_US_PER)}")
    us = _US_PER[bucket]
    b0 = F.floor(F.col("s_us") / us).cast("long")
    # e-1 so an end exactly on a boundary does not open an empty piece;
    # zero-length spans keep their own bucket
    b1 = F.floor(
        (F.greatest(F.col("e_us") - 1, F.col("s_us"))) / us
    ).cast("long")
    keep = [c for c in spans.columns if c not in ("s_us", "e_us")]
    return (
        spans.withColumn("_b", F.explode(F.sequence(b0, b1)))
        .select(
            *keep,
            F.timestamp_micros(F.col("_b") * us).alias("bucket_ts"),
            F.greatest(F.col("s_us"), F.col("_b") * us)
             .alias("s_us"),
            F.least(F.col("e_us"), (F.col("_b") + 1) * us)
             .alias("e_us"),
        )
    )


def allen_census(series: DataFrame, key: str = "metric",
                 min_hours: int = 8) -> DataFrame:
    """(metric_a, metric_b, n_hours, n_before, n_after, n_meets,
    n_equals, n_starts, n_finishes, n_during, n_overlaps): Allen
    interval-relation census between each metric pair's PER-HOUR
    activity micro-spans ([first event, last event] within each
    shared hour) — a temporal-precedence fingerprint: a pair that is
    mostly `before` leads/lags at sub-hour grain (xcorr_lagged sees
    only whole-hour shifts); mostly `during` means one metric's
    bursts sit inside the other's envelope.

    Pairing by the HOUR GRID — not by overlap — is what makes the
    full 13-relation algebra (incl. before/after) countable at scale:
    the pair space is |metrics|²·|hours| aggregates, never the
    quadratic all-overlapping-spans blowup.  Relations are decided on
    exact µs endpoints with a fixed precedence (equals, then
    before/after, then meets, then starts/finishes, then during,
    else overlaps), so degenerate single-event spans classify
    identically in both engines; inverse relations collapse onto the
    unordered pair except before/after, which keep direction (a
    before b ≠ b before a — that's the lead/lag signal).

    Scale: one hash-agg to the hourly span grid, one equi-join on
    hour, one hash-agg per pair."""
    spans = series.groupBy(
        key, F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    a = spans.select(
        F.col(key).alias("metric_a"), "hour_ts",
        F.col("s").alias("sa"), F.col("e").alias("ea"),
    )
    b = spans.select(
        F.col(key).alias("metric_b"), "hour_ts",
        F.col("s").alias("sb"), F.col("e").alias("eb"),
    )
    p = a.join(b, "hour_ts").where(F.col("metric_a") < F.col("metric_b"))
    sa, ea, sb, eb = (F.col(c) for c in ("sa", "ea", "sb", "eb"))
    rel = (
        F.when((sa == sb) & (ea == eb), "equals")
        .when(ea < sb, "before")
        .when(eb < sa, "after")
        .when((ea == sb) | (eb == sa), "meets")
        .when(sa == sb, "starts")
        .when(ea == eb, "finishes")
        .when(((sa > sb) & (ea < eb)) | ((sb > sa) & (eb < ea)),
              "during")
        .otherwise("overlaps")
    )
    g = p.select("metric_a", "metric_b", rel.alias("rel")).groupBy(
        "metric_a", "metric_b"
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        *[
            F.sum(F.when(F.col("rel") == r, 1).otherwise(0))
            .alias(f"n_{r}")
            for r in ("before", "after", "meets", "equals", "starts",
                      "finishes", "during", "overlaps")
        ],
    ).where(F.col("n_hours") >= min_hours)
    return g.select(
        "metric_a", "metric_b",
        F.col("n_hours").cast("long").alias("n_hours"),
        *[
            F.col(f"n_{r}").cast("long").alias(f"n_{r}")
            for r in ("before", "after", "meets", "equals", "starts",
                      "finishes", "during", "overlaps")
        ],
    )
