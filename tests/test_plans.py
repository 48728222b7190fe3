"""Physical-plan audits: the optimizations SURVEY §4 relies on must be
visible in the executed plan, not assumed — pushdown reaches the
parquet scan, dimension joins broadcast, the e-grid candidate join and
the LSH band join compile to equi-joins (never cartesian/BNLJ), and the
tier rollup shuffles exactly once.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as em  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _series(spark):
    """events.parquet in the series shape the tier folds read."""
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        "ts",
        F.col("event_id").cast("int").alias("turn_idx"),
        "value",
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(em.queries()["filter_range"](spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m and "EqualTo(event_type,click)" in m.group(1), plan
    # column pruning: props/event_type never read into the projection
    rs = re.search(r"ReadSchema: ([^\n]*)", plan).group(1)
    assert "props" not in rs


def test_projection_prunes_scan_columns(spark):
    plan = _plan(em.queries()["stats_per_user"](spark, SF))
    rs = re.search(r"ReadSchema: ([^\n]*)", plan).group(1)
    assert "user_id" in rs and "value" in rs
    assert "props" not in rs and "event_type" not in rs


def test_dimension_joins_broadcast(spark):
    plan = _plan(em.queries()["join_broadcast_rev"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_candidate_pair_join_is_equi(spark):
    """The e-grid self-join (J1) must be a hash/SMJ equi-join on the
    exploded cell ids — a cartesian or nested-loop plan here would be
    quadratic in series count at scale."""
    plan = _plan(em.queries()["corr_report"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join "
                     r"\[e0#\d+L?, e1#\d+L?\]", plan), plan


def test_lsh_band_join_is_equi(spark):
    plan = _plan(em.queries()["dedup_minhash_lsh"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_single_shuffle_and_codegen(spark):
    from timeseriescorrelation_spark.operators.rollup import rollup_interval

    for df in (em.queries()["rollup_1m"](spark, SF),
               rollup_interval(_series(spark))):
        plan = _plan(df)
        # partial agg -> ONE hash-partition exchange -> final agg
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "HashAggregate" in plan
        # struct min_by/max_by keys would silently degrade to
        # SortAggregate (struct buffers aren't hash-aggregable) — the
        # packed-long order key must keep the tier build hash-based
        assert "SortAggregate" not in plan, plan


def test_tier_cascade_reuses_lower_tier_grouping(spark):
    """1m -> 1h re-agg adds exactly one more shuffle (on the coarser
    keys); it must not re-read or re-shuffle raw rows twice."""
    plan = _plan(em.queries()["rollup_1h"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_fused_cascade_single_shuffle(spark):
    """repartition(conv_id) up front -> 1m+1h+1d aggregate with no
    further exchanges (hash(conv_id) satisfies every tier's clustered
    distribution)."""
    from pyspark.sql import functions as F

    from timeseriescorrelation_spark.operators.rollup import (
        rollup_cascade_fused,
    )

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        "ts",
        F.col("event_id").cast("int").alias("turn_idx"),
        "value",
    )
    t1d = rollup_cascade_fused(e, n_parts=8)["1d"]
    plan = _plan(t1d)
    assert plan.count("Exchange") == 1, plan
    # and the fused result equals the per-stage cascade (sum compared
    # rounded: double addition order differs across partitionings)
    from timeseriescorrelation_spark.operators.rollup import rollup_cascade

    def canon(rows):
        return sorted(
            (r.conv_id, r.metric, r.bucket_ts, r.cnt, round(r.sum, 6),
             r.min, r.max, r.first, r.last)
            for r in rows
        )

    assert canon(t1d.collect()) == canon(rollup_cascade(e)["1d"].collect())


def test_anti_join_not_cartesian(spark):
    plan = _plan(em.queries()["anti_join_inactive"](spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_partitioned_tier(spark, tmp_path):
    """Tier tables written partitionBy(metric) must prune at the scan:
    a metric-filtered read shows the predicate under PartitionFilters
    (directory-level skip), not as a post-scan Filter over all files —
    at 100 TB this is the difference between reading one metric's
    directories and reading everything."""
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        "ts",
        F.col("event_id").cast("int").alias("turn_idx"),
        "value",
    )
    from timeseriescorrelation_spark.operators.rollup import rollup_raw

    out = str(tmp_path / "t1m")
    rollup_raw(e, "1m").write.partitionBy("metric").parquet(out)
    plan = _plan(
        spark.read.parquet(out).where(F.col("metric") == "click")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "metric" in m.group(1), plan


def test_interval_join_is_equi(spark):
    """The binned interval join must compile to a hash/SMJ equi-join on
    (key, bucket) — a raw ts-between-range join plans as
    BroadcastNestedLoopJoin and is quadratic at scale."""
    plan = _plan(em.queries()["event_sessions"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sample_filter_no_shuffle(spark):
    """Deterministic hash sampling is a pure filter: the plan must have
    no Exchange at all (at 100 TB a sample must not shuffle)."""
    plan = _plan(em.queries()["sample_hash"](spark, SF))
    assert "Exchange" not in plan, plan


def test_exact_corr_broadcast_guard(spark, monkeypatch):
    """exact_corr auto-sizing: small vectors tables broadcast the probe
    sides; above BROADCAST_MAX_ELEMENTS the plan must fall back to a
    shuffle join (broadcasting a cluster-scale vectors table would OOM
    the driver at 100x)."""
    from timeseriescorrelation_spark.operators import correlation as C

    aligned = em._aligned_from_events(spark, SF)
    vectors = C.dft_sketch(C.build_vectors(aligned)).cache()
    cand = C.candidate_pairs(vectors, 0.5)

    small = _plan(C.exact_corr(cand, vectors, 0.5))
    assert "BroadcastHashJoin" in small, small

    # Disable size-based auto-broadcast so the plan reflects the guard's
    # decision alone (at real scale the stats would be huge anyway; the
    # test table is tiny, so Catalyst would otherwise re-broadcast it).
    monkeypatch.setattr(C, "BROADCAST_MAX_ELEMENTS", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = _plan(C.exact_corr(cand, vectors, 0.5))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in big, big
    assert re.search(r"(SortMerge|ShuffledHash)Join", big), big
    vectors.unpersist()


@pytest.mark.parametrize("qname", ["locf_1h", "interp_1h"])
def test_gapfill_single_window_shuffle(spark, qname):
    """Gap-fill = union + ONE window pass: exactly one exchange on the
    (conv_id, metric) window keys plus the two grid/obs agg exchanges;
    no join between grid and observations."""
    plan = _plan(em.queries()[qname](spark, SF))
    assert "Join" not in plan or "SortMergeJoin" not in plan, plan
    assert "Window" in plan


def test_m4_partial_agg_before_shuffle(spark):
    """M4's struct-ordered extremes force SortAggregate (deliberate —
    see m4_downsample docstring), but the scale property that matters
    must hold: map-side PARTIAL aggregation before a single exchange,
    so shuffle volume stays ~|buckets|, not |points|."""
    plan = _plan(em.queries()["m4_1h"](spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "partial_min_by" in plan, plan  # partial agg below the shuffle
    assert "Join" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast; the corpus side must
    never be exchanged for the join itself."""
    plan = _plan(em.queries()["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_anomaly_single_window_pass(spark):
    """Anomaly scoring = ONE partitioned range-frame window (no
    self-join, no unpartitioned window)."""
    plan = _plan(em.queries()["anomaly_1h"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1, plan
    assert "No Partition Defined" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_timeweight_single_shuffle(spark):
    """Time-integral aggregates: the lead() window shuffles on the
    series key, and the following groupBy's keys are a SUPERSET of the
    window partition keys — its ClusteredDistribution is already
    satisfied, so the whole operator is ONE exchange and no join."""
    for q in ("twa_1h", "heartbeat_day", "state_durations"):
        plan = _plan(em.queries()[q](spark, SF))
        assert "Join" not in plan, (q, plan)
        assert plan.count("Exchange") == 1, (q, plan)
        assert "No Partition Defined" not in plan, (q, plan)


def test_hll_partial_agg_before_shuffle(spark):
    """HLL sketch agg must combine map-side: shuffle volume is
    |groups|*m register rows, never |input| rows."""
    plan = _plan(em.queries()["hll_distinct_day"](spark, SF))
    assert "partial_max" in plan, plan


def test_cusum_single_shuffle(spark):
    """CUSUM: per-series totals window + ordered prefix windows share
    one partitioning — the whole operator is a single exchange, no
    join, and stays HashAggregate-free (pure windows)."""
    plan = _plan(em.queries()["cusum_alerts"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_rolling_corr_single_shuffle(spark):
    """Windowed Pearson: the 1m pre-aggregation and the range-frame
    moment windows group on the same series keys — one exchange for
    the agg, the window reuses its clustering."""
    plan = _plan(em.queries()["rolling_corr_1h"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_hdr_sketch_partial_agg_and_hash(spark):
    """HDR quantile sketch: bucket counts must partial-combine map-side
    (shuffle ≤ |groups|·n_buckets) and stay in HashAggregate — a
    SortAggregate here would mean a non-hashable agg buffer snuck in."""
    plan = _plan(em.queries()["hdr_quantiles_day"](spark, SF))
    assert "partial_count" in plan, plan


def test_tier_merge_single_shuffle_per_side(spark):
    """Upsert merge: two upsertable partials + the merge re-agg; the
    merge groupBy re-shuffles the union once — and everything stays
    HashAggregate (packed long fkey/lkey, no struct buffers).  The
    streaming cascade's 1h and 1d partials carry the same keys."""
    from timeseriescorrelation_spark.operators.rollup import rollup_raw
    from timeseriescorrelation_spark.streaming.cascade_stream import (
        partials_1d_from_1h,
        partials_1h_from_1m,
    )

    p1h = partials_1h_from_1m(rollup_raw(_series(spark), "1m"))
    for df in (em.queries()["tier_upsert_1h"](spark, SF), p1h,
               partials_1d_from_1h(p1h)):
        plan = _plan(df)
        assert "SortAggregate" not in plan, plan
        assert "Join" not in plan, plan


def test_bloom_probe_broadcasts_filter(spark):
    """Bloom membership: the filter side is ≤ m rows and must
    broadcast — a shuffle join on bit positions would defeat the
    constant-size design."""
    plan = _plan(em.queries()["bloom_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_changepoint_single_exchange_shared_sort(spark):
    """changepoint_daily: one shuffle on (metric, day); all three
    window passes and the final aggregation reuse that sort — no
    second Exchange, no cartesian."""
    plan = _plan(em.queries()["changepoint_daily"](spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan


def test_ks_drift_windows_partitioned(spark):
    """ks_drift: the ECDF windows must be partitioned by (metric,
    day) — a global-sort window here would serialize the corpus."""
    plan = _plan(em.queries()["ks_drift"](spark, SF))
    assert "CartesianProduct" not in plan
    # every Window node carries a partition spec (never 'Window [..], []')
    for m in re.finditer(r"Window \[[^\n]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), plan


def test_corr_matrix_pairs_after_aggregation(spark):
    """corr_matrix_daily: the metric-pair join must consume the HOURLY
    AGGREGATE on both sides (aggregate-first discipline) — the plan
    shows hash aggregation below the join, and the join is equi on
    hour_ts, never cartesian."""
    plan = _plan(em.queries()["corr_matrix_daily"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"),
                    plan.find("BroadcastHashJoin")) if p >= 0
    )
    assert "HashAggregate" in plan[join_pos:], plan


def test_benford_digit_grid_broadcasts(spark):
    """benford: the 9-row digit dimension must broadcast; the grand
    total join stays broadcast too — no shuffle keyed on a 9-row
    table."""
    plan = _plan(em.queries()["benford"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hybrid_fusion_is_takeordered(spark):
    """hybrid_search: the fused top-k must be TakeOrderedAndProject
    (per-partition heaps), never a global Sort+Limit."""
    plan = _plan(em.queries()["hybrid_search"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_pattern_matches_single_shuffle_no_groupmap(spark):
    """The CEP scan must be ONE hash repartition + one mapInPandas
    pass — never groupBy().applyInPandas (FlatMapGroupsInPandas),
    whose per-key pandas construction cost 5 s of overhead at 1 500
    keys (round-3b measurement)."""
    plan = _plan(em.queries()["pattern_matches"](spark, SF))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan


def test_adamic_adar_wedge_join_is_hash_not_smj(spark):
    """The wedge self-join must be a (shuffled) hash join: sort-merge
    on the duplicate-heavy center key buffers each key group
    quadratically during the merge (7.2 s vs 2.9 s at sf0.1), and the
    weight dimension must be folded in BEFORE the wedge join (exactly
    one broadcast join, none after the wedge output)."""
    plan = _plan(em.queries()["adamic_adar"](spark, SF))
    assert "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_croston_grid_agg_before_python(spark):
    """Croston's Python pass must see the metadata-sized hourly grid,
    not raw rows: the hash aggregation runs BEFORE the MapInPandas
    node in the plan tree (partial agg on raw rows, then the smoother
    over |keys|x|hours|)."""
    plan = _plan(em.queries()["croston"](spark, SF))
    assert "MapInPandas" in plan
    # the aggregate must appear deeper in the tree (later in the
    # printed plan string) than the python node
    assert plan.index("MapInPandas") < plan.index("HashAggregate"), plan


def test_bh_fdr_windows_partitioned_by_family(spark):
    """Every BH window must be partitioned by the metric family — an
    unpartitioned rank over all tests would drag the whole table to
    one task at fleet scale."""
    plan = _plan(em.queries()["fdr_anomalies"](spark, SF))
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "metric" in m.group(1), plan


def test_brown_forsythe_hash_agg_no_raw_window(spark):
    """The median window must run over the per-(metric, group) DAY
    grid (aggregate-sized), never raw rows, and the group stats stay
    HashAggregate (no struct-key SortAggregate degradation)."""
    plan = _plan(em.queries()["brown_forsythe"](spark, SF))
    assert "SortAggregate" not in plan, plan
    # the window sorts (m, g)-partitioned day rows; raw-scan windows
    # would partition by conv/user columns instead
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "m#" in m.group(1) and "g#" in m.group(1), plan


def test_chi2_cells_broadcasts_margins_and_global(spark):
    """All three margin/global joins must broadcast (grid is
    |metrics| x 7); a shuffle join on the cell grid would be waste.
    The complete-grid join may not degrade to cartesian over data."""
    plan = _plan(em.queries()["chi2_cells"](spark, SF))
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_jarque_bera_single_shuffle_to_day_grid(spark):
    """One hash-agg from raw to the (metric, day) grid, then every
    later stage is calendar-bounded: exactly the grid agg plus the
    final per-metric agg may shuffle; the lag window rides the
    grid's partitioning."""
    plan = _plan(em.queries()["jarque_bera"](spark, SF))
    assert "SortAggregate" not in plan, plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 3, plan


def test_durbin_watson_agg_join_broadcasts(spark):
    """The per-metric moment row joins back to the day grid via
    broadcast (|metrics| rows) — never a shuffle of the grid."""
    plan = _plan(em.queries()["durbin_watson"](spark, SF))
    assert "BroadcastExchange" in plan, plan
    assert "SortAggregate" not in plan, plan


def test_fdr_pettitt_lint_clean_no_global_window(spark):
    """bh_adjust computes rank and the reverse running min as
    broadcast theta-joins over the aggregate-sized family — the plan
    must pass the repo scalability lint (Catalyst folds literal
    partition keys, so a window form would land in the banned
    partition-less-ordered-Window shape)."""
    from timeseriescorrelation_spark.plans.audit import audit_plan

    df = em.queries()["fdr_pettitt"](spark, SF)
    assert audit_plan(df) == []
