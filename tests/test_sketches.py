"""HLL sketches: merge must equal sketch-of-union (the property that
makes tiered distinct counts composable), and estimates must land
within the theoretical error bounds on known cardinalities.  Exact
cross-engine replication of the estimate is covered by the oracle
gate (`hll_distinct_day`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_sketch,
)


def _items(spark, names, grp):
    return spark.createDataFrame(
        [(grp, n) for n in names], "g string, item string"
    )


def test_merge_equals_sketch_of_union(spark):
    a = _items(spark, [f"x{i}" for i in range(500)], "a")
    b = _items(spark, [f"x{i}" for i in range(300, 900)], "b")
    # per-part sketches keyed by g, merged with g dropped
    parts = hll_sketch(a.unionAll(b), ["g"], "item")
    merged = {
        (r["reg"],): r["rho"]
        for r in hll_merge(parts.drop("g").withColumn("k", F.lit(1)),
                           ["k"]).collect()
    }
    direct = {
        (r["reg"],): r["rho"]
        for r in hll_sketch(
            a.unionAll(b).select("item").distinct().withColumn(
                "k", F.lit(1)
            ),
            ["k"], "item",
        ).collect()
    }
    assert merged == direct


def test_estimate_within_bounds(spark):
    # m=1024 -> stderr ~3.25%; 2000 distinct items should estimate
    # within 4 sigma (13%)
    df = _items(spark, [f"item-{i}" for i in range(2000)], "g")
    est = hll_estimate(hll_sketch(df, ["g"], "item"), ["g"]).collect()
    assert len(est) == 1
    assert abs(est[0]["hll_est"] - 2000) / 2000 < 0.13


def test_small_range_linear_counting(spark):
    # tiny cardinalities take the linear-counting branch, which is
    # near-exact when most registers are empty
    df = _items(spark, [f"u{i}" for i in range(40)], "g")
    est = hll_estimate(hll_sketch(df, ["g"], "item"), ["g"]).collect()
    assert abs(est[0]["hll_est"] - 40) < 5


def test_hdr_merge_equals_sketch_of_union(spark):
    from timeseriescorrelation_spark.operators.sketches import (
        hdr_merge,
        hdr_sketch,
    )

    rows = [("a" if i % 2 else "b", (i % 997) * 0.37 + 0.01)
            for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, value double")
    parts = hdr_sketch(df, ["g"])
    merged = {
        r["idx"]: r["cnt"]
        for r in hdr_merge(
            parts.drop("g").withColumn("k", F.lit(1)), ["k"]
        ).collect()
    }
    direct = {
        r["idx"]: r["cnt"]
        for r in hdr_sketch(
            df.withColumn("k", F.lit(1)), ["k"]
        ).collect()
    }
    assert merged == direct


def test_hdr_quantile_relative_error_bound(spark):
    """Estimates from merged sketches stay within the 2^-(s+1) bucket
    bound of the exact nearest-rank value (s=5 -> 1.5625% + quantize
    slack)."""
    import numpy as np

    from timeseriescorrelation_spark.operators.sketches import (
        hdr_quantiles,
        hdr_sketch,
    )

    vals = [((i * 7919) % 100000) / 100.0 + 0.01 for i in range(5000)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, value double"
    )
    got = {
        r["q_name"]: r["est"]
        for r in hdr_quantiles(hdr_sketch(df, ["g"]),
                               ["g"]).collect()
    }
    cents = np.sort(np.maximum(np.round(np.array(vals) * 100), 1))
    n = len(cents)
    for name, num, den in [("p50", 1, 2), ("p95", 19, 20),
                           ("p99", 99, 100)]:
        r = -(-num * n // den)  # ceil
        exact = cents[r - 1] / 100.0
        assert abs(got[name] - exact) / exact < 0.017, (name, got, exact)


def test_hdr_small_values_exact(spark):
    """Values below 2^(s+1) cents sit in unit-width buckets — the
    estimate IS the exact value."""
    from timeseriescorrelation_spark.operators.sketches import (
        hdr_quantiles,
        hdr_sketch,
    )

    vals = [0.01 * i for i in range(1, 64)]  # 1..63 cents
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, value double"
    )
    got = {
        r["q_name"]: r["est"]
        for r in hdr_quantiles(hdr_sketch(df, ["g"]),
                               ["g"]).collect()
    }
    assert got["p50"] == 0.32  # rank ceil(63/2)=32 -> 32 cents
    assert got["p99"] == 0.63


def test_bloom_no_false_negatives(spark):
    from timeseriescorrelation_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame(
        [(f"in-{i}",) for i in range(2000)], "item string"
    )
    others = spark.createDataFrame(
        [(f"out-{i}",) for i in range(2000)], "item string"
    )
    bloom = bloom_build(members, "item")
    hit_in = bloom_probe(members, bloom, "item").collect()
    assert all(r["maybe_member"] for r in hit_in)  # zero false negatives
    fp = sum(
        r["maybe_member"]
        for r in bloom_probe(others, bloom, "item").collect()
    )
    # m=65536, k=3, n=2000 -> fpr ~ (1-e^{-kn/m})^3 ~ 6e-4
    assert fp <= 10


def test_duplicates_do_not_inflate(spark):
    # 100 distinct items repeated 50x each: same sketch as one copy
    rows = [("g", f"d{i % 100}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, item string")
    one = spark.createDataFrame(
        [("g", f"d{i}") for i in range(100)], "g string, item string"
    )
    s_dup = {(r["reg"],): r["rho"]
             for r in hll_sketch(df, ["g"], "item").collect()}
    s_one = {(r["reg"],): r["rho"]
             for r in hll_sketch(one, ["g"], "item").collect()}
    assert s_dup == s_one


def test_hll_overlap_identical_and_disjoint(spark):
    from timeseriescorrelation_spark.operators.sketches import hll_overlap

    rows = (
        [("A", f"u{i}") for i in range(500)]        # A = u0..u499
        + [("B", f"u{i}") for i in range(500)]      # B identical to A
        + [("C", f"v{i}") for i in range(500)]      # C disjoint
    )
    df = spark.createDataFrame(rows, "seg string, item string")
    got = {(r.seg_a, r.seg_b): r for r in
           hll_overlap(df, "seg", "item").collect()}
    ab = got[("A", "B")]
    # identical segments: union == each side, overlap == cardinality
    assert ab.est_union == ab.est_a == ab.est_b
    assert abs(ab.overlap_est - 500) / 500 < 0.15   # HLL b=10 rel-err
    ac = got[("A", "C")]
    # disjoint: overlap small relative to the sets (3x compounded err)
    assert ac.overlap_est < 150
    assert abs(ac.est_union - 1000) / 1000 < 0.15


def test_bitmap_retention_equals_row_level_sets(spark):
    """Word-packed retention is EXACT: equals the row-level distinct
    set intersection/difference on a hand-built two-day overlap,
    including ids straddling word boundaries (31/32) and id 0."""
    import datetime as dt

    from timeseriescorrelation_spark.operators.sketches import (
        bitmap_retention,
    )

    d1, d2 = dt.datetime(2024, 5, 1, 9), dt.datetime(2024, 5, 2, 9)
    day1 = [0, 1, 31, 32, 33, 64, 100]
    day2 = [1, 31, 32, 65, 100, 200]
    rows = [(u, d1) for u in day1] + [(u, d2) for u in day2]
    # duplicates within a day must not double-count
    rows += [(1, d1.replace(hour=12)), (200, d2.replace(hour=15))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = bitmap_retention(df).collect()
    assert len(out) == 1
    r = out[0]
    s1, s2 = set(day1), set(day2)
    assert r.active == len(s2)
    assert r.active_prev == len(s1)
    assert r.retained == len(s1 & s2)
    assert r.new_actors == len(s2 - s1)
    assert r.churned == len(s1 - s2)
