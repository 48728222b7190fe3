"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: full rollup cascade on sf0.001 events → 1h tier.
queries()    — every `q_<key>` builder below, keyed by <key> (SURVEY.md §2).
oracle_sql() — DuckDB-equivalent ANSI SQL per query key.

Events table is the stand-in transcript stream for the driver harness
(FIXTURES.md §5): user_id↔conv_id, event_type↔metric, value↔metric value,
event_id↔turn_idx (unique, so composite tie-breaks are exercised while
staying arg_min/arg_max-expressible in DuckDB).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from timeseriescorrelation_spark.functions.exact import (  # noqa: E402
    SCALE,
    VALUE_DECIMALS,
    bucket_cents,
    snap,
)
from timeseriescorrelation_spark.operators.correlation import (  # noqa: E402
    build_vectors,
    candidate_pairs,
    dft_sketch,
    exact_corr,
)
from timeseriescorrelation_spark.operators.gapfill import (  # noqa: E402
    fill_interpolate,
    fill_locf,
)
from timeseriescorrelation_spark.operators.rollup import (  # noqa: E402
    rollup_cascade,
    rollup_raw,
    rollup_tier,
    tier_summary,
)
from timeseriescorrelation_spark.operators.dedup import (  # noqa: E402
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from timeseriescorrelation_spark.operators.multimodal import (  # noqa: E402
    attach_payload,
    decode_metadata,
    frame_sample,
)
from timeseriescorrelation_spark.operators.series import derive_series  # noqa: E402
from timeseriescorrelation_spark.operators.similarity import (  # noqa: E402
    ann_topk_bruteforce,
    ann_topk_ivf,
)
from timeseriescorrelation_spark.operators.textstats import (  # noqa: E402
    doc_fingerprints_vocab,
    langid_heuristic,
    text_stats,
)
from timeseriescorrelation_spark.session import cache_once  # noqa: E402


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _series_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → canonical series shape (conv_id, metric, ts, turn_idx, value)."""
    return _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("metric"),
        F.col("ts"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("value"),
    )


def _tier_out():
    # built lazily: Column construction needs an active SparkContext
    return [
        "conv_id",
        "metric",
        "bucket_ts",
        "cnt",
        F.round("sum", 6).alias("sum_v"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
        F.col("first").alias("first_v"),
        F.col("last").alias("last_v"),
    ]

_TIER_ORACLE = """
SELECT cast(user_id AS varchar) AS conv_id,
       event_type AS metric,
       date_trunc('{trunc}', ts) AS bucket_ts,
       count(value) AS cnt,
       round(sum(value), 6) AS sum_v,
       min(value) AS min_v,
       max(value) AS max_v,
       arg_min(value, ts) AS first_v,
       arg_max(value, ts) AS last_v
FROM events
GROUP BY 1, 2, 3
"""


def q_rollup_1m(spark, sf_dir):
    return rollup_raw(_series_from_events(spark, sf_dir), "1m").select(*_tier_out())


def q_rollup_1h(spark, sf_dir):
    t1m = rollup_raw(_series_from_events(spark, sf_dir), "1m")
    return rollup_tier(t1m, "1h").select(*_tier_out())


def q_rollup_1d(spark, sf_dir):
    t = rollup_cascade(_series_from_events(spark, sf_dir))
    return t["1d"].select(*_tier_out())


def q_rollup_5m(spark, sf_dir):
    """Arbitrary-interval tier (window(), not date_trunc) — matches
    DuckDB time_bucket(INTERVAL 5 MINUTE, ts)."""
    from timeseriescorrelation_spark.operators.rollup import rollup_interval

    return rollup_interval(
        _series_from_events(spark, sf_dir), "5 minutes", 300
    ).select(*_tier_out())


def q_locf_1h(spark, sf_dir):
    s = _series_from_events(spark, sf_dir).withColumn("metric", F.lit("value"))
    return fill_locf(s, "1h").select("conv_id", "grid_ts", "value", "filled")


def q_stats_per_user(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("value").alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_v"),
            F.round(F.avg("value"), 6).alias("avg_v"),
            F.round(F.stddev_pop("value"), 6).alias("std_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


def q_lag_delta(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _events(spark, sf_dir)
    return e.select(
        "user_id",
        "event_id",
        F.round(
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            )
            / F.lit(1e6),
            6,
        ).alias("delta_s"),
    ).where(F.col("delta_s").isNotNull())


def q_topk_per_user(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


def q_filter_range(spark, sf_dir):
    e = _events(spark, sf_dir)
    return e.where(
        (F.col("event_type") == "click")
        & F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
        & (F.col("value") >= 10.0)
    ).select("event_id", "user_id", "ts", "value")


def q_distinct_users(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
    )


def q_rollup_summary_1d(spark, sf_dir):
    t1d = rollup_cascade(_series_from_events(spark, sf_dir))["1d"]
    return tier_summary(t1d).select(
        "metric", "n_buckets", "points", F.round("total", 4).alias("total")
    )


def q_interp_1h(spark, sf_dir):
    s = _series_from_events(spark, sf_dir).withColumn("metric", F.lit("value"))
    # no rounding: both engines evaluate the identical IEEE expression
    # (prev + (next-prev)*(t-pt)/(nt-pt)) on exactly-representable
    # microsecond epochs, so the raw doubles are bit-equal; round() is
    # the only thing that can disagree (half-up vs multiply-based).
    return fill_interpolate(s, "1h").select(
        "conv_id", "grid_ts", "value", "filled"
    )


def q_locf_bounded_1h(spark, sf_dir):
    """Segment-bounded LOCF (max 6 hourly steps) — the scale path that
    avoids unbounded grid amplification on dormant series."""
    s = _series_from_events(spark, sf_dir).withColumn("metric", F.lit("value"))
    return fill_locf(s, "1h", max_gap_steps=6).select(
        "conv_id", "grid_ts", "value", "filled"
    )


def q_series_metrics(spark, sf_dir):
    """derive_series over a transcripts view built deterministically from
    events (conv_id=user_id, turn order by (ts, event_id))."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(
            F.col("event_type"),
            F.expr("repeat(' tok', cast(pmod(event_id, 5) as int))"),
        ).alias("text"),
        F.when(F.col("event_type") == "error", F.lit("bash")).alias("tool"),
        F.col("ts"),
    )
    return derive_series(t).select(
        "conv_id", "metric", "ts", "turn_idx",
        F.round("value", 6).alias("value"),
    )


_CORR_THETA = 0.5
_CORR_M = 32


def _aligned_from_events(spark, sf_dir):
    """Hourly-avg series per user, first m buckets since each user's
    first event; only users with >= m buckets (relative-time alignment)."""
    from pyspark.sql import Window

    h = (
        _events(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("b"))
        .agg(F.avg("value").alias("v"))
    )
    wrn = Window.partitionBy("user_id").orderBy("b")
    wcnt = Window.partitionBy("user_id")
    r = h.select(
        F.col("user_id").cast("string").alias("series_id"),
        F.row_number().over(wrn).alias("rn"),
        F.count("*").over(wcnt).alias("n"),
        "v",
    ).where((F.col("rn") <= _CORR_M) & (F.col("n") >= _CORR_M))
    return r.select(
        "series_id",
        F.timestamp_seconds(F.lit(946684800) + F.col("rn") * 60).alias("grid_ts"),
        F.col("v").alias("value"),
    )


def q_corr_report(spark, sf_dir):
    """Full tiered correlation operator (sketch -> e-grid prune -> exact
    Pearson); the DuckDB oracle is the naive all-pairs corr at theta —
    equality IS the pruning-soundness guarantee."""
    aligned = _aligned_from_events(spark, sf_dir)
    # cache: the vectors lineage (two windows + collect_list over the
    # hourly prep) feeds both self-join sides of the candidate join AND
    # both probe sides of the exact-corr join — uncached it recomputes
    # ~5x (measured 6.3s -> ~2s at sf0.1)
    vectors = cache_once(dft_sketch(build_vectors(aligned)))
    cand = candidate_pairs(vectors, _CORR_THETA)
    rep = exact_corr(cand, vectors, _CORR_THETA)
    return rep.select("id_a", "id_b", F.round("rho", 6).alias("rho"))


def q_spearman_pruned(spark, sf_dir):
    """PRUNED Spearman (round-3 headline replacement for the all-pairs
    spearman_pairs): rank-transform the aligned series, then run the
    SAME tiered pipeline as corr_report — Spearman ρ(x,y) is Pearson
    ρ(rank(x), rank(y)), so the ε-grid sketch prune's no-false-negative
    guarantee carries over verbatim.  The DuckDB oracle is the naive
    all-pairs rank correlation at θ; equality IS the soundness proof.
    All-pairs spearman_hourly_pairs stays available as the bounded-n
    verification tool (the mann_kendall policy)."""
    from timeseriescorrelation_spark.operators.correlation import (
        rank_transform,
    )

    aligned = rank_transform(_aligned_from_events(spark, sf_dir))
    vectors = cache_once(dft_sketch(build_vectors(aligned)))
    cand = candidate_pairs(vectors, _CORR_THETA)
    rep = exact_corr(cand, vectors, _CORR_THETA)
    return rep.select("id_a", "id_b", F.round("rho", 6).alias("rho_s"))


def q_corr_pairs_hourly(spark, sf_dir):
    """Exact pairwise Pearson over co-occurring hourly buckets (J2+A4).

    NOT F.corr: Spark 4's ANSI-mode corr() THROWS DIVIDE_BY_ZERO when
    either side has zero variance in the group (first seen at sf0.1 —
    a constant-valued pair exists there but not at the gate SFs).
    Pearson is computed as covar_pop/(σx·σy) behind a F.when guard
    (CaseWhen evaluates lazily, so the division never runs on the
    zero-variance groups), which is NULL-on-constant — exactly DuckDB
    corr()'s semantics."""
    h = (
        _events(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("b"))
        .agg(F.avg("value").alias("v"))
    )
    a = h.select(
        F.col("user_id").alias("ua"), F.col("b"), F.col("v").alias("va")
    )
    b = h.select(
        F.col("user_id").alias("ub"), F.col("b"), F.col("v").alias("vb")
    )
    g = (
        a.join(b, "b")
        .where(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(
            F.covar_pop("va", "vb").alias("cov"),
            F.stddev_pop("va").alias("sa"),
            F.stddev_pop("vb").alias("sb"),
            F.count("*").alias("n"),
        )
    )
    c = F.when(
        (F.col("sa") > 0) & (F.col("sb") > 0),
        F.col("cov") / (F.col("sa") * F.col("sb")),
    )
    return (
        g.select("ua", "ub", c.alias("c"), "n")
        .where((F.col("n") >= 12) & F.col("c").isNotNull())
        .select("ua", "ub", F.round("c", 6).alias("rho"), "n")
    )


def q_join_broadcast_rev(spark, sf_dir):
    """Revenue per nation: fact joined to two broadcast dims (J3)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_anti_join_inactive(spark, sf_dir):
    """Customers with no orders — the manifest-resume anti-join shape (J6)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        F.col("o_orderdate") >= "2000-01-01"
    )
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_set_ops_users(spark, sf_dir):
    """(click users UNION view users) EXCEPT error users (SURVEY §2.7)."""
    e = _events(spark, sf_dir)
    u = lambda t: e.where(F.col("event_type") == t).select(  # noqa: E731
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    return u("click").union(u("view")).distinct().exceptAll(u("error").distinct())


def q_props_extract(spark, sf_dir):
    """JSON-ish payload extraction + conditional agg (SURVEY §2.8 Map/JSON)."""
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return (
        _events(spark, sf_dir)
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("k_hi"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# ---------------------------------------------------------------------------
# Session-scoped candidate-graph cache (round-3 verdict task #3): the
# cluster/graph queries — dedup_clusters, dedup_canonical,
# dedup_triangles, dedup_editdist, emb_clusters, cluster_terms,
# corr_clusters — each used to REBUILD their pair graph per query
# (~20 s combined of the round-3 bench).  The R222 build-once/
# probe-many policy applied to graphs: the first query to touch a
# graph pays one localCheckpointed materialization (lineage truncated,
# partitions pinned executor-side); every later query in the same
# Spark application reads the materialized edges/labels.  Keyed by
# (applicationId, sf_dir, kind), so the driver gate's separate
# sessions and sf dirs never cross-contaminate, and results are
# byte-identical to the unshared builds (same plan, evaluated once).
_GRAPH_CACHE: dict = {}


def _graph_once(spark, sf_dir, kind, builder):
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _GRAPH_CACHE.get(key)
    if df is None:
        df = builder()
        # builders that end in their own localCheckpoint (the star-CC
        # loop) hand back an already-pinned plan; re-marking it makes
        # the CacheManager log "already cached" WARNs (r4 verdict
        # hygiene item) — checkpoint only unpinned plans
        sl = df.storageLevel
        if not (sl.useMemory or sl.useDisk):
            df = df.localCheckpoint(eager=True)
        _GRAPH_CACHE[key] = df
    return df


def clear_graph_cache() -> None:
    """Release every session-cached graph (localCheckpoint blocks are
    non-reliable storage pinned for the application lifetime — r4
    advice: gate/bench runners call this per run so stale (sf_dir,
    kind) entries stop holding executor memory, and a later run
    rebuilds rather than reading blocks a lost executor dropped)."""
    for df in _GRAPH_CACHE.values():
        try:
            df.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped — blocks died with it
    _GRAPH_CACHE.clear()


def _jaccard_edges(spark, sf_dir):
    """τ-Jaccard near-dup edge set over documents (3-gram, τ = 0.2)."""
    def build():
        p = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, min_inter=2)
        return p.where(F.col("inter_n") * 5 >= F.col("union_n"))

    return _graph_once(spark, sf_dir, "jaccard_edges", build)


def _jaccard_cc(spark, sf_dir):
    """Connected-component labels of the τ-Jaccard graph."""
    from timeseriescorrelation_spark.operators.dedup import (
        connected_components_star,
    )

    return _graph_once(
        spark, sf_dir, "jaccard_cc",
        lambda: connected_components_star(_jaccard_edges(spark, sf_dir)),
    )


def _cosine_cc(spark, sf_dir):
    """Connected-component labels of the cosine ≥ 0.35 embedding graph."""
    from timeseriescorrelation_spark.operators.dedup import (
        connected_components_star,
    )
    from timeseriescorrelation_spark.operators.similarity import (
        cosine_neardup_pairs_blocked,
    )

    return _graph_once(
        spark, sf_dir, "cosine_cc",
        lambda: connected_components_star(
            cosine_neardup_pairs_blocked(
                _embs(spark, sf_dir), min_cos=0.35
            )
        ),
    )


def q_dedup_exact(spark, sf_dir):
    return exact_dedup_groups(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dups at tau=0.2 (integer compare)."""
    p = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, min_inter=2)
    return p.where(F.col("inter_n") * 5 >= F.col("union_n"))


def q_dedup_minhash_lsh(spark, sf_dir):
    # 8 bands x 2 rows: P(candidate | j) = 1-(1-j^2)^8 — ~0.97 at j=0.6,
    # ~0.9998 at j=0.8; verify step then enforces exact j >= tau.
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=3, n_hashes=16, bands=8,
        tau_num=1, tau_den=5, mode="vocab",
    )


def q_dedup_simhash(spark, sf_dir):
    return simhash_pairs(
        _docs(spark, sf_dir), n=3, n_bits=32, max_hamming=6, mode="vocab"
    )


def q_emb_neardup(spark, sf_dir):
    from timeseriescorrelation_spark.operators.similarity import (
        cosine_neardup_pairs_blocked,
    )

    return cosine_neardup_pairs_blocked(_embs(spark, sf_dir), min_cos=0.35)


def q_ann_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return ann_topk_bruteforce(e, e.where(F.col("vec_id") < 5), k=10)


def q_ann_ivf(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return ann_topk_ivf(e, e.where(F.col("vec_id") < 5), k=10, nprobe=3)


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with REAL Lloyd's k-means centroids (k=8, 2 iterations,
    deterministic vec_id%k seeding) instead of the label-mean stand-in;
    the oracle unrolls both iterations in SQL, so every assign/re-mean
    step is hash-checked."""
    from timeseriescorrelation_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = _embs(spark, sf_dir)
    cents = kmeans_centroids(e, k=8, n_iter=2)
    return ann_topk_ivf(
        e, e.where(F.col("vec_id") < 5), k=10, nprobe=3, centroids=cents
    )


def q_rolling_1h(spark, sf_dir):
    """W5 sliding stats: per-user trailing-1h event-time range frame."""
    from timeseriescorrelation_spark.operators.rolling import rolling_stats

    e = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    return rolling_stats(e, ["user_id"], 3600).select(
        "user_id", "event_id",
        "roll_cnt", "roll_min", "roll_max", "roll_sum", "roll_avg",
    )


def q_histogram_value(spark, sf_dir):
    """Fixed-width histogram per metric (floor binning, clamped top
    bucket) — the profile/EDA shape that feeds quality-cut decisions."""
    e = _events(spark, sf_dir)
    b = F.least(F.floor(F.col("value") / 10.0), F.lit(9)).cast("int")
    return (
        e.select("event_type", b.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_v"),
        )
    )


def q_clip_p99(spark, sf_dir):
    """Winsorize values at the per-metric p99 (quality-cut op: clamp
    outliers instead of dropping rows).  The p99 comes from a groupBy
    AGGREGATE broadcast-joined back — NOT a window partitioned by the
    metric: with a handful of metric values, a whole-partition window
    is one giant single-task sort per metric at scale, while the
    aggregate combines map-side and the join side is k rows."""
    e = _events(spark, sf_dir)
    p = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.99)).alias("_p99")
    )
    return e.join(F.broadcast(p), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.least(F.col("value"), F.col("_p99")), 6).alias("clipped"),
        (F.col("value") > F.col("_p99")).alias("was_clipped"),
    )


def q_topk_global(spark, sf_dir):
    """Global deterministic top-100 (O3: orderBy+limit -> TakeOrdered;
    event_id tie-break makes the SET unique, so the hash compare is
    well-defined)."""
    return (
        _events(spark, sf_dir)
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(100)
        .select("event_id", "user_id", "value")
    )


def q_dedup_keep(spark, sf_dir):
    """Apply the exact-dedup decision: keep one doc per text_hash group
    (min doc_id), i.e. the materialized post-dedup corpus — a semi-join
    of documents against the keeper set."""
    keep = exact_dedup_groups(_docs(spark, sf_dir)).select(
        F.col("keeper_id").alias("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .join(keep, "doc_id", "left_semi")
        .select("doc_id", F.length("text").alias("n_chars"))
    )


def q_split_counts(spark, sf_dir):
    """Leakage-safe deterministic train/val/test split by md5-bucket of
    doc_id (80/10/10); oracle replicates the exact bucket arithmetic."""
    from timeseriescorrelation_spark.operators.sampling import assign_split

    d = assign_split(_docs(spark, sf_dir))
    return d.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
    )


def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% corpus sample (pure filter on the id hash —
    no RNG, no shuffle, reproducible across engines and restarts)."""
    from timeseriescorrelation_spark.operators.sampling import (
        sample_fraction,
    )

    return sample_fraction(_docs(spark, sf_dir), 0.1).select(
        "doc_id", F.length("text").alias("n_chars")
    )


def q_event_sessions(spark, sf_dir):
    """Interval join (J5 range family): attach each event to its
    session span via the binned equi-join — never a nested-loop range
    join (plan-asserted in tests/test_plans.py)."""
    from timeseriescorrelation_spark.operators.intervals import (
        interval_join_binned,
    )
    from timeseriescorrelation_spark.streaming.rollup_stream import (
        sessionize,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"), "event_id", "ts"
    )
    spans = sessionize(e.select("conv_id", "ts"), "30 minutes").select(
        "conv_id",
        F.col("session_start").alias("start_ts"),
        F.col("session_end_ts").alias("end_ts"),
        "n_events",
    )
    j = interval_join_binned(
        e, spans, ["conv_id"], "hour"
    )
    return j.select(
        "event_id", "conv_id",
        F.col("start_ts").alias("session_start"), "n_events",
    )


def q_asof_last_error(spark, sf_dir):
    """True as-of JOIN between two streams (kdb aj / merge_asof): each
    click picks up the most recent error at-or-before it per user, via
    the single-shuffle union+window operator (no join node, no range
    explosion).  Oracle: DuckDB's native ASOF LEFT JOIN."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("err_v"))
        .withColumn("err_ts", F.col("ts"))
    )
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    j = asof_join(clicks, errors, ["user_id"], "ts", "ts",
                  ["err_v", "err_ts"])
    return j.select(
        "event_id", "user_id",
        F.col("err_v_asof"),
        F.round(
            (epoch_us(F.col("ts")) - epoch_us(F.col("err_ts_asof")))
            / F.lit(1e6), 6,
        ).alias("staleness_s"),
    )


def q_pivot_metrics(spark, sf_dir):
    """Pivot the metric dimension to columns (series -> wide feature
    row per user) — fixed value list so the schema is deterministic."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.avg("value"), 6))
    )


def q_retention_counts(spark, sf_dir):
    """Retention-policy dry run over the tier cascade: 1m keeps 7
    trailing days, 1h keeps 21, 1d unbounded, `now` = max event ts —
    per tier kept/dropped counts + oldest surviving bucket."""
    from timeseriescorrelation_spark.operators.retention import (
        retention_report,
    )

    s = _series_from_events(spark, sf_dir)
    # build the cascade with each tier cached: the report consumes all
    # three tiers, and uncached lineage would recompute 1m three times
    # (once inline and once under each coarser tier)
    t1m = cache_once(rollup_raw(s, "1m"))
    t1h = cache_once(rollup_tier(t1m, "1h"))
    tiers = {"1m": t1m, "1h": t1h, "1d": rollup_tier(t1h, "1d")}
    now_df = s.agg(F.max("ts").alias("_now"))
    rep = retention_report(
        tiers, now_df,
        {"1m": 7 * 86400, "1h": 21 * 86400, "1d": None},
    )
    return rep.select("tier", "kept_rows", "dropped_rows", "oldest_kept")


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per metric (p50/p90/p99) — the
    training-data quality-cut shape ("drop docs above the p99 length").
    Spark percentile() and DuckDB quantile_cont() both linearly
    interpolate on the sorted values.  Scale caveat: exact
    percentile's buffer is O(distinct values per group) — see
    analytics.latency_percentiles for the 100 TB alternatives
    (approx_percentile sketch, or fixed-precision value pre-bucketing
    to bound the buffer by the domain)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("value").alias("cnt"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
    )


def q_text_stats(spark, sf_dir):
    return text_stats(_docs(spark, sf_dir))


def q_text_langid(spark, sf_dir):
    return langid_heuristic(_docs(spark, sf_dir))


def q_text_normalize(spark, sf_dir):
    """Canonical cleaning (lowercase, control-strip, whitespace
    collapse, trim) — pure projection, no shuffle."""
    from timeseriescorrelation_spark.operators.textstats import (
        normalize_text,
    )

    return normalize_text(_docs(spark, sf_dir))


def q_doc_fingerprint(spark, sf_dir):
    return doc_fingerprints_vocab(_docs(spark, sf_dir))


def q_mm_meta(spark, sf_dir):
    return decode_metadata(attach_payload(_docs(spark, sf_dir)))


def q_chunk_roundtrip(spark, sf_dir):
    """Gorilla chunk codec round-trip THROUGH the driver gate: encode
    per-(conv,metric,day) blobs, decode them back; the DuckDB oracle is
    simply the original points — equality proves the delta-of-delta +
    XOR bitstream is lossless on real data."""
    from timeseriescorrelation_spark.operators.chunks import (
        decode_chunks,
        encode_chunks,
    )

    s = _series_from_events(spark, sf_dir)
    return decode_chunks(encode_chunks(s, "day")).select(
        "conv_id", "metric", "ts", "value"
    )


def q_rechunk_roundtrip(spark, sf_dir):
    """Compaction correctness: day blobs -> month blobs -> points must
    equal the raw input (the oracle is simply the events table)."""
    from timeseriescorrelation_spark.operators.chunks import (
        decode_chunks,
        encode_chunks,
        rechunk,
    )

    s = _series_from_events(spark, sf_dir)
    return decode_chunks(rechunk(encode_chunks(s, "day"), "month")).select(
        "conv_id", "metric", "ts", "value"
    )


def q_chunk_stats(spark, sf_dir):
    """Chunk accounting per metric — the SQL-expressible columns only
    (chunk count, point count, raw bytes = 16·n), so the driver gate
    hash-checks them fully.  enc_bytes/ratio are bit-level codec
    outputs with no ANSI-SQL equivalent; they are asserted in pytest
    (tests/test_chunks.py) instead of diluting the gate with a
    rows-only row."""
    from timeseriescorrelation_spark.operators.chunks import (
        compression_stats,
        encode_chunks,
    )

    s = _series_from_events(spark, sf_dir)
    return compression_stats(encode_chunks(s, "day")).select(
        "metric", "n_chunks", "points", "raw_bytes"
    )


def q_stats_salted(spark, sf_dir):
    """Two-phase salted aggregation (J7): identical result to a direct
    groupBy, but heavy keys reduce in parallel across salt buckets."""
    from timeseriescorrelation_spark.operators.skew import stats_two_phase

    return stats_two_phase(_series_from_events(spark, sf_dir), buckets=8)


def q_session_stats(spark, sf_dir):
    """Gap-based sessionization (session_window, 30m gap) per user."""
    from timeseriescorrelation_spark.streaming.rollup_stream import sessionize

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    return sessionize(e, "30 minutes")


def q_mm_frames(spark, sf_dir):
    return frame_sample(attach_payload(_docs(spark, sf_dir)), every_n_bytes=64)


def q_m4_1h(spark, sf_dir):
    """M4 visualization downsampling (Jugel et al. VLDB'14): the
    first/last/min/max POINTS per (series, hour) — pixel-perfect line
    rendering at hourly resolution from one hash aggregation."""
    from timeseriescorrelation_spark.operators.analytics import m4_downsample

    return m4_downsample(_series_from_events(spark, sf_dir), "hour")


def q_rate_1h(spark, sf_dir):
    """PromQL-style counter increase/rate per (series, hour): sum of
    non-negative deltas (resets contribute nothing)."""
    from timeseriescorrelation_spark.operators.analytics import counter_rate

    return counter_rate(_series_from_events(spark, sf_dir), "hour")


def q_anomaly_1h(spark, sf_dir):
    """Trailing-hour z-score anomalies per METRIC stream: |v - mu| >=
    2 sigma against the strictly-preceding 1h range frame, min 5 prior
    observations.  Keyed on metric alone — per-(conv, metric) series
    are too sparse for a 1h baseline at gate SFs (and a per-metric
    fleet-wide stream is the natural alerting granularity).

    Runs the SHARDED window (day shards + 1h context overlap):
    per-metric global windows cap parallelism at |metrics| tasks, the
    sharded form at |metrics|x|days| — and the DuckDB oracle is still
    the plain global window, so the gate itself proves the sharding
    is output-identical."""
    from timeseriescorrelation_spark.operators.analytics import (
        anomaly_zscore_sharded,
    )

    return anomaly_zscore_sharded(
        _series_from_events(spark, sf_dir), range_seconds=3600,
        z_thresh=2.0, min_n=5, keys=["metric"], value_decimals=2,
    )


def q_autocorr_lag1(spark, sf_dir):
    """Lag-1 serial correlation per series (guarded Pearson)."""
    from timeseriescorrelation_spark.operators.analytics import autocorr_lag1

    return autocorr_lag1(_series_from_events(spark, sf_dir), min_n=10)


def q_xcorr_lagged(spark, sf_dir):
    """Lead/lag cross-correlation between conversation pairs at hourly
    shifts -2..+2 — extends the reference's pairwise-Pearson report
    with a time-shift dimension (who leads whom).  Runs the blocked
    BLAS kernel (6 matmuls per block-pair per lag); the per-bucket
    join formulation is the readable reference implementation,
    equivalence-tested in tests/test_analytics.py — outputs are
    identical rounded to 6dp (verified bit-equal at sf0.01)."""
    from timeseriescorrelation_spark.operators.analytics import (
        lagged_xcorr_blocked,
    )

    return lagged_xcorr_blocked(
        _series_from_events(spark, sf_dir), lags_h=[-2, -1, 0, 1, 2],
        min_n=5, r_min=0.7,
    )


def q_latency_percentiles(spark, sf_dir):
    """Exact interpolated p50/p95 of inter-arrival gaps per
    (metric, day) — the transcript stream's response-latency profile."""
    from timeseriescorrelation_spark.operators.analytics import (
        latency_percentiles,
    )

    return latency_percentiles(
        _series_from_events(spark, sf_dir), "day", [0.5, 0.95]
    )


def q_distinct_convs_1h(spark, sf_dir):
    """Exact distinct-series cardinality per (metric, hour) — the
    COUNT(DISTINCT) rollup companion to the tier cascade."""
    e = _events(spark, sf_dir)
    return e.groupBy(
        F.col("event_type").alias("metric"),
        F.date_trunc("hour", "ts").alias("bucket_ts"),
    ).agg(
        F.countDistinct("user_id").alias("n_convs"),
        F.count("*").alias("n_points"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any word trigram
    with the benchmark split (doc_id % 20 == 0), with distinct-overlap
    counts.  Benchmark shingles broadcast; corpus never shuffled."""
    from timeseriescorrelation_spark.operators.dedup import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 20 == 0)
    corpus = d.where(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench, n=3)


def q_quantiles_scalable(spark, sf_dir):
    """Distributed exact quantiles with bounded memory: fixed-precision
    quantization + cumulative-count interpolation (the 100 TB form of
    percentile(); oracle = DuckDB quantile_cont over the same
    quantized values, equal BY DEFINITION)."""
    from timeseriescorrelation_spark.operators.analytics import (
        quantiles_bucketed,
    )

    v = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric"), "value"
    )
    return quantiles_bucketed(
        v, keys=["metric"], qs=[0.5, 0.9, 0.99], precision=0.01
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition counts + probabilities over each
    user's (ts, event_id)-ordered event stream — the role/tool
    transition matrix of a transcript.  One window lag + one hash agg;
    P(next|prev) normalized by a window sum over prev (no second
    shuffle: same partition key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    g = d.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    wp = Window.partitionBy("prev_type")
    return g.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p"),
    )


def q_funnel_3step(spark, sf_dir):
    """Ordered funnel signup -> click -> purchase: per user the first
    signup, the first click AFTER it, the first purchase after that;
    report stage reach counts.  Three filtered min-aggregations
    chained by equi-joins (each stage's table is |users| rows, so the
    joins broadcast at gate scale and stay key-partitioned hash joins
    at 100 TB); no window over the full event stream."""
    e = _events(spark, sf_dir)
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min(tus).alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .select("user_id", tus.alias("t"))
        .join(s1, "user_id")
        .where(F.col("t") > F.col("t1"))
        .groupBy("user_id").agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", tus.alias("t"))
        .join(s2, "user_id")
        .where(F.col("t") > F.col("t2"))
        .groupBy("user_id").agg(F.min("t").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("n")).select(
            F.lit(1).alias("stage"), F.lit("signup").alias("event"), "n"
        )
        .unionByName(
            s2.agg(F.count("*").alias("n")).select(
                F.lit(2).alias("stage"), F.lit("click").alias("event"), "n"
            )
        )
        .unionByName(
            s3.agg(F.count("*").alias("n")).select(
                F.lit(3).alias("stage"),
                F.lit("purchase").alias("event"), "n",
            )
        )
    )


def q_token_topk(spark, sf_dir):
    """Corpus token heavy-hitters: top 50 tokens by document frequency
    (docs containing the token) and total count, tie-broken by token
    text.  In-row array_distinct before the explode keeps the df count
    one row per (doc, token); the global agg partially combines
    map-side, so the shuffle carries |distinct tokens| rows per task —
    at 100 TB the long tail still dominates that shuffle, and the
    sub-linear route is a count-min/TopK sketch; exact is right at
    gate scale and for bounded vocabularies."""
    from pyspark.sql import Window

    toks = F.split(F.lower(F.col("text")), r"\s+")
    d = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("tok")
    )
    cnt_all = (
        _docs(spark, sf_dir)
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok").agg(F.count("*").alias("n_total"))
    )
    df_ = d.groupBy("tok").agg(F.count("*").alias("n_docs"))
    j = df_.join(cnt_all, "tok")
    # top-k via orderBy+limit = TakeOrderedAndProject (per-partition
    # heaps + driver merge of k rows), NOT a global row_number window
    # (which would move every token to one partition); the rank window
    # then runs over exactly 50 rows.
    top = j.orderBy(
        F.col("n_docs").desc(), F.col("n_total").desc(), F.col("tok")
    ).limit(50)
    # constant partition key: the frame is the 50 post-limit rows
    # either way, but an EMPTY partition spec trips WindowExec's
    # "No Partition Defined" warning on every run — and a bare lit(0)
    # gets constant-folded back to the empty spec, so the zero must be
    # non-foldable (see timeutil.const_partition)
    from timeseriescorrelation_spark.functions.timeutil import (
        const_partition,
    )

    w = Window.partitionBy(const_partition("tok")).orderBy(
        F.col("n_docs").desc(), F.col("n_total").desc(), F.col("tok")
    )
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "tok", "n_docs", "n_total"
    )


def q_twa_1h(spark, sf_dir):
    """Time-weighted hourly average (TimescaleDB `time_weight`): each
    value weighted by how long it held (LOCF segment, clamped to its
    bucket).  value_decimals=2 snaps values to integer cents so the
    weighted sum is exact BIGINT arithmetic in both engines."""
    from timeseriescorrelation_spark.operators.timeweight import (
        time_weighted_avg,
    )

    return time_weighted_avg(
        _series_from_events(spark, sf_dir), "hour", value_decimals=2
    )


def q_heartbeat_day(spark, sf_dir):
    """Daily liveness coverage from heartbeat events (`heartbeat_agg`):
    a beat proves liveness for 15 minutes; covered time is the union
    of those windows inside each day.  Integer-µs exact."""
    from timeseriescorrelation_spark.operators.timeweight import (
        heartbeat_coverage,
    )

    beats = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.col("event_id").cast("int").alias("turn_idx"),
    )
    return heartbeat_coverage(beats, 900, "day")


def q_state_durations(spark, sf_dir):
    """Per-conversation time-in-state (`state_agg`): the event type
    holds until the next event of the same conversation (clamped to
    the day's end); totals + run counts per (conv, state)."""
    from timeseriescorrelation_spark.operators.timeweight import (
        state_durations,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("state"),
        F.col("ts"),
        F.col("event_id").cast("int").alias("turn_idx"),
    )
    return state_durations(e, "state", "day")


def q_hll_distinct_day(spark, sf_dir):
    """Tier-mergeable distinct counts: exact per-bucket COUNT(DISTINCT)
    cannot compose across retention tiers, HLL registers can (union =
    element-wise max).  Hourly sketches merge into daily ones — the
    same cascade shape as the sum/max tiers — and the estimate is
    cross-engine deterministic (md5 hash, integer harmonic sum), so
    the oracle verifies the ESTIMATE exactly, not just row counts.
    Output includes the exact distinct and the relative error."""
    from timeseriescorrelation_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    e = _events(spark, sf_dir).select(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
        F.date_trunc("hour", F.col("ts")).alias("_hour"),
        F.col("user_id"),
    )
    hourly = hll_sketch(e, ["event_type", "bucket_ts", "_hour"], "user_id")
    daily = hll_merge(hourly, ["event_type", "bucket_ts"])
    est = hll_estimate(daily, ["event_type", "bucket_ts"])
    exact = e.groupBy("event_type", "bucket_ts").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, ["event_type", "bucket_ts"]).select(
        "event_type",
        "bucket_ts",
        "exact_distinct",
        "hll_est",
        F.round(
            (F.col("hll_est") - F.col("exact_distinct"))
            * 100.0
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err_pct"),
    )


def q_cms_tokens(spark, sf_dir):
    """Count-min-sketch heavy-hitter estimates: the sublinear
    alternative to `token_topk`'s exact count (whose shuffle carries
    one row per DISTINCT token — huge at 100 TB).  The sketch shuffles
    at most d·w counter rows regardless of vocabulary; estimates are
    exact-or-over, never under.  Reports the top-20 exact tokens with
    their CMS estimate and overcount; the oracle replicates every
    counter (md5-slice hashing, integer sums)."""
    from timeseriescorrelation_spark.operators.sketches import (
        cms_lookup,
        cms_sketch,
    )

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    )
    sketch = cms_sketch(toks, "tok")
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    top = exact.orderBy(F.col("exact_n").desc(), F.col("tok")).limit(20)
    return cms_lookup(sketch, top, "tok").select(
        "tok",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
    )


def q_rollup_realtime_1h(spark, sf_dir):
    """Real-time continuous aggregate (the TimescaleDB real-time
    cagg shape): SEALED hourly buckets come from the materialized
    1m->1h tier, the still-open bucket (>= hour of max ts) aggregates
    straight from raw, and the union is served as one table.  The
    oracle is the plain direct 1h rollup — equality proves
    sealed-tier + live-tail compose exactly, which is the invariant
    that lets the engine serve fresh data without waiting for the
    tier job.  The cutoff comes from a 1-row broadcast (no driver
    round-trip)."""
    s = _series_from_events(spark, sf_dir)
    cutoff = s.agg(
        F.date_trunc("hour", F.max("ts")).alias("_cut")
    )
    sc = s.crossJoin(F.broadcast(cutoff))
    t1m = rollup_raw(
        sc.where(F.col("ts") < F.col("_cut")).drop("_cut"), "1m"
    )
    sealed = rollup_tier(t1m, "1h")
    live = rollup_raw(
        sc.where(F.col("ts") >= F.col("_cut")).drop("_cut"), "1h"
    )
    return sealed.select(*_tier_out()).unionByName(
        live.select(*_tier_out())
    )


def q_ewma_smooth(spark, sf_dir):
    """EWMA smoothing per series (alpha=0.3, adjust-free recursion);
    the oracle replays the identical float64 recursion via a DuckDB
    recursive CTE — raw doubles match bit-for-bit, quantized by
    floor(y*1e6)/1e6 on both sides (round() midpoint semantics differ
    between engines)."""
    from timeseriescorrelation_spark.operators.analytics import ewma

    return ewma(_series_from_events(spark, sf_dir), alpha=0.3)


def q_doc_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition filters, computed in-row."""
    from timeseriescorrelation_spark.operators.textstats import (
        repetition_stats,
    )

    return repetition_stats(_docs(spark, sf_dir))


def q_hdr_quantiles_day(spark, sf_dir):
    """Tier-mergeable quantiles: per-bucket percentiles cannot be
    re-derived from coarser-tier percentiles, so the cascade sketches
    at the finest tier and merges bucket counts upward (HDR log2
    buckets, sum-merge) — completing the mergeable family next to HLL
    (distincts) and CMS (frequencies).  Hourly sketches merge into
    daily; estimates are pure integer arithmetic, so the oracle
    verifies every ESTIMATE bit-for-bit, alongside the exact
    nearest-rank value and the realized relative error (bounded by
    2^-(s+1) ≈ 1.6% at s=5)."""
    from timeseriescorrelation_spark.operators.sketches import (
        hdr_merge,
        hdr_quantiles,
        hdr_sketch,
    )

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric"),
        F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
        F.date_trunc("hour", F.col("ts")).alias("_hour"),
        "value",
    )
    hourly = hdr_sketch(e, ["metric", "bucket_ts", "_hour"])
    daily = hdr_merge(hourly, ["metric", "bucket_ts"])
    est = hdr_quantiles(daily, ["metric", "bucket_ts"])
    # exact nearest-rank check column from the same integer cents
    from pyspark.sql import Window

    cents = e.select(
        "metric",
        "bucket_ts",
        F.greatest(
            snap("value", VALUE_DECIMALS),
            F.lit(1).cast("long"),
        ).alias("v"),
    )
    ranked = cents.select(
        F.col("metric").alias("_m"),
        F.col("bucket_ts").alias("_b"),
        "v",
        F.row_number()
        .over(Window.partitionBy("metric", "bucket_ts").orderBy("v"))
        .alias("rn"),
    )
    withr = est.withColumn(
        "_r",
        F.expr(
            "CASE q_name WHEN 'p50' THEN (n + 1) div 2 "
            "WHEN 'p95' THEN (19 * n + 19) div 20 "
            "ELSE (99 * n + 99) div 100 END"
        ),
    )
    joined = withr.join(
        ranked,
        on=[
            F.col("metric") == F.col("_m"),
            F.col("bucket_ts") == F.col("_b"),
            F.col("_r") == F.col("rn"),
        ],
    )
    exact = F.round(F.col("v").cast("double") / 100.0, 6)
    return joined.select(
        "metric",
        "bucket_ts",
        "q_name",
        "n",
        "est",
        exact.alias("exact"),
        F.round((F.col("est") - exact) * 100.0 / exact, 6).alias(
            "rel_err_pct"
        ),
    )


def q_rolling_corr_1h(spark, sf_dir):
    """Sliding-window Pearson correlation — the reference's core
    statistic in a trailing event-time frame: per (conv, metric), how
    tightly does per-minute volume (cents) track per-minute rate
    (count) over the last hour?  Moment sums run in exact BIGINT over
    a rangeBetween frame; ρ assembles from those integers via
    exactly-rounded IEEE ops, so the oracle matches bit-for-bit."""
    from timeseriescorrelation_spark.operators.rolling import rolling_corr

    m = (
        _events(spark, sf_dir)
        .groupBy(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("event_type").alias("metric"),
            F.date_trunc("minute", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(snap("value", VALUE_DECIMALS)).alias("y"),
        )
    )
    out = rolling_corr(
        m, ["conv_id", "metric"], 3540, ts_col="bucket_ts", min_n=5
    )
    return out.select(
        "conv_id", "metric", "bucket_ts", "x", "y", "roll_n", "roll_corr"
    )


def q_bloom_decontaminate(spark, sf_dir):
    """Constant-size decontamination: the broadcast-set path
    (`decontaminate`) ships every benchmark shingle string; the Bloom
    filter is its 100 TB form — m bits no matter the eval-suite size,
    no false negatives (bloom_hit ⊇ exact_hit per doc, asserted by
    the oracle's identical bit positions), bounded false-positive
    over-scrubbing."""
    from timeseriescorrelation_spark.operators.dedup import shingles
    from timeseriescorrelation_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    sh = shingles(_docs(spark, sf_dir), 3)
    bench = sh.where(F.col("doc_id") % 20 == 0).select("shingle").distinct()
    corpus = sh.where(F.col("doc_id") % 20 != 0)
    bloom = bloom_build(bench, "shingle")
    probed = bloom_probe(corpus, bloom, "shingle")
    exact = corpus.join(bench, ["shingle"], "left_semi").select(
        "doc_id"
    ).withColumn("_x", F.lit(1))
    per_doc = probed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.max(F.col("maybe_member").cast("int")).alias("_b"),
    )
    return (
        per_doc.join(
            exact.groupBy("doc_id").agg(F.max("_x").alias("_e")),
            ["doc_id"],
            "left",
        )
        .select(
            "doc_id",
            "n_shingles",
            (F.coalesce(F.col("_e"), F.lit(0)) == 1).alias("exact_hit"),
            (F.col("_b") == 1).alias("bloom_hit"),
        )
    )


def q_tier_upsert_1h(spark, sf_dir):
    """Exact incremental tier maintenance: rollup a base partition and
    a late-arriving delta SEPARATELY, merge the partials
    (`tier_merge`), and serve standard tier columns.  The oracle is
    the direct 1h rollup over everything — equality proves
    merge(rollup(A), rollup(B)) == rollup(A ∪ B), the invariant that
    lets a late day of transcripts fold into a materialized tier
    without re-reading history (first/last merge exactly because
    upsertable partials carry their packed in-bucket order keys)."""
    from timeseriescorrelation_spark.operators.rollup import (
        rollup_raw_upsertable,
        tier_merge,
    )

    s = _series_from_events(spark, sf_dir)
    base = s.where(F.col("turn_idx") % 10 != 0)
    delta = s.where(F.col("turn_idx") % 10 == 0)
    merged = tier_merge(
        rollup_raw_upsertable(base, "1h"),
        rollup_raw_upsertable(delta, "1h"),
    )
    return merged.select(*_tier_out())


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive clusters via alternating
    large-star/small-star edge rewrites (O(log² n) rounds on any graph
    shape — round 3 replaced the diameter-bound label propagation,
    pytest asserts identical labelings): the keep-one-per-group step
    pairwise dedup can't express.  Oracle = recursive-CTE reachability
    closure over the same edge set.  Edges + labels come from the
    session graph cache (_jaccard_cc) shared with
    dedup_canonical/triangles/editdist."""
    return _jaccard_cc(spark, sf_dir)


def q_dedup_editdist(spark, sf_dir):
    """Edit-distance verification of near-dup candidates: Levenshtein
    over the first 80 chars of each side — the fuzzy-match second
    opinion on shingle-based candidates (catches reorderings Jaccard
    scores high but editing distance rejects).  Runs only on the
    candidate pairs (session graph cache), never all-pairs; texts
    join in via the doc ids."""
    pairs = _jaccard_edges(spark, sf_dir)
    d = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 80).alias("_t")
    )
    ta = d.select(F.col("doc_id").alias("id_a"), F.col("_t").alias("_ta"))
    tb = d.select(F.col("doc_id").alias("id_b"), F.col("_t").alias("_tb"))
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb").alias("edit_dist"),
        )
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: exactly k=50 events per
    metric stratum, chosen by md5-hash order (reproducible across
    runs/engines, no RNG).  The per-stratum rank is a partitioned
    window — each stratum sorts independently, no global sort."""
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("|", F.col("user_id"), F.col("event_id")))
    w = Window.partitionBy("event_type").orderBy(h.asc(), F.col("event_id"))
    return (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("metric"),
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 50)
    )


def q_rank_family(spark, sf_dir):
    """Distribution-rank window family over daily per-metric totals:
    percent_rank, cume_dist, ntile(4).  Totals are integer cents so
    the ORDER is exact cross-engine (a float-sum order key could flip
    ulp-ties between engines and silently permute every rank)."""
    from pyspark.sql import Window

    daily = bucket_cents(
        _events(spark, sf_dir), [F.col("event_type").alias("metric")], "day"
    ).select(
        "metric",
        F.col("day_ts").alias("bucket_ts"),
        F.col("y").alias("total_cents"),
    )
    w = Window.partitionBy("metric").orderBy("total_cents", "bucket_ts")
    return daily.select(
        "metric",
        "bucket_ts",
        "total_cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_profile_events(spark, sf_dir):
    """Column-level data profiling (the pre-ingest audit a pipeline
    runs before trusting a new drop): per column — row count, nulls,
    exact distincts.  One pass, one agg row, unpivoted to long form
    in-plan (no per-column jobs)."""
    e = _events(spark, sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    agg = e.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}")
            for c in cols
        ],
        *[F.countDistinct(c).alias(f"_nd_{c}") for c in cols],
    )
    rows = F.explode(
        F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ])
    ).alias("r")
    return agg.select(rows).select("r.*")


def q_cusum_alerts(spark, sf_dir):
    """Two-sided CUSUM changepoint scores per series — the clamped
    recursion re-expressed as cumsum + running extrema (pure window
    algebra, one shuffle); integer-scaled deviations keep both engines
    bit-identical."""
    from timeseriescorrelation_spark.operators.analytics import cusum

    return cusum(_series_from_events(spark, sf_dir), h=5.0)


def q_session_overlap(spark, sf_dir):
    """Interval-algebra overlap join: per-user activity sessions
    (gaps-and-islands, 30m) × per-type incident windows (each type's
    [first, last] event of the day) — which sessions ran during which
    incidents, and for how long.  Binned to a day-bucket equi-join
    with first-shared-bucket dedup (no distinct shuffle); the oracle
    is the DIRECT overlap theta-join, so equality validates the
    binning itself.  Overlap is exact integer µs."""
    from timeseriescorrelation_spark.operators.intervals import (
        interval_overlap_join,
    )
    from timeseriescorrelation_spark.streaming.rollup_stream import sessionize

    e = _events(spark, sf_dir)
    sessions = sessionize(
        e.select(F.col("user_id").cast("string").alias("conv_id"), "ts"),
        "30 minutes",
    ).select(
        "conv_id",
        F.col("session_start").alias("start_l"),
        F.col("session_end_ts").alias("end_l"),
        "n_events",
    )
    incidents = e.groupBy(
        F.col("event_type").alias("metric"),
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
    ).agg(
        F.min("ts").alias("start_r"),
        F.max("ts").alias("end_r"),
    )
    j = interval_overlap_join(sessions, incidents, bucket="day")
    return j.select(
        "conv_id",
        F.col("start_l").alias("session_start"),
        "metric",
        "day_ts",
        F.round(F.col("overlap_us") / 1e6, 6).alias("overlap_s"),
    )


def q_seasonal_profile(spark, sf_dir):
    """Seasonality baseline: per (metric, day-of-week, hour-of-day)
    mean value and event count — the profile anomaly detectors
    subtract before scoring.  Integer-cents sums make the mean a
    division of identical integers in both engines."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.col("event_type").alias("metric"),
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(snap("value", VALUE_DECIMALS))
                / (F.count("*") * float(SCALE)),
                6,
            ).alias("mean_v"),
        )
    )


def q_wow_delta(spark, sf_dir):
    """Week-over-week deltas per (metric, day): daily totals joined to
    themselves at a 7-day calendar offset (seasonal-naive baseline).
    A LEFT self-join on the shifted key, not lag(7) — rows must match
    by CALENDAR distance, and a missing day would silently misalign a
    row-offset lag."""
    daily = bucket_cents(
        _events(spark, sf_dir), [F.col("event_type").alias("metric")], "day"
    ).withColumnRenamed("y", "total_cents")
    prev = daily.select(
        F.col("metric").alias("_m"),
        (F.col("day_ts") + F.expr("interval 7 days")).alias("_d"),
        F.col("total_cents").alias("_prev"),
    )
    return (
        daily.join(
            prev,
            [F.col("metric") == F.col("_m"), F.col("day_ts") == F.col("_d")],
            "left",
        )
        .select(
            "metric",
            "day_ts",
            "total_cents",
            F.col("_prev").alias("prev_week_cents"),
            (F.col("total_cents") - F.col("_prev")).alias("wow_delta_cents"),
        )
    )


def q_gap_report(spark, sf_dir):
    """Data-quality gap detection: silent stretches > 2h inside each
    series (lag over the (ts, turn_idx) order, exact integer-µs gap).
    The ops report a retention/ingest pipeline watches."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    s = _series_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id", "metric").orderBy(
        epoch_us(F.col("ts")), "turn_idx"
    )
    lagged = s.select(
        "conv_id",
        "metric",
        F.lag("ts").over(w).alias("gap_start"),
        F.col("ts").alias("gap_end"),
        (epoch_us(F.col("ts")) - F.lag(epoch_us(F.col("ts"))).over(w))
        .alias("_gap_us"),
    )
    return lagged.where(F.col("_gap_us") > 2 * 3600 * 1_000_000).select(
        "conv_id",
        "metric",
        "gap_start",
        "gap_end",
        F.round(F.col("_gap_us") / 1e6, 6).alias("gap_s"),
    )


def q_staleness_report(spark, sf_dir):
    """Per-series last-seen and staleness vs the table's frontier
    (max ts overall) — the liveness report that decides retention
    eviction and alerting.  The frontier joins in as a 1-row
    broadcast, no driver round-trip."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    s = _series_from_events(spark, sf_dir)
    last = s.groupBy("conv_id", "metric").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_points")
    )
    frontier = s.agg(F.max("ts").alias("_frontier"))
    return (
        last.crossJoin(F.broadcast(frontier))
        .select(
            "conv_id",
            "metric",
            "last_ts",
            "n_points",
            F.round(
                (epoch_us(F.col("_frontier")) - epoch_us(F.col("last_ts")))
                / 1e6,
                6,
            ).alias("staleness_s"),
        )
    )


def q_rolling_p95_1h(spark, sf_dir):
    """Trailing-1h exact interpolated percentiles per series (the SRE
    rolling-p95 panel): Spark's `percentile` over a rangeBetween frame
    matches DuckDB's windowed `quantile_cont` definitionally, and
    integer-cents inputs make the interpolation arithmetic identical
    (probed: 0 mismatches before rounding).  Scale note: a windowed
    exact percentile buffers the frame per row — bounded by the 1h
    range, the same O(rows_in_range) bound as rolling_stats; the
    unbounded-history form is the HDR sketch path."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    s = _series_from_events(spark, sf_dir).select(
        "conv_id",
        "metric",
        "ts",
        snap("value", VALUE_DECIMALS).alias("_v"),
    )
    w = (
        Window.partitionBy("conv_id", "metric")
        .orderBy(epoch_us(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return s.select(
        "conv_id",
        "metric",
        "ts",
        F.count("_v").over(w).alias("roll_n"),
        F.round(
            F.expr("percentile(_v, 0.5)").over(w) / float(SCALE), 6
        ).alias("roll_p50"),
        F.round(
            F.expr("percentile(_v, 0.95)").over(w) / float(SCALE), 6
        ).alias("roll_p95"),
    )


def q_emb_clusters(spark, sf_dir):
    """Embedding near-dup pairs → transitive clusters: the same
    connected-components operator over a DIFFERENT pair source (cosine
    instead of Jaccard) — semantic dedup keeps one representative per
    cluster of paraphrases.  Composition shows the operator is
    pair-source-agnostic.  Round 3: large-star/small-star variant
    (same labeling, fewer driver-paced rounds on high-diameter
    graphs).  Round 4: labels come from the session graph cache
    (_cosine_cc) shared with cluster_terms."""
    return _cosine_cc(spark, sf_dir)


def q_unpivot_tier(spark, sf_dir):
    """Unpivot/melt of the 1h tier (the inverse of `pivot_metrics`):
    wide aggregate columns → long (stat, value) rows via stack — the
    shape exporters and plotting layers consume.  In-row generator,
    no shuffle beyond the tier build."""
    t = rollup_raw(_series_from_events(spark, sf_dir), "1h")
    return t.select(
        "conv_id",
        "metric",
        "bucket_ts",
        F.expr(
            "stack(4, 'cnt', cast(cnt AS double), 'sum', sum, "
            "'min', min, 'max', max) AS (stat, stat_v)"
        ),
    ).withColumn("stat_v", F.round("stat_v", 6))


def q_term_salience(spark, sf_dir):
    """Top-3 salient terms per document, tf-idf-ranked.  The score is
    kept RATIONAL — tf·N/df instead of tf·ln(N/df) — because ln is the
    one libm call whose last-ulp can differ between JVM and C
    runtimes, and rank order under a monotone transform is identical
    anyway; the docstring-documented log variant is a one-line swap
    where bit-exact oracles are not required.  One explode + two
    hash-aggs + a shuffle join on term + a per-doc window."""
    from pyspark.sql import Window

    tf = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "term"
            ),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df_docs")
    )
    n_docs = _docs(spark, sf_dir).agg(
        F.count("*").cast("long").alias("_n")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_sal",
            (F.col("tf") * F.col("_n")).cast("double")
            / F.col("df_docs").cast("double"),
        )
    )
    # rank on the UNROUNDED score (the oracle does too) — ranking on
    # the rounded value could invert pairs a rounding boundary merges
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_sal").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "doc_id", "rank", "term", "tf", "df_docs",
            F.round("_sal", 6).alias("salience"),
        )
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity day,
    distinct active users at each day-age since the cohort started.
    Two hash-aggs + one window min — the standard product-analytics
    rollup over the same event stream."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    )
    w = Window.partitionBy("user_id")
    aged = e.select(
        "user_id",
        F.min("d").over(w).alias("cohort_day"),
        F.datediff(F.col("d"), F.min("d").over(w)).alias("age_days"),
    )
    return aged.groupBy("cohort_day", "age_days").agg(
        F.countDistinct("user_id").alias("active_users")
    )


def q_conv_lifetimes(spark, sf_dir):
    """Per-conversation lifetime summary: first/last seen, span,
    distinct active days, events — the table the retention policy and
    staleness sweeps consult.  One hash-agg."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    e = _events(spark, sf_dir)
    return e.groupBy(
        F.col("user_id").cast("string").alias("conv_id")
    ).agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.round(
            (F.max(epoch_us(F.col("ts"))) - F.min(epoch_us(F.col("ts"))))
            / 1e6,
            6,
        ).alias("span_s"),
        F.countDistinct(F.date_trunc("day", F.col("ts"))).alias(
            "active_days"
        ),
        F.count("*").alias("n_events"),
    )


def q_emb_centroid(spark, sf_dir):
    """Per-label embedding centroid + its norm: posexplode to
    (label, dim, x), one hash-agg, re-assemble ordered — the
    DataFrame-native mean-vector (the kmeans building block) exposed
    as a query.  Scale note: shuffle is |labels|·d rows regardless of
    vector count (map-side partial sums)."""
    e = _embs(spark, sf_dir).select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    per_dim = e.groupBy("label", "dim").agg(
        F.count("*").alias("_n"), F.sum(F.col("x").cast("double")).alias("_s")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("_n").alias("n_vecs"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("_s") / F.col("_n"))
                        * (F.col("_s") / F.col("_n"))
                    )
                ),
                6,
            ).alias("centroid_norm"),
        )
    )


def q_text_scrub(spark, sf_dir):
    """PII-shaped redaction pass: digit runs replaced with '#'
    (account numbers, phone fragments), with per-doc redaction counts
    — the scrubbing stage of a training-data pipeline.  Pattern kept
    to character-class regex so Java regex and RE2-family engines
    agree; in-row, no shuffle."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("text"), "[0-9]+", "#").alias("scrubbed"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).alias(
            "n_redactions"
        ),
    ).select(
        "doc_id",
        F.md5("scrubbed").alias("scrubbed_md5"),
        F.length("scrubbed").alias("scrubbed_len"),
        "n_redactions",
    )


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking: split each document into token windows
    of 50 with stride 40 (the sequence-packing precursor every LLM
    training pipeline runs).  In-row sequence + slice — one generator
    per doc, no shuffle; emits (doc_id, chunk_idx, n_toks, chunk_md5)
    so the oracle verifies chunk CONTENT, not just counts."""
    from timeseriescorrelation_spark.operators.textstats import chunk_windows

    return chunk_windows(_docs(spark, sf_dir), width=50, stride=40)


def q_chunk_dedup(spark, sf_dir):
    """Chunk-level cross-document duplication (the chunked
    approximation of exact-substring dedup, Lee et al. 2022): per doc
    the fraction of its 50-token windows whose md5 occurs in more
    than one distinct document — the threshold signal substring-dedup
    pipelines cut on."""
    from timeseriescorrelation_spark.operators.textstats import (
        chunk_dup_stats,
    )

    return chunk_dup_stats(_docs(spark, sf_dir), width=50, stride=40)


def q_asof_tolerant(spark, sf_dir):
    """As-of join with a staleness bound (pandas merge_asof
    `tolerance`): matches older than 30 minutes are treated as no
    match — the variant real monitoring joins need (a 3-day-old error
    is not 'the current error state').  Oracle: native ASOF JOIN with
    the bound applied post-match, which is definitionally the same."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("err_v"))
    )
    j = asof_join(
        clicks, errors, ["user_id"], "ts", "ts", ["err_v"],
        tolerance_seconds=1800,
    )
    return j.select("event_id", "user_id", "err_v_asof")


def q_tier_consistency(spark, sf_dir):
    """Cross-tier DQ invariant, computed not assumed: re-aggregate the
    1m tier to 1h and diff it per-bucket against a direct raw→1h
    rollup (merge(rollup_1m) == rollup_1h).  Output is a per-metric
    report of compared buckets and mismatch counts — all zeros on a
    consistent pipeline, and the oracle gate proves both engines agree
    on exactly that."""
    from timeseriescorrelation_spark.operators.rollup import (
        tier_consistency_report,
    )

    return tier_consistency_report(
        _series_from_events(spark, sf_dir), "1m", "1h"
    )


def q_mad_outliers(spark, sf_dir):
    """Robust outliers per metric: |v - median| > 3 * MAD.  Medians on
    integer cents land on .5-steps and deviations on .25-steps — exact
    in binary float, so the flag comparison is deterministic across
    engines (the rolling_p95 contract, applied to a grouped MAD)."""
    from timeseriescorrelation_spark.operators.analytics import mad_outliers

    return mad_outliers(
        _series_from_events(spark, sf_dir), k=3.0, keys=["metric"]
    )


def q_cube_counts(spark, sf_dir):
    """CUBE grouping sets over (event_type, day-of-week): all four
    grouping combinations in ONE aggregation pass (next to the ROLLUP
    form in rollup_summary_1d) — the OLAP cross-tab a dashboard
    issues as a single query instead of four.  grouping_id
    disambiguates data-NULL from subtotal-NULL."""
    e = _events(spark, sf_dir).select(
        "event_type",
        F.dayofweek("ts").alias("dow"),
        snap("value", VALUE_DECIMALS).alias("cents"),
    )
    return (
        e.cube("event_type", "dow")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def q_spearman_pairs(spark, sf_dir):
    """Spearman rank correlation between conversation pairs over
    co-occurring hourly means — the monotone/robust companion to the
    exact-Pearson report.  Tie handling uses the identity
    avg_rank = rank_asc + (tie_cnt - 1)/2 — one exchange on the pair
    key, one sort per rank column."""
    from timeseriescorrelation_spark.operators.analytics import (
        spearman_hourly_pairs,
    )

    return spearman_hourly_pairs(
        _series_from_events(spark, sf_dir), min_n=12
    )


def q_trend_daily(spark, sf_dir):
    """Per-(metric, day) least-squares trend from exact 128-bit
    integer moment sums (decimal(38,0) vs hugeint) — slope and
    intercept are each ONE double division of identical integers in
    both engines, so they match bit-for-bit."""
    from timeseriescorrelation_spark.operators.analytics import trend_daily

    return trend_daily(_series_from_events(spark, sf_dir), keys=["metric"])


def q_concurrency_1h(spark, sf_dir):
    """Peak concurrent sessions per hour via a sweep line whose
    running sum is day-sharded (local cumsum + tiny per-day carry
    prefix) instead of one global window — the oracle runs the plain
    global cumsum, so the gate proves the telescoped form identical."""
    from timeseriescorrelation_spark.operators.intervals import (
        max_concurrency,
    )
    from timeseriescorrelation_spark.streaming.rollup_stream import sessionize

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    spans = sessionize(e, "30 minutes").select(
        F.col("session_start").alias("start_ts"),
        F.col("session_end_ts").alias("end_ts"),
    )
    return max_concurrency(spans, "hour")


def q_lttb_1h(spark, sf_dir):
    """LTTB downsampling (fixed-anchor parallel variant): one
    shape-salient point per (metric, hour), argmax of the triangle
    area with neighbor-bucket mean anchors — decided on exact
    decimal(38,0)/hugeint integers, so the pick is bit-identical
    across engines."""
    from timeseriescorrelation_spark.operators.analytics import (
        lttb_downsample,
    )

    return lttb_downsample(
        _series_from_events(spark, sf_dir), trunc="hour", keys=["metric"]
    )


def q_des_brown(spark, sf_dir):
    """Brown's double exponential smoothing (level + trend per point):
    two chained pandas-C EWMA kernels, DuckDB recursive-CTE oracle
    carrying both states — float64 recursion reproduced bit-for-bit,
    floor-quantized like `ewma_smooth`."""
    from timeseriescorrelation_spark.operators.analytics import des_brown

    return des_brown(
        _series_from_events(spark, sf_dir), alpha=0.3,
        keys=["conv_id", "metric"],
    )


def q_heatmap_bins(spark, sf_dir):
    """Hour-of-day × value-bin 2D histogram per metric (the density
    heatmap behind every 'when do we see which values' panel).  Bin
    edges derive from the per-metric min/max (tiny table, broadcast
    cross into the stream); the bin index floor((v−mn)/w) is the same
    double arithmetic in both engines, integer-cents inputs."""
    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric"),
        F.hour("ts").alias("hod"),
        snap("value", VALUE_DECIMALS).alias("cents"),
    )
    mm = e.groupBy("metric").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    j = e.join(F.broadcast(mm), "metric")
    w = (F.col("mx") - F.col("mn")).cast("double") / F.lit(20.0)
    bin_ = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.floor((F.col("cents") - F.col("mn")).cast("double") / w),
            F.lit(19),
        ),
    ).otherwise(F.lit(0))
    return (
        j.withColumn("bin", bin_.cast("int"))
        .groupBy("metric", "hod", "bin")
        .agg(F.count("*").alias("n"))
    )


def q_minmax_scale(spark, sf_dir):
    """Per-metric min-max feature scaling to [0,1] (the normalize
    companion to the z-norm in build_vectors): exact integer-cents
    numerator/denominator, ONE double division per row — identical in
    both engines; constant metrics NULL-guarded."""
    s = _series_from_events(spark, sf_dir).select(
        "conv_id", "metric", "ts", "turn_idx",
        snap("value", VALUE_DECIMALS).alias("cents"),
    )
    mm = s.groupBy("metric").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    j = s.join(F.broadcast(mm), "metric")
    scaled = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("cents") - F.col("mn")).cast("double")
        / (F.col("mx") - F.col("mn")).cast("double"),
    )
    return j.select(
        "conv_id", "metric", "ts", "turn_idx",
        F.round(scaled, 6).alias("scaled"),
    )


def q_conv_digest(spark, sf_dir):
    """Per-conversation byte digest under STABLE TURN ORDERING — the
    north rule's per-turn text-equality invariant surfaced as an
    oracle-checked query instead of a pytest-only assertion: md5 of
    the props payloads concatenated in exact (ts, event_id) order.
    Any instability in ordering (a nondeterministic sort, a shuffle
    that reorders ties) flips the digest.  array_sort on a
    (us, eid, payload) struct gives the deterministic order without a
    window; one hash-agg shuffle."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    s = _events(spark, sf_dir).select(
        "user_id",
        epoch_us(F.col("ts")).alias("us"),
        F.col("event_id").cast("long").alias("eid"),
        F.coalesce("props", F.lit("")).alias("p"),
    )
    agg = s.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "eid", "p"))).alias(
            "a"
        ),
        F.count("*").alias("n_turns"),
    )
    return agg.select(
        "user_id",
        "n_turns",
        F.md5(
            F.array_join(F.expr("transform(a, x -> x.p)"), "\x01")
        ).alias("digest"),
    )


def _asof_inputs(spark, sf_dir):
    e = _events(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = (
        e.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("err_v"))
    )
    return clicks, errors


def q_asof_forward(spark, sf_dir):
    """Forward as-of join (pandas merge_asof direction='forward'):
    the EARLIEST error at or after each click — same join-node-free
    union+window shape as backward, with the reversed sort."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    clicks, errors = _asof_inputs(spark, sf_dir)
    j = asof_join(
        clicks, errors, ["user_id"], "ts", "ts", ["err_v"],
        direction="forward",
    )
    return j.select("event_id", "user_id", "err_v_asof")


def q_asof_nearest(spark, sf_dir):
    """Nearest as-of join (pandas merge_asof direction='nearest'):
    the error closest in exact µs distance on either side, ties to
    the earlier (backward) row — two sorted passes over one exchange,
    still no join node.  Oracle is the direct distance-ranked theta
    join, so equality validates both window passes and the choice
    rule."""
    from timeseriescorrelation_spark.operators.asof import asof_join

    clicks, errors = _asof_inputs(spark, sf_dir)
    j = asof_join(
        clicks, errors, ["user_id"], "ts", "ts", ["err_v"],
        direction="nearest",
    )
    return j.select("event_id", "user_id", "err_v_asof")


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (the canonical scan→filter→hash-agg
    OLAP shape) on the lineitem fixture: money snapped to integer
    cents PER ROW (the per-row double products are identical in both
    engines), sums exact bigint, averages one division each."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    s = li.where(F.col("l_shipdate") <= F.lit("1998-09-02")).select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("base_c"),
        F.round(disc_price * 100).cast("long").alias("disc_c"),
        F.round(charge * 100).cast("long").alias("charge_c"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("disc_bp"),
    )
    g = s.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.count("*").alias("count_order"),
        F.sum("base_c").alias("_b"),
        F.sum("disc_c").alias("_d"),
        F.sum("charge_c").alias("_c"),
        F.sum("disc_bp").alias("_bp"),
    )
    n = F.col("count_order")
    return g.select(
        "l_returnflag", "l_linestatus", "sum_qty", "count_order",
        F.round(F.col("_b") / 100.0, 2).alias("sum_base_price"),
        F.round(F.col("_d") / 100.0, 2).alias("sum_disc_price"),
        F.round(F.col("_c") / 100.0, 2).alias("sum_charge"),
        F.round(F.col("sum_qty") / n.cast("double"), 6).alias("avg_qty"),
        F.round(F.col("_b") / (n * 100.0), 6).alias("avg_price"),
        F.round(F.col("_bp") / (n * 10000.0), 6).alias("avg_disc"),
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority (filtered dim broadcast → fact join
    → agg → top-k): revenue ranked on EXACT integer cents with the
    orderkey tiebreak, so the top-10 cut is deterministic across
    engines — a float-ranked LIMIT would flip near-ties."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    d = F.lit("1998-03-15")
    j = (
        li.where(F.col("l_shipdate") > d)
        .join(
            o.where(F.col("o_orderdate") < d),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    g = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(rev_c).alias("_rc")
    )
    return (
        g.orderBy(F.col("_rc").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.round(F.col("_rc") / 100.0, 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


BM25_TERMS = ["customer", "merge", "vector", "window"]


def q_acf_hourly(spark, sf_dir):
    """Multi-lag autocorrelation spectrum (lags 1..24 h) of dense
    hourly event counts per metric — seasonality detection with the
    reference's Pearson machinery pointed at a series against itself.
    ρ assembled from exact BIGINT moments → bit-exact vs DuckDB."""
    from timeseriescorrelation_spark.operators.acf import acf_spectrum

    return acf_spectrum(_series_from_events(spark, sf_dir), max_lag=24)


def q_dominant_period(spark, sf_dir):
    """Per-metric dominant period: argmax of the ACF spectrum over
    lags 2..24, smallest lag wins ties on the 6-dp-rounded ρ."""
    from timeseriescorrelation_spark.operators.acf import dominant_period

    return dominant_period(_series_from_events(spark, sf_dir), max_lag=24)


def q_sax_daily(spark, sf_dir):
    """SAX symbolization: each (metric, day) becomes a word over
    {a,b,c,d} — hourly means z-scored against the day's exact integer
    moments, cut at the N(0,1) quartile breakpoints.  All floats are
    single divisions/sqrt of exact integers → symbols bit-match."""
    from timeseriescorrelation_spark.operators.sax import sax_daily

    return sax_daily(_series_from_events(spark, sf_dir))


def q_bm25_search(spark, sf_dir):
    """Fixed-point BM25 top-20 over a literal query-term set: per-term
    contributions snapped to integer micro-units before the per-doc
    sum, so ranking never depends on float addition order."""
    from timeseriescorrelation_spark.operators.bm25 import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=20)


def q_dedup_prefix_jaccard(spark, sf_dir):
    """Prefix-filtering Jaccard τ-join (SSJoin/PPJoin): df-ordered
    prefixes bound the candidate join to RARE shingles' posting lists;
    exact in-row verify; zero false negatives by construction.
    τ=0.7 — the near-dup regime the technique is built for: prefix
    length is sz−⌈τ·sz⌉+1 ≈ 0.3·sz, so LOW τ degenerates toward the
    naive join (measured: τ=0.2 benched 7.2 s vs ~1 s at τ=0.7 for
    the IDENTICAL result set on this corpus' near-exact duplicates)."""
    from timeseriescorrelation_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    return prefix_jaccard_pairs(
        _docs(spark, sf_dir), n=3, tau_num=7, tau_den=10
    ).select(
        "id_a", "id_b",
        F.col("inter_n").cast("int").alias("inter_n"),
        F.col("union_n").cast("long").alias("union_n"),
    )


def q_doc_surprisal(spark, sf_dir):
    """Unigram-LM mean token surprisal per doc (the cheap LM-quality
    screen): −ln p(tok) snapped to integer micro-nats BEFORE the
    per-doc sum, so aggregation is exact integer arithmetic."""
    from timeseriescorrelation_spark.operators.lm import doc_surprisal

    return doc_surprisal(_docs(spark, sf_dir))


def q_source_drift(spark, sf_dir):
    """KL(source ‖ corpus) over token distributions per source —
    ingest-feed drift monitoring; fixed-point micro-nat terms with
    decimal(38,0)/hugeint-widened integer ratios inside ln()."""
    from timeseriescorrelation_spark.operators.lm import source_drift

    return source_drift(_docs(spark, sf_dir))


PHRASE = ["row", "column", "sort"]


def q_collocations_pmi(spark, sf_dir):
    """Adjacent-bigram PMI collocations in integer micro-nats: one ln
    of a ratio of exact decimal(38,0)/hugeint integer products per
    surviving pair; bigrams from an in-row zip (no self-join)."""
    from timeseriescorrelation_spark.operators.lm import collocations_pmi

    return collocations_pmi(_docs(spark, sf_dir), min_pair_n=5)


def q_phrase_search(spark, sf_dir):
    """Exact-phrase retrieval over a positional inverted index:
    |phrase| equi-joins on (doc_id, pos − i) over the phrase tokens'
    posting lists only — Lucene's PhraseQuery plan, no regex scan."""
    from timeseriescorrelation_spark.operators.lm import phrase_search

    return phrase_search(_docs(spark, sf_dir), PHRASE)


def q_skew_report(spark, sf_dir):
    """Per-metric key-skew measurement (Gini + top-key share over
    per-conv_id row counts) — the detector that decides when salted
    repartitioning is worth its shuffle.  Exact decimal/hugeint
    rank·count sums; micro-unit floors bit-match cross-engine."""
    from timeseriescorrelation_spark.operators.skew import key_skew_report

    return key_skew_report(_series_from_events(spark, sf_dir))


def q_forecast_eval(spark, sf_dir):
    """Seasonal-naive forecast backtest (ŷ(t) = y(t − 24 h) on hourly
    cent totals): exact integer SAE, fixed-point micro-unit MAE/sMAPE;
    calendar-offset equi-join pairing (missing hours drop, never
    misalign)."""
    from timeseriescorrelation_spark.operators.acf import (
        seasonal_naive_backtest,
    )

    return seasonal_naive_backtest(
        _series_from_events(spark, sf_dir), period_hours=24
    )


def q_pagerank_events(spark, sf_dir):
    """Integer fixed-point PageRank (3 power iterations, d=0.85 as the
    exact rational 85/100) over the event-type transition graph —
    every update is integer multiply + DIV, no doubles, so the DuckDB
    oracle unrolls the iterations bit-exactly."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        pagerank_fixedpoint,
    )

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .withColumn("w", F.lit(1))
    )
    return pagerank_fixedpoint(d, n_iter=3)


def q_pagerank_dangling(spark, sf_dir):
    """Mass-conserving integer PageRank (round 3, VERDICT r02 #5):
    dangling outflow + undamped shares pool-redistributed with exact
    DIV/mod remainder accounting, total pinned at 10⁶·|V| every
    iteration; the oracle unrolls the 3 iterations as integer CTEs —
    bit-exact."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        pagerank_conserving,
    )

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .withColumn("w", F.lit(1))
    )
    return pagerank_conserving(d, n_iter=3)


def q_seasonal_strength(spark, sf_dir):
    """Seasonal strength: one-way-ANOVA R² of the dow×hour profile in
    integer micro-units — exact decimal/hugeint sums everywhere except
    ONE rounded per-cell division re-entering exact arithmetic.  The
    dow labels differ across engines (Spark 1–7, DuckDB 0–6) but only
    partition the cells — injective relabeling, identical grouping."""
    from timeseriescorrelation_spark.operators.acf import seasonal_strength

    return seasonal_strength(_series_from_events(spark, sf_dir))


def q_hll_overlap(spark, sf_dir):
    """Distinct-user overlap between every metric pair by inclusion-
    exclusion on merged HLL sketches (union = register max) — raw data
    touched once; the pair stage sees only registers."""
    from timeseriescorrelation_spark.operators.sketches import hll_overlap

    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("seg"),
        F.col("user_id").cast("string").alias("item"),
    )
    return hll_overlap(e, "seg", "item", b=10)


def q_km_survival(spark, sf_dir):
    """Kaplan-Meier conversation-survival curve per metric with right
    censoring at a 1h frontier horizon: exact integer micro-nat
    log-survival (fixed-point per-step ln, exact cumulative sum);
    surv = 6-dp exp of that integer."""
    from timeseriescorrelation_spark.operators.survival import km_survival

    return km_survival(
        _series_from_events(spark, sf_dir), censor_horizon_s=3600
    )


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall nonparametric trend test per (metric, day): exact
    integer S and tie-corrected variance, one divide/sqrt for z —
    bit-exact cross-engine with no rounding tricks."""
    from timeseriescorrelation_spark.operators.analytics import (
        mann_kendall_daily,
    )

    return mann_kendall_daily(_series_from_events(spark, sf_dir))


def q_changepoint_daily(spark, sf_dir):
    """Single-split binary segmentation per (metric, day): one window
    cumsum + one window max over exact integer prefix sums — the
    argmax and segment means are assembled from identical integers in
    both engines (round 3)."""
    from timeseriescorrelation_spark.operators.changepoint import (
        changepoint_daily,
    )

    return changepoint_daily(
        _series_from_events(spark, sf_dir), keys=["metric"], min_n=8
    )


def q_burst_hours(spark, sf_dir):
    """Kleinberg-style burst flag: hour flagged when cnt exceeds 3×
    the trailing-23-observed-hours mean — the comparison stays in
    integers (cnt·n_trail > 3·trail_sum), no float in the flag."""
    from timeseriescorrelation_spark.operators.changepoint import (
        burst_hours,
    )

    return burst_hours(
        _series_from_events(spark, sf_dir), keys=["metric"],
        num=3, den=1, min_count=10,
    )


def q_theil_sen(spark, sf_dir):
    """Sen's slope per (metric, day): median of exact pairwise slopes
    — bounded-n O(n²)-per-day-group companion to mann_kendall, NOT in
    the headline bench by the same policy."""
    from timeseriescorrelation_spark.operators.analytics import (
        theil_sen_daily,
    )

    return theil_sen_daily(
        _series_from_events(spark, sf_dir), keys=["metric"], min_n=8
    )


def q_corr_matrix_daily(spark, sf_dir):
    """Pairwise Pearson between every metric pair's hourly cent-sum
    series within each day — aggregate-first, so the pair space is
    |metrics|²·|hours|, independent of raw row count."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        corr_matrix_daily,
    )

    return corr_matrix_daily(
        _series_from_events(spark, sf_dir), key="metric", min_hours=4
    )


def q_granger_gain(spark, sf_dir):
    """Granger-style screen: R² improvement of adding x_{t−1} to
    y_t ~ y_{t−1} on the hourly grid, closed-form 2-predictor OLS
    from exact decimal38 moments."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        granger_gain,
    )

    return granger_gain(
        _series_from_events(spark, sf_dir), key="metric", min_n=24
    )


def q_mutual_info(spark, sf_dir):
    """Pairwise mutual information between metrics over co-occurring
    hours: hourly means quartile-binned with ntile (exact integer rank
    over a deterministic (mean, hour) order), MI summed from
    micro-nat-snapped terms over exact integer count ratios."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        mutual_information_pairs,
    )

    return mutual_information_pairs(
        _series_from_events(spark, sf_dir)
    ).where(F.col("n_hours") >= 24)


def q_beta_daily(spark, sf_dir):
    """Per-day OLS beta/alpha of each metric's hourly cent sums on
    every other metric's — the directional hedge-ratio companion to
    corr_matrix_daily, from the same exact decimal38 moments."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        beta_daily,
    )

    return beta_daily(
        _series_from_events(spark, sf_dir), key="metric", min_hours=6
    )


def q_js_drift(spark, sf_dir):
    """Jensen–Shannon divergence day-over-day per metric on
    yesterday's-decile bins: bounded symmetric drift score, per-bin
    terms micro-nat-snapped, each ln over one exact integer ratio."""
    from timeseriescorrelation_spark.operators.drift import js_drift_daily

    return js_drift_daily(_series_from_events(spark, sf_dir))


def q_gini_daily(spark, sf_dir):
    """Gini coefficient of per-conversation event counts within each
    (metric, day): exact integer numerator/denominator from one rank
    window over the collapsed per-actor table, one final divide."""
    from timeseriescorrelation_spark.operators.activity import (
        gini_concentration,
    )

    return gini_concentration(_series_from_events(spark, sf_dir))


def q_na_hazard(spark, sf_dir):
    """Nelson–Aalen cumulative hazard per metric over the km_survival
    risk table (1h censor horizon): per-step d/n snapped to integer
    micro-units, exact cumulative sum."""
    from timeseriescorrelation_spark.operators.survival import na_hazard

    return na_hazard(
        _series_from_events(spark, sf_dir), censor_horizon_s=3600
    )


def q_lead_lag(spark, sf_dir):
    """Best-alignment lead-lag screen: for every ordered metric pair,
    the hourly lag in [-3, 3] maximizing |Pearson| on the shifted
    cent-sum grid — argmax via a unique packed int64 key + max_by."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        lead_lag_best,
    )

    return lead_lag_best(
        _series_from_events(spark, sf_dir), key="metric",
        max_lag_h=3, min_n=24,
    )


def q_error_wilson(spark, sf_dir):
    """Daily error-share Wilson 95% interval: exact integer counts in,
    one identical IEEE expression tree out (granger contract)."""
    from timeseriescorrelation_spark.operators.analytics import (
        proportion_wilson,
    )

    return proportion_wilson(
        _events(spark, sf_dir), F.col("event_type") == "error"
    )


def q_dow_anova(spark, sf_dir):
    """One-way ANOVA of hourly volume across day-of-week groups per
    metric: group moments exact in decimal38, each rational S²/n
    unit-snapped, F one fixed double expression over exact integers."""
    from timeseriescorrelation_spark.operators.decompose import dow_anova

    return dow_anova(_series_from_events(spark, sf_dir))


def q_trimmed_mean(spark, sf_dir):
    """10%-trimmed mean per (metric, day) on cent ints: rank window
    drops k lowest/highest (tie-invariant kept sum), one divide."""
    from timeseriescorrelation_spark.operators.analytics import (
        trimmed_mean,
    )

    return trimmed_mean(_series_from_events(spark, sf_dir), trim=0.1)


def q_peak_census(spark, sf_dir):
    """Strict local maxima of each metric's hourly-mean series within
    each day, with one-sided prominence (drop to taller neighbour)."""
    from timeseriescorrelation_spark.operators.analytics import (
        peak_census,
    )

    return peak_census(_series_from_events(spark, sf_dir))


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth over doc-id ingestion batches:
    never-before-seen token counts + running vocabulary, all exact
    distinct counting."""
    from timeseriescorrelation_spark.operators.textstats import (
        vocab_growth,
    )

    return vocab_growth(_docs(spark, sf_dir), batch_size=100)


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov per (metric, day) vs the previous
    day: D maximized over the exact integer numerator
    |cumA·nB − cumB·nA| with RANGE-frame tie handling."""
    from timeseriescorrelation_spark.operators.drift import ks_drift_daily

    return ks_drift_daily(
        _series_from_events(spark, sf_dir), keys=["metric"], min_n=8
    )


def q_entropy_daily(spark, sf_dir):
    """Shannon entropy of the daily event-type mix, micro-nat-snapped
    per term before summation (the lm.py recipe)."""
    from timeseriescorrelation_spark.operators.drift import entropy_daily

    return entropy_daily(_events(spark, sf_dir))


def q_benford(spark, sf_dir):
    """Benford first-digit χ² per metric: digit read from the decimal
    string of the cent-snapped integer (no log10 near decade
    boundaries), χ² terms micro-snapped before the sum."""
    from timeseriescorrelation_spark.operators.drift import benford_check

    return benford_check(
        _series_from_events(spark, sf_dir), keys=["metric"], min_n=50
    )


def q_assoc_rules(spark, sf_dir):
    """Market-basket association rules over (user, day) event baskets:
    support / confidence(a→b) / lift from exact distinct-basket
    counts — three hash-aggs and one self-join on basket id shape
    (collapsed here to per-item basket counts joined through the pair
    count).  Every statistic is one double division of exact integers
    rounded to 6 dp — bit-exact vs the oracle."""
    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.date_trunc("day", "ts").alias("day_ts"),
        F.col("event_type").alias("item"),
    ).distinct()
    tot = ev.select("user_id", "day_ts").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item_n = ev.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = ev.select("user_id", "day_ts", F.col("item").alias("a"))
    b = ev.select("user_id", "day_ts", F.col("item").alias("b"))
    pair_n = (
        a.join(b, ["user_id", "day_ts"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = item_n.select(F.col("item").alias("a"), F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("item").alias("b"), F.col("n_item").alias("n_b"))
    j = (
        pair_n.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .crossJoin(F.broadcast(tot))
    )
    dN = F.col("n_baskets").cast("double")
    return j.select(
        "a", "b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.round(F.col("n_ab").cast("double") / dN, 6).alias("support"),
        F.round(
            F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 6
        ).alias("conf_a_to_b"),
        F.round(
            F.col("n_ab").cast("double") / F.col("n_b").cast("double"), 6
        ).alias("conf_b_to_a"),
        F.round(
            F.col("n_ab").cast("double") * dN
            / (F.col("n_a") * F.col("n_b")).cast("double"),
            6,
        ).alias("lift"),
    )


def q_bpe_vocab(spark, sf_dir):
    """Tokenizer induction: 8 BPE merges learned on the word-frequency
    table (the only corpus-wide pass), vocab segmented under them.
    Driver-paced argmax loop → rows-only check; the merge sequence is
    pinned by pytest against the hand-computed Sennrich example
    (tests/test_bpe.py)."""
    from timeseriescorrelation_spark.operators.bpe import (
        bpe_learn,
        bpe_segment,
    )

    d = _docs(spark, sf_dir)
    seg = bpe_segment(d, bpe_learn(d, n_merges=8))
    # pieces joined to one string: array columns don't sort/hash in
    # the driver's pandas compare
    return seg.select(
        "word", "n", F.concat_ws(" ", "pieces").alias("pieces")
    )


def q_dtw_daily(spark, sf_dir):
    """Banded DTW between every metric pair's z-normed 24-point daily
    profile — elastic shape similarity where Pearson dies on phase
    shifts.  Fully gated: the fixed profile length unrolls the 2-D
    recurrence along anti-diagonals into 47 generated SQL levels,
    bit-exact because the z-norm is a shared exact-integer expression
    (see _dtw_oracle); also pinned by pytest vs an unbanded
    brute-force reference (tests/test_dtw.py)."""
    from timeseriescorrelation_spark.operators.dtw import dtw_daily_pairs

    return dtw_daily_pairs(
        _series_from_events(spark, sf_dir), key="metric", band=3
    )


def q_quantile_transform(spark, sf_dir):
    """Rank-based quantile normalization per (metric, day): value →
    within-day ECDF position, integer ranking key, SQL percent_rank
    semantics shared with the oracle."""
    from timeseriescorrelation_spark.operators.analytics import (
        quantile_transform_daily,
    )

    return quantile_transform_daily(
        _series_from_events(spark, sf_dir), keys=["metric"]
    )


def q_ann_pq(spark, sf_dir):
    """PQ + refine ANN: 16×32 product-quantization codebooks, ADC scan
    over the m-int codes (float corpus never re-read), exact re-rank
    of the top-100 shortlist.  Approximate by construction → rows-only
    driver check; recall ≥ 0.9 vs brute force pinned by pytest
    (tests/test_similarity.py::test_pq_adc_refine_recall), the IVF
    nprobe policy."""
    from timeseriescorrelation_spark.operators.similarity import (
        pq_topk_adc,
    )

    e = _embs(spark, sf_dir)
    return pq_topk_adc(
        e, e.where(F.col("vec_id") < 5), k=10, m=16, ksub=32,
        n_iter=2, refine=100,
    )


def q_trigram_paths(spark, sf_dir):
    """Second-order journey mining: counts of (a → b → c) event paths
    over each user's time-ordered stream — event_transitions' Markov
    matrix extended one lag (two window lags on the SAME partition
    sort, one hash agg; shuffle ≈ |users|-keyed once).  top-50 by
    (n desc, path asc) via TakeOrdered."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .where(F.col("e1").isNotNull())
    )
    return (
        d.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(50)
    )


def q_sliding_quota(spark, sf_dir):
    """Sliding-window rate-limit audit: for each user, the max number
    of events inside ANY trailing-1h window (evaluated at event
    times — the standard telescoping trick: a RANGE window over
    epoch µs counts events in (t−1h, t]), plus the first breach time
    for users whose peak exceeds the quota.  One shuffle keyed
    user_id; the RANGE frame is per-user, never global."""
    from pyspark.sql import Window

    quota = 20
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(t_us)
        .rangeBetween(-3_600_000_000 + 1, 0)
    )
    d = _events(spark, sf_dir).select(
        "user_id",
        F.col("ts"),
        F.count(F.lit(1)).over(w).alias("win_cnt"),
    )
    return d.groupBy("user_id").agg(
        F.max("win_cnt").cast("long").alias("peak_1h"),
        F.min(
            F.when(F.col("win_cnt") > quota, F.col("ts"))
        ).alias("first_breach_ts"),
        (F.max("win_cnt") > quota).alias("breached"),
    )


def q_changepoints_multi(spark, sf_dir):
    """Recursive binary segmentation (driver-paced fixpoint over the
    single-split primitive) — piecewise-constant fit per (metric,
    day).  Fully gated: max_splits=2 is a FIXED recursion depth, so
    the oracle unrolls the loop as two identical SQL levels (split
    scan → best cut → relabel); semantics additionally pinned by
    pytest against hand-computed segmentations."""
    from timeseriescorrelation_spark.operators.changepoint import (
        changepoints_multi,
    )

    return changepoints_multi(
        _series_from_events(spark, sf_dir), keys=["metric"],
        max_splits=2, min_gain=0.5, min_seg=4,
    )


def q_hybrid_search(spark, sf_dir):
    """Reciprocal-rank fusion of BM25 (terms) and embedding-cosine
    (query vec 0) top-50 lists: 1/(60+rank) terms nano-snapped before
    the fusion sum, so the fused order is an exact-integer comparison
    (doc_id ≡ vec_id in the test corpus)."""
    from timeseriescorrelation_spark.operators.hybrid import hybrid_search

    return hybrid_search(
        _docs(spark, sf_dir), _embs(spark, sf_dir), BM25_TERMS,
        query_vec_id=0, k=20, n_each=50,
    )


def q_bigram_surprisal(spark, sf_dir):
    """Word-ORDER quality screen: per-doc mean bigram surprisal under
    the corpus Laplace(+1) bigram LM, in integer micro-nats (the
    doc_surprisal fixed-point contract one order up — shuffled or
    templated text keeps its unigram profile but collapses here).
    Bigrams built in-row (zip_with), model = two hash-aggs."""
    from timeseriescorrelation_spark.operators.lm import bigram_surprisal

    return bigram_surprisal(_docs(spark, sf_dir))


def q_activity_islands(spark, sf_dir):
    """Per (user, day) active-time accounting: each event opens a
    5-minute [ts, ts+300s) activity span; overlapping spans merge via
    gaps-and-islands (running-max form — correct under containment),
    reporting n_spans / n_islands / union-coverage µs / longest
    stretch µs, all exact integers."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us
    from timeseriescorrelation_spark.operators.intervals import (
        interval_islands,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.date_trunc("day", "ts").alias("day_ts"),
        epoch_us(F.col("ts")).alias("s_us"),
        (epoch_us(F.col("ts")) + F.lit(300_000_000)).alias("e_us"),
    )
    return interval_islands(e, keys=["user_id", "day_ts"])


def q_rfm_features(spark, sf_dir):
    """RFM customer segmentation over orders: recency vs the corpus
    max date, exact-integer cent monetary, ntile(5) scores assigned by
    the DISTRIBUTED two-pass rank (ranks.global_row_number +
    ntile_expr) — no single-partition window anywhere."""
    from timeseriescorrelation_spark.operators.retention import (
        rfm_features,
    )

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return rfm_features(o, n_tiles=5)


def q_seasonal_mad(spark, sf_dir):
    """Seasonality-aware robust outliers: mad_outliers keyed by
    (metric, day-of-week, hour-of-day), so a Monday-9am spike is
    judged against Monday-9am behaviour, not the global median —
    the robust counterpart of the seasonal_profile z-detector.
    Same exact .5-step median / .25-step MAD contract."""
    from timeseriescorrelation_spark.operators.analytics import mad_outliers

    s = _series_from_events(spark, sf_dir).select(
        "conv_id", "metric", "ts", "turn_idx", "value",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hod"),
    )
    return mad_outliers(s, k=3.0, keys=["metric", "dow", "hod"])


def q_hll_rolling_7d(spark, sf_dir):
    """Trailing-7-day distinct users per event_type (the WAU shape)
    from the SAME mergeable daily HLL registers the tier cascade
    maintains: day registers explode to the 7 window-end days they
    cover and max-merge there — W·|groups|·m slim rows, no raw-row
    distinct over the window, no range window, no day-grid densify.
    The exact side uses the same explode trick (7×|events| linear
    shuffle, never a non-equi range join).  Estimate verified EXACTLY
    by the oracle (md5 registers, integer harmonic sum)."""
    from timeseriescorrelation_spark.operators.sketches import (
        hll_estimate,
        hll_rolling,
        hll_sketch,
    )

    e = _events(spark, sf_dir).select(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
        F.col("user_id"),
    )
    daily = hll_sketch(e, ["event_type", "bucket_ts"], "user_id")
    rolled = hll_rolling(daily, ["event_type"], "bucket_ts",
                         window_days=7)
    est = hll_estimate(rolled, ["event_type", "bucket_ts"])
    days = e.select("event_type", "bucket_ts").distinct()
    exact = (
        e.select(
            "event_type", "user_id",
            F.explode(
                F.sequence(
                    F.col("bucket_ts"),
                    F.col("bucket_ts") + F.expr("interval 6 days"),
                    F.expr("interval 1 day"),
                )
            ).alias("bucket_ts_t"),
        )
        .groupBy("event_type", F.col("bucket_ts_t").alias("bucket_ts"))
        .agg(F.countDistinct("user_id").alias("exact_distinct7"))
        .join(days, ["event_type", "bucket_ts"], "left_semi")
    )
    return est.join(exact, ["event_type", "bucket_ts"]).select(
        "event_type", "bucket_ts", "exact_distinct7",
        F.col("hll_est").alias("hll_est7"),
        F.round(
            (F.col("hll_est") - F.col("exact_distinct7")) * 100.0
            / F.col("exact_distinct7"),
            6,
        ).alias("rel_err_pct"),
    )


def q_scd2_state(spark, sf_dir):
    """SCD2 dimension history from the event log: each user's
    consecutive runs of equal event_type collapse into half-open
    validity intervals with is_current on the last — the standard
    warehouse type-2 build (two cumulative windows on one sort + one
    hash-agg + one lead over the collapsed table).  Ties broken by
    event_id for a total order both engines share."""
    from timeseriescorrelation_spark.operators.scd import scd2_history

    e = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("state")
    )
    return scd2_history(
        e, keys=["user_id"], attr_cols=["state"],
        tie_col="event_id",
    )


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement, 20 docs per lang with
    probability ∝ n_chars: Efraimidis–Spirakis A-ES keys from
    md5-derived uniforms, nano-snapped before the partitioned top-k
    window — deterministic across engines, clusters and restarts
    (df.sample's RNG is partition-layout dependent and can be none of
    those)."""
    from timeseriescorrelation_spark.operators.sampling import (
        weighted_sample_topk,
    )

    d = _docs(spark, sf_dir).where(F.col("n_chars") > 0)
    return weighted_sample_topk(
        d, strata=["lang"], weight_col="n_chars", k=20,
    )


def q_seq_packing(spark, sf_dir):
    """Token-budget sequence packing (training-batch construction):
    docs laid out in (source, doc_id) order, each assigned to the
    2048-token pack where it STARTS in the virtual concatenated
    stream — the order-preserving distributed packing rule; per-pack
    doc/token accounting, all exact integers."""
    from timeseriescorrelation_spark.operators.textstats import (
        pack_sequences,
    )

    return pack_sequences(_docs(spark, sf_dir), budget=2048)


def q_psi_daily(spark, sf_dir):
    """Population Stability Index day-over-day per metric: today's
    values binned by yesterday's decile edges, Laplace-smoothed
    proportions, Σ (p−q)·ln(p/q) in exact micro-units — the bucketed
    drift score monitoring dashboards expect next to ks_drift's rank
    statistic."""
    from timeseriescorrelation_spark.operators.drift import psi_daily

    return psi_daily(_series_from_events(spark, sf_dir), keys=["metric"])


def q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ with residual encoding (FAISS's production shape): coarse
    k-means cells prune the scan to nprobe/n_cells, PQ codes of the
    RESIDUAL v−c(cell) score via one per-query LUT + per-(query, cell)
    offset, exact refine of the top-100.  Approximate by construction →
    rows-only driver check; recall pinned by pytest
    (tests/test_similarity.py::test_ivf_pq_recall)."""
    from timeseriescorrelation_spark.operators.similarity import (
        ivf_pq_topk,
    )

    e = _embs(spark, sf_dir)
    return ivf_pq_topk(
        e, e.where(F.col("vec_id") < 5), k=10, n_cells=8, nprobe=4,
        m=16, ksub=32, n_iter=2, refine=100,
    )


def q_dedup_canonical(spark, sf_dir):
    """The dedup DECISION table a pipeline actually materializes: every
    doc labeled with its near-dup cluster (singletons = own cluster via
    left join + coalesce) and a keep flag — canonical = longest doc,
    ties to the lowest id, via a cluster-partitioned window.  NOT in
    the headline bench: its cost is dedup_clusters + ε (it reads the
    same CC labels from the session graph cache)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    labels = _jaccard_cc(spark, sf_dir)
    all_docs = (
        d.select("doc_id", "n_chars")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", "n_chars",
            F.coalesce("cluster", "doc_id").alias("cluster"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return all_docs.select(
        "doc_id", "cluster", "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def q_funnel_timed(spark, sf_dir):
    """Deadline funnel (time-to-convert detail): per user the first
    signup, the first click within 6h OF IT, the first purchase within
    6h of that — the greedy dashboard semantics; funnel_3step's chain
    with per-step deadlines and PER-USER output (stage reached +
    inter-step lags in seconds) instead of reach counts.  Same scale
    shape: three filtered min-aggs chained by |users|-row equi-joins,
    no window over the raw stream."""
    e = _events(spark, sf_dir)
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ddl = 6 * 3600 * 1_000_000
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min(tus).alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .select("user_id", tus.alias("t"))
        .join(s1, "user_id")
        .where((F.col("t") > F.col("t1")) & (F.col("t") <= F.col("t1") + ddl))
        .groupBy("user_id").agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", tus.alias("t"))
        .join(s2, "user_id")
        .where((F.col("t") > F.col("t2")) & (F.col("t") <= F.col("t2") + ddl))
        .groupBy("user_id").agg(F.min("t").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("stage_reached"),
            F.round((F.col("t2") - F.col("t1")) / 1e6, 6).alias("lag12_s"),
            F.round((F.col("t3") - F.col("t2")) / 1e6, 6).alias("lag23_s"),
        )
    )


def q_dedup_triangles(spark, sf_dir):
    """Cluster-density QA on the near-dup graph: per-doc triangle
    counts over the τ-Jaccard edge set — distinguishes CLIQUE-shaped
    clusters (true duplicates: every pair similar) from CHAIN-shaped
    ones (template drift: a~b~c but a≁c), which deserve different
    curation treatment.  The ordered three-way self-join (a<b<c)
    counts each triangle once; per-node counts via one explode of the
    3 corners.  Scale notes: runs on the candidate-pair graph only
    (|edges| ≪ |docs|², the LSH/prefix-filter invariant), three
    equi-joins keyed by doc id.  Edge set from the session graph
    cache."""
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .select("a", "b", "c")
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def q_dq_report(spark, sf_dir):
    """Data-quality verification suite (Deequ shape) over events +
    one referential check against customer: seven expectations in ONE
    aggregation pass (conditional counts — never a scan per check),
    verdicts decided by integer cross-multiply, unioned with the
    orphan-key anti-join row."""
    from timeseriescorrelation_spark.operators.dq import (
        dq_checks,
        dq_ref_check,
    )

    e = _events(spark, sf_dir)
    suite = dq_checks(e, [
        {"type": "not_null", "col": "ts"},
        {"type": "not_null", "col": "user_id"},
        {"type": "not_null", "col": "props", "min_frac": 0.5},
        {"type": "unique", "col": "event_id"},
        {"type": "range", "col": "value", "lo": -1e9, "hi": 1e9},
        {"type": "in_set", "col": "event_type",
         "allowed": ["signup", "click", "purchase", "view", "error",
                     "api_call"]},
        {"type": "matches", "col": "props", "pattern": "^\\{"},
    ])
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    ref = dq_ref_check(e, c, "user_id", "c_custkey")
    return suite.unionByName(ref)


def q_ab_readout(spark, sf_dir):
    """Experiment readout: users split 50/50 by md5 bucket (the
    leakage-safe unit — all of a user's events share one arm),
    conversion = ≥1 purchase; two-proportion z over exact integer
    counts, every statistic one fixed expression rounded at 6dp."""
    from timeseriescorrelation_spark.operators.abtest import ab_readout

    return ab_readout(_events(spark, sf_dir), target_event="purchase")


def q_stl_lite(spark, sf_dir):
    """Additive seasonal decomposition per metric: ±84h integer-sum
    moving trend, micro-snapped (dow, hod) seasonal profile of the
    detrended series, stationary residual — trend/seasonal/resid per
    hour, all divisions over exact integer window sums."""
    from timeseriescorrelation_spark.operators.decompose import stl_lite

    return stl_lite(_series_from_events(spark, sf_dir), half_window_h=84)


def q_trailing_active_24h(spark, sf_dir):
    """Exact trailing-24h distinct active convs per (metric, hour) —
    the exact counterpart of hll_7d's approximate trailing rollup.
    Collapse-then-explode shape: distinct (metric, conv, hour) tuples
    fan out into the ≤24 buckets they cover (clipped at the global max
    hour, 1-row side broadcast); one count-distinct shuffle. No range
    join."""
    from timeseriescorrelation_spark.operators.activity import (
        trailing_distinct,
    )

    return trailing_distinct(
        _series_from_events(spark, sf_dir), window_hours=24
    )


def q_burstiness_daily(spark, sf_dir):
    """Goh–Barabási burstiness B=(σ−μ)/(σ+μ) of within-conv
    inter-arrival gaps per (metric, day), plus mean gap and CV — all
    moments from exact integer µs sums (decimal(38,0) squared sums)."""
    from timeseriescorrelation_spark.operators.activity import (
        burstiness_daily,
    )

    return burstiness_daily(_series_from_events(spark, sf_dir))


def q_weighted_median(spark, sf_dir):
    """Event-weighted median of per-conv mean value per metric: the
    value a random EVENT experiences (vs the per-conv equal-weight
    median).  Cumulative-weight rule decided in int64 (2·cumw ≥ W);
    per-conv means are one double division of exact cent sums."""
    from timeseriescorrelation_spark.operators.activity import (
        weighted_median,
    )

    s = _series_from_events(spark, sf_dir)
    conv = s.groupBy("metric", "conv_id").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(snap("value", VALUE_DECIMALS)).alias("_sc"),
    ).select(
        "metric", "conv_id", "w",
        (F.col("_sc").cast("double")
         / (F.col("w") * SCALE).cast("double")).alias("mean_v"),
    )
    return weighted_median(conv, ["metric"], "mean_v", "w")


def q_sax_motifs(spark, sf_dir):
    """Recurring daily shapes: census of full-day 6-symbol SAX words
    (4-hour PAA segments) seen on ≥2 series-days — symbolic motif
    collision, linear in distinct words, the 100 TB-safe stage before
    any pair materialization."""
    from timeseriescorrelation_spark.operators.activity import sax_motifs
    from timeseriescorrelation_spark.operators.sax import sax_daily

    return sax_motifs(
        sax_daily(_series_from_events(spark, sf_dir), segment_hours=4),
        min_len=6,
    )


def q_decayed_topk(spark, sf_dir):
    """Exponentially time-decayed top-10 convs per metric (half-life
    24h, 'now' = table max ts): trending leaderboard where yesterday
    counts half of today.  Per-event terms snap to centi-cent int64
    before summation (measured pow margin, bm25 policy); rank window
    runs on aggregated per-conv rows only."""
    from timeseriescorrelation_spark.operators.activity import (
        decayed_leaderboard,
    )

    return decayed_leaderboard(
        _series_from_events(spark, sf_dir), half_life_s=86400.0, top_k=10
    )


def q_kanon_report(spark, sf_dir):
    """k-anonymity release gate over documents: QI = (lang, source,
    n_chars//100); per k in {2,5,10} the groups/rows below k and the
    at-risk row share.  One QI hash-agg, thresholds explode on the
    collapsed group table."""
    from timeseriescorrelation_spark.operators.privacy import kanon_report

    d = _docs(spark, sf_dir)
    return kanon_report(
        d,
        [F.col("lang"), F.col("source"),
         F.floor(F.col("n_chars") / 100).cast("long")],
        ks=[2, 5, 10],
    )


def q_conformal_pvalue(spark, sf_dir):
    """Conformal anomaly p-value per (metric, day): rank of today's
    daily mean among the trailing 28 daily means — distribution-free,
    exact finite-sample validity.  Mean comparisons are integer
    cross-multiplies (no float mean ever materialized); runs on the
    metadata-sized daily table."""
    from timeseriescorrelation_spark.operators.activity import (
        conformal_pvalue,
    )

    return conformal_pvalue(_series_from_events(spark, sf_dir))


def q_centroid_drift(spark, sf_dir):
    """Embedding centroid drift between consecutive vec_id//100
    ingestion batches: exact int64 micro-unit per-dim sums, cosine of
    consecutive centroids, drift = 1 - cos.  |batches|*d shuffle rows
    regardless of corpus size."""
    from timeseriescorrelation_spark.operators.similarity import (
        centroid_drift,
    )

    return centroid_drift(_embs(spark, sf_dir), batch_size=100)


def q_ann_dim_ablation(spark, sf_dir):
    """Matryoshka dimension ablation: overlap@10 between full-64d and
    first-32d (re-normalized) cosine rankings for the 5 sample queries
    -- the 'can we store half the dims?' go/no-go.  Two brute scans
    over broadcast queries, exact integer overlap."""
    from timeseriescorrelation_spark.operators.similarity import (
        dim_ablation_overlap,
    )

    return dim_ablation_overlap(
        _embs(spark, sf_dir), n_queries=5, k=10, keep_dims=32
    )


def q_expanding_zscore(spark, sf_dir):
    """Expanding (all-priors) z-score per event: cold-start-honest
    anomaly scoring that needs no window-length tuning.  Running
    (n, Σx, Σx²) over cent-snapped int64s are EXACT, shared with the
    DuckDB oracle and the streaming twin
    (streaming/zscore_stream.py, bit-equal across any micro-batch
    split); one shuffle to (conv, metric), one in-group sort."""
    from timeseriescorrelation_spark.operators.analytics import (
        expanding_zscore,
    )

    return expanding_zscore(_series_from_events(spark, sf_dir), min_n=3)


def q_growth_accounting(spark, sf_dir):
    """Daily growth-accounting ledger (new / retained / resurrected /
    churned), the MAU decomposition every product pipeline reports;
    telescoping identity active(d)−active(d−1) = new+resurrected−churned
    is pytest-asserted.  Shuffles only on the actor key; the churn join
    is |days| rows, broadcast."""
    from timeseriescorrelation_spark.operators.activity import (
        growth_accounting,
    )

    return growth_accounting(
        _series_from_events(spark, sf_dir)
    )


def q_ann_int8(spark, sf_dir):
    """Int8 scalar-quantization recall@10 vs exact cosine for the 5
    sample queries — the 4x-memory SQ index go/no-go, measured not
    assumed.  Quantized dots are exact whole-number doubles; both
    engines rank identical 6dp scores."""
    from timeseriescorrelation_spark.operators.similarity import (
        int8_quantize_recall,
    )

    return int8_quantize_recall(_embs(spark, sf_dir), n_queries=5, k=10)


def q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (period 24) over hourly event counts per
    metric — one-step-ahead volume forecast with level/trend/season
    decomposition.  Input is COUNTS (exact integers) so both engines
    smooth the identical float64 series; the DuckDB oracle replays the
    recursion in a recursive CTE with the same derived constants;
    seasonality indexes by OBSERVATION position (every 24th row), so
    compose a grid gap-fill (operators/gapfill.py) in front when
    strict hour-of-day alignment is required
    (repr(1−α), not a 0.7 literal — they differ in the last bit)."""
    from timeseriescorrelation_spark.operators.analytics import (
        holt_winters,
    )

    s = _series_from_events(spark, sf_dir)
    hourly = s.groupBy(
        "metric", F.date_trunc("hour", "ts").alias("ts")
    ).agg(F.count(F.lit(1)).cast("double").alias("value"))
    return holt_winters(
        hourly, period=24, alpha=0.3, beta=0.1, gamma=0.2
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier revenue: the 6-way snowflake join
    (region→nation fans to BOTH customer and supplier sides, with the
    c_nationkey = s_nationkey colocation predicate) — the canonical
    multi-dim broadcast-join tree.  All dims broadcast; the only
    shuffled table is lineitem.  Revenue snapped to integer cents per
    row, summed exact."""
    def t(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    asia_nations = (
        t("nation")
        .join(
            t("region").where(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    j = (
        t("lineitem")
        .join(
            t("orders").where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t("supplier")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        j.groupBy("n_name")
        .agg(F.sum(rev_c).alias("_rc"))
        .select(
            "n_name", F.round(F.col("_rc") / 100.0, 2).alias("revenue")
        )
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecasting-revenue-change: the pure scan-filter-agg
    probe — its whole point is predicate pushdown (the three filters
    must reach the parquet scan, asserted for this fixture family in
    tests/test_plans.py) and a one-row exact aggregate.  The discount
    band compares on basis points (round(l_discount·10⁴)) so the
    double column never enters a between."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    bp = F.round(F.col("l_discount") * 10000).cast("long")
    rev_c = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100
    ).cast("long")
    s = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_quantity") < 24)
    ).where(bp.between(500, 700))
    return s.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev_c) / 100.0, 2).alias("revenue"),
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers: aggregate-filtered semi-join
    (HAVING sum(qty) > 300 drives which orders survive) — the shape
    where the group-by must run BEFORE the join tree.  Quantities are
    whole doubles; cast to long so the threshold and output sums are
    integer-exact."""
    def t(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    li = t("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    j = (
        big.join(t("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(t("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return j.select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate",
        F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        "total_qty",
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority checking, adapted to the trimmed
    fixture schema (no l_commitdate/l_receiptdate): "late" means a
    lineitem shipped more than 30 days after the order date.  The
    shape is the point — an EXISTS semi-join where the probe predicate
    crosses tables (l_shipdate vs o_orderdate), compiled to a
    LeftSemi join on the order key with the date comparison as a
    residual condition; no lineitem column survives, so dedup happens
    inside the join, not as a distinct after it."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = o.where(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-04-01"))
    )
    late = q.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("interval 30 days")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting: revenue lost to 'R'
    returnflag lineitems per customer over a quarter, joined through
    orders to the customer and nation dims (both broadcast — they are
    the small sides by construction).  Top-20 cut ranks on EXACT
    integer cents with the custkey tiebreak, same determinism
    discipline as tpch_q3."""
    def t(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        t("lineitem").where(F.col("l_returnflag") == "R")
        .join(
            t("orders").where(
                (F.col("o_orderdate") >= F.lit("1997-10-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(t("customer")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t("nation")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    g = j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        F.sum(rev_c).alias("_rc")
    )
    return (
        g.orderBy(F.col("_rc").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round(F.col("_rc") / 100.0, 2).alias("revenue"),
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            "n_name",
        )
    )


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion effect: PROMO revenue share of one
    shipdate month (fixture p_type is the bare family name, so the
    predicate is equality, not LIKE 'PROMO%').  Part broadcasts into
    the filtered fact scan; both revenue sums are exact cent integers
    and the percentage is ONE double divide at the end."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = li.where(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    ).join(F.broadcast(p.select("p_partkey", "p_type")),
           F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev_c).otherwise(0))
            / F.sum(rev_c),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted revenue, adapted to the trimmed schema
    (no container/shipmode): disjunction of three (brand, size-band,
    quantity-band) conjunctions.  The OR-of-ANDs is the point — the
    common p_partkey equi-key still drives ONE broadcast hash join and
    the disjunction evaluates as a residual filter; brand/size legs
    also push into the part scan as (A∨B∨C) column bounds."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    qty = F.col("l_quantity")
    legs = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & qty.between(20, 30))
    )
    rev_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = li.join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).where(legs)
    return j.agg(
        F.round(F.sum(rev_c) / 100.0, 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def _tpch_t(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _tpch_rev_c():
    # exact revenue cents; a function, not a module-level Column —
    # building a Column requires a live SparkContext at import time
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")


def _tpch_partsupp(spark, sf_dir):
    """The fixture has no partsupp table, so the remaining TPC-H
    queries (Q2/Q11/Q16/Q20) run over a DERIVED one — a pure integer
    function of (part × 4 hash-chosen suppliers), computed identically
    in Spark and the DuckDB oracle:

        ps_suppkey   = (p_partkey·293 + 71·s) mod max(s_suppkey) + 1
        ps_cost_c    = (p_partkey·31 + ps_suppkey·17) mod 90000 + 10000
        ps_availqty  = (p_partkey·7 + ps_suppkey·3) mod 9999 + 1

    (cost in exact cents; hash collisions dedup via DISTINCT, so the
    PK is clean in both engines).  This keeps the JOIN SHAPES of the
    six queries real — the adaptation is the data, not the plan."""
    p = _tpch_t(spark, sf_dir, "part").select("p_partkey")
    smax = _tpch_t(spark, sf_dir, "supplier").agg(
        F.max("s_suppkey").alias("_smax"))
    ps = (
        p.crossJoin(F.broadcast(smax))
        .withColumn("_s", F.explode(F.array(*[F.lit(i) for i in range(4)])))
        .select(
            "p_partkey",
            (F.pmod(F.col("p_partkey") * 293 + 71 * F.col("_s"),
                    F.col("_smax")) + 1).alias("ps_suppkey"),
        )
        .distinct()
    )
    return ps.select(
        "p_partkey", "ps_suppkey",
        (F.pmod(F.col("p_partkey") * 31 + F.col("ps_suppkey") * 17,
                F.lit(90000)) + 10000).alias("ps_cost_c"),
        (F.pmod(F.col("p_partkey") * 7 + F.col("ps_suppkey") * 3,
                F.lit(9999)) + 1).alias("ps_availqty"),
    )


_TPCH_PS_CTES = """smax AS (
  SELECT max(s_suppkey) AS m FROM supplier
), ps0 AS (
  SELECT DISTINCT p_partkey,
         (p_partkey * 293 + 71 * t.s) % (SELECT m FROM smax) + 1
           AS ps_suppkey
  FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) t
), ps AS (
  SELECT p_partkey, ps_suppkey,
         (p_partkey * 31 + ps_suppkey * 17) % 90000 + 10000
           AS ps_cost_c,
         (p_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS ps_availqty
  FROM ps0
)"""


def _tpch_lineitem_days(spark, sf_dir):
    """lineitem + DERIVED commit/receipt DAY NUMBERS for Q12/Q21 (the
    fixture lacks both date columns).  Everything stays integer epoch
    days — the queries only ever COMPARE these dates, so no timestamp
    round-trip exists to disagree on:

        ship_day    = epoch_us(l_shipdate) // 86400e6
        commit_day  = ship_day − (l_orderkey·7 + l_linenumber·3) % 45
                      + 22            [±: some commits precede ship]
        receipt_day = ship_day + (l_orderkey·11 + l_linenumber·5) % 30
                      + 1
    """
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    li = _tpch_t(spark, sf_dir, "lineitem")
    ship_day = (epoch_us(F.col("l_shipdate")) / 86_400_000_000) \
        .cast("long")
    return li.select(
        "*",
        ship_day.alias("ship_day"),
        (ship_day
         - F.pmod(F.col("l_orderkey") * 7 + F.col("l_linenumber") * 3,
                  F.lit(45)) + 22).alias("commit_day"),
        (ship_day
         + F.pmod(F.col("l_orderkey") * 11 + F.col("l_linenumber") * 5,
                  F.lit(30)) + 1).alias("receipt_day"),
    )


_TPCH_LID_CTES = """lid AS (
  SELECT l.*,
         epoch_us(l_shipdate) // 86400000000 AS ship_day,
         epoch_us(l_shipdate) // 86400000000
           - (l_orderkey * 7 + l_linenumber * 3) % 45 + 22
           AS commit_day,
         epoch_us(l_shipdate) // 86400000000
           + (l_orderkey * 11 + l_linenumber * 5) % 30 + 1
           AS receipt_day
  FROM lineitem l
)"""


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume shipping: revenue flowing between two nations
    (either direction) by shipment year.  Shape: the fact scan joins
    orders (fact-fact, shuffled on the order key), then THREE
    broadcast dims (customer, supplier, nation twice under different
    aliases); the two-nation predicate is applied to the already-
    joined names so Catalyst pushes each half into its own dim scan.
    Revenue is exact cent integers per the repo discipline."""
    li = _tpch_t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = _tpch_t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _tpch_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _tpch_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _tpch_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("ck"),
                  F.col("n_name").alias("cust_nation"))
    n2 = n.select(F.col("n_nationkey").alias("sk"),
                  F.col("n_name").alias("supp_nation"))
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sk"))
        .where(
            ((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation",
                  F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_tpch_rev_c()) / 100.0, 2).alias("revenue"))
    )


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 national market share: NATION_3's share of STANDARD-
    part revenue sold into ASIA, by order year.  Both the numerator
    and denominator are exact cent sums inside ONE conditional
    hash-agg (no second pass); the share is a single double divide
    rounded to 6dp at the very end — the q14 precedent.  part /
    customer / supplier / nation / region all broadcast."""
    li = _tpch_t(spark, sf_dir, "lineitem")
    o = _tpch_t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    p = _tpch_t(spark, sf_dir, "part").where(
        F.col("p_type") == "STANDARD").select("p_partkey")
    c = _tpch_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _tpch_t(spark, sf_dir, "nation")
    r = _tpch_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = _tpch_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nc = n.join(F.broadcast(r),
                F.col("n_regionkey") == F.col("r_regionkey")) \
          .select(F.col("n_nationkey").alias("ck"))
    ns = n.select(F.col("n_nationkey").alias("sk"),
                  F.col("n_name").alias("supp_nation"))
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("sk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3",
                             _tpch_rev_c()).otherwise(F.lit(0)))
                / F.sum(_tpch_rev_c()),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(_tpch_rev_c()) / 100.0, 2).alias("total_revenue"),
        )
    )


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit, adapted to the trimmed fixture
    (no partsupp, so profit omits the ps_supplycost·l_quantity term
    and is revenue = extprice·(1−disc); the part filter is the name
    LIKE, kept from the original).  Group by supplier nation × order
    year; part broadcasts into the fact scan BEFORE the fact-fact
    orders join so the join input is pre-filtered to matching parts."""
    li = _tpch_t(spark, sf_dir, "lineitem")
    p = _tpch_t(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")).select("p_partkey")
    o = _tpch_t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _tpch_t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _tpch_t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation"))
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(_tpch_rev_c()) / 100.0, 2).alias("sum_profit"))
    )


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer order-count distribution, adapted: the
    original excludes orders by an o_comment LIKE (column absent), so
    the exclusion is o_orderpriority <> '1-URGENT'.  Shape is the
    point: LEFT join customer→filtered orders so zero-order customers
    appear with c_count = 0, then a second hash-agg over the count —
    the classic double-aggregation whose first shuffle is by custkey
    and second by the (tiny-domain) count."""
    c = _tpch_t(spark, sf_dir, "customer").select("c_custkey")
    o = _tpch_t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist"))


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier: the supplier(s) whose Q4-1996 revenue
    equals the maximum.  Revenue per supplier is ONE hash-agg on
    exact cents; the max is a 1-row agg crossJoin-broadcast back onto
    the |suppliers|-row revenue table (never a global sort), and ties
    — which the cents make well-defined — all surface, per the spec's
    own footnote."""
    li = _tpch_t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-10-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    s = _tpch_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_tpch_rev_c()).alias("rev_c"))
    mx = rev.agg(F.max("rev_c").alias("mx_c"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_c") == F.col("mx_c"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("rev_c") / 100.0, 2).alias("total_revenue"),
        )
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue, adapted (no
    p_container → the second part predicate is p_type = 'SMALL').
    The correlated per-part AVG becomes a window average over the
    part-filtered fact rows; the 'quantity < 0.2·avg' test is the
    integer cross-multiply 5·qty·cnt < sum_qty — quantities are
    integral doubles (fixture-verified), so both sides are exact
    int64 and no float boundary exists.  avg_yearly = sum/7 is one
    double divide of an exact cent integer at the end."""
    li = _tpch_t(spark, sf_dir, "lineitem")
    p = _tpch_t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")) \
          .select("l_partkey",
                  F.col("l_quantity").cast("long").alias("qty_i"),
                  _tpch_rev_c().alias("rev_c"))
    from pyspark.sql import Window
    w = Window.partitionBy("l_partkey")
    flt = j.withColumn("sum_qty", F.sum("qty_i").over(w)) \
           .withColumn("cnt_qty", F.count(F.lit(1)).over(w)) \
           .where(F.lit(5) * F.col("qty_i") * F.col("cnt_qty")
                  < F.col("sum_qty"))
    return flt.agg(
        F.round(F.sum("rev_c") / 700.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 global sales opportunity, adapted (no c_phone → the
    'country code' is c_nationkey itself, restricted to five keys).
    Three classic shapes in one query: a 1-row scalar threshold (the
    average POSITIVE balance over the candidate nations) broadcast
    back via crossJoin, the threshold test as the integer
    cross-multiply bal_c·n_pos > sum_pos_c on exact cents, and an
    ANTI join against RECENT orders for the lapsed customers (the
    spec's 'no orders for 7 years', windowed so the fixture's dense
    order history still yields a populated answer)."""
    keys = [3, 8, 13, 18, 23]
    c = _tpch_t(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(keys)
    ).select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    thr = c.where(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_pos_c"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    o = _tpch_t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    cand = (
        c.crossJoin(F.broadcast(thr))
        .where(F.col("bal_c") * F.col("n_pos") > F.col("sum_pos_c"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return cand.groupBy(F.col("c_nationkey").alias("cntrycode")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("bal_c") / 100.0, 2).alias("totacctbal"),
    )


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier over the DERIVED partsupp
    (_tpch_partsupp; p_type equality replaces LIKE '%BRASS' — fixture
    types are bare families).  The correlated regional min-cost
    subquery is a window min over p_partkey on the region-filtered
    join; the top-100 cut is a TakeOrdered on exact acctbal cents with
    a full deterministic tiebreak."""
    ps = _tpch_partsupp(spark, sf_dir)
    p = _tpch_t(spark, sf_dir, "part").where(
        (F.col("p_size") == 3) & (F.col("p_type") == "LARGE")
    ).select("p_partkey")
    s = _tpch_t(spark, sf_dir, "supplier")
    n = _tpch_t(spark, sf_dir, "nation")
    r = _tpch_t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    sn = (
        s.join(F.broadcast(
            n.join(F.broadcast(r),
                   F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name",
                F.round(F.col("s_acctbal") * 100).cast("long")
                 .alias("bal_c"))
    )
    j = (
        ps.join(F.broadcast(p), "p_partkey")
        .join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    from pyspark.sql import Window
    w = Window.partitionBy("p_partkey")
    best = j.withColumn("_mn", F.min("ps_cost_c").over(w)).where(
        F.col("ps_cost_c") == F.col("_mn"))
    return (
        best.select(
            F.round(F.col("bal_c") / 100.0, 2).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey",
            F.round(F.col("ps_cost_c") / 100.0, 2).alias("ps_supplycost"),
            "bal_c", "s_suppkey",
        )
        .orderBy(F.desc("bal_c"), "n_name", "s_name", "p_partkey",
                 "s_suppkey")
        .limit(100)
        .drop("bal_c", "s_suppkey")
    )


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 important stock: per-part inventory value of
    NATION_5's suppliers, HAVING value·1000 > national total — the
    scalar-subquery threshold as an exact integer cross-multiply on a
    1-row broadcast (no doubles until the final descale)."""
    ps = _tpch_partsupp(spark, sf_dir)
    s = _tpch_t(spark, sf_dir, "supplier")
    n = _tpch_t(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_5")
    sn = s.join(F.broadcast(n),
                F.col("s_nationkey") == F.col("n_nationkey")) \
          .select("s_suppkey")
    j = ps.join(F.broadcast(sn),
                F.col("ps_suppkey") == F.col("s_suppkey")) \
          .select("p_partkey",
                  (F.col("ps_cost_c") * F.col("ps_availqty"))
                  .alias("v_c"))
    per = j.groupBy("p_partkey").agg(F.sum("v_c").alias("val_c"))
    tot = per.agg(F.sum("val_c").alias("tot_c"))
    return (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("val_c") * 1000 > F.col("tot_c"))
        .select("p_partkey",
                F.round(F.col("val_c") / 100.0, 2).alias("value"))
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipmode priority split over DERIVED shipmode and
    commit/receipt day numbers (_tpch_lineitem_days): late-commit
    logic compares integer epoch days only; the priority split is one
    conditional hash-agg after the orders join (fact-fact, the one
    shuffle)."""
    modes = ["MAIL", "SHIP", "AIR", "RAIL", "TRUCK", "REG AIR", "FOB"]
    li = _tpch_lineitem_days(spark, sf_dir).withColumn(
        "shipmode",
        F.element_at(
            F.array(*[F.lit(m) for m in modes]),
            (F.pmod(F.col("l_orderkey") + F.col("l_linenumber"),
                    F.lit(7)) + 1).cast("int"),
        ),
    )
    d0 = 9496   # 1996-01-01 epoch day
    d1 = 9862   # 1997-01-01
    flt = li.where(
        F.col("shipmode").isin("MAIL", "SHIP")
        & (F.col("commit_day") < F.col("receipt_day"))
        & (F.col("ship_day") < F.col("commit_day"))
        & (F.col("receipt_day") >= d0) & (F.col("receipt_day") < d1)
    )
    o = _tpch_t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        flt.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 supplier count per part attribute bucket over the
    derived partsupp; the complaint-supplier exclusion (no comment
    column) is s_suppkey % 10 = 0, applied as a LEFT ANTI join so the
    shape (NOT IN subquery) survives the adaptation."""
    ps = _tpch_partsupp(spark, sf_dir)
    p = _tpch_t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _tpch_t(spark, sf_dir, "supplier").where(
        F.col("s_suppkey") % 10 == 0).select("s_suppkey")
    j = (
        ps.join(F.broadcast(p), "p_partkey")
        .join(F.broadcast(bad),
              F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("ps_suppkey").alias("supplier_cnt"))


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 excess-stock suppliers: NATION_7 suppliers holding a
    'small%' part whose derived availqty exceeds half the 1996 shipped
    quantity of that (part, supplier) — 2·avail > Σqty, exact ints.
    The correlated subquery chain compiles to one fact hash-agg + two
    broadcast joins + a final LEFT SEMI onto supplier."""
    ps = _tpch_partsupp(spark, sf_dir)
    p = _tpch_t(spark, sf_dir, "part").where(
        F.col("p_name").like("small%")).select("p_partkey")
    li = _tpch_t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    excess = (
        ps.join(F.broadcast(p), "p_partkey")
        .join(
            shipped,
            (F.col("p_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _tpch_t(spark, sf_dir, "supplier")
    n = _tpch_t(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7")
    return (
        s.join(F.broadcast(n),
               F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("ps_suppkey"),
              "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 waiting suppliers over derived receipt/commit days:
    for finished orders, NATION_2 suppliers whose lineitem was the
    ONLY late one among a multi-supplier order.  The EXISTS /
    NOT EXISTS pair is two aggregated semi-structures on ONE per-order
    hash-agg (count distinct suppliers, count distinct LATE suppliers)
    — never two correlated re-scans of lineitem."""
    lid = _tpch_lineitem_days(spark, sf_dir).select(
        "l_orderkey", "l_suppkey",
        (F.col("receipt_day") > F.col("commit_day")).alias("late"),
    )
    o = _tpch_t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    lo = lid.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey")))
         .alias("n_late_supp"),
    )
    cand = (
        lo.where(F.col("late"))
        .join(per_order, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = _tpch_t(spark, sf_dir, "supplier")
    n = _tpch_t(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_2")
    sn = s.join(F.broadcast(n),
                F.col("s_nationkey") == F.col("n_nationkey")) \
          .select("s_suppkey", "s_name")
    return (
        cand.join(F.broadcast(sn),
                  F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_fleet_coverage(spark, sf_dir):
    """Fleet-wide covered time per UTC day: every event opens a
    5-minute activity span, spans are CLIPPED at day boundaries
    (clip_to_buckets — a midnight-crossing span contributes to both
    days, each piece exact int64 µs), then the per-day UNION across
    ALL users merges via gaps-and-islands.  Output adds utilization =
    covered_us / 86 400 s as the one terminal double divide (6 dp).

    Scale notes: clip is in-partition (no shuffle); the islands merge
    shuffles once keyed by day — per-day span counts are the hot-key
    bound, so at 1000× shard the day key by a hash salt and merge the
    salted islands' boundary spans in a cheap second pass."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us
    from timeseriescorrelation_spark.operators.intervals import (
        clip_to_buckets, interval_islands,
    )

    from timeseriescorrelation_spark.operators.intervals import (
        merge_spans,
    )

    spans = _events(spark, sf_dir).select(
        "user_id",
        epoch_us(F.col("ts")).alias("s_us"),
        (epoch_us(F.col("ts")) + F.lit(300_000_000)).alias("e_us"),
    )
    pieces = clip_to_buckets(spans, bucket="day")
    # two-level merge (associative, so the single-level oracle is the
    # equality proof): per (day, user) first — parallel, shrinks bursty
    # per-user spans — then the day-level union over the survivors;
    # n_spans still counts RAW spans via the carried n_merged
    pre = merge_spans(pieces, keys=["bucket_ts", "user_id"])
    cov = interval_islands(pre, keys=["bucket_ts"],
                           count_col="n_merged")
    return cov.select(
        F.col("bucket_ts").alias("day_ts"),
        "n_spans", "n_islands", "covered_us", "longest_us",
        F.round(F.col("covered_us") / 86_400_000_000.0, 6)
         .alias("utilization"),
    )


def q_edge_similarity(spark, sf_dir):
    """SCAN-style structural similarity over the co-activity graph:
    per EDGE, the Jaccard of the endpoints' neighbor sets — separates
    in-community edges (endpoints see the same crowd) from bridges.

    The pair source applies the hub-cap mitigation FOR REAL (the
    caveat assortativity only documents): per-hour membership is
    capped at the 24 smallest user ids (deterministic, rank by id —
    SQL-replicable), so edges/hour ≤ C² and the wedge join downstream
    is bounded at any scale; measured 209 s → ~3 s at sf0.1.  The
    LSH max_bucket policy, applied to a graph builder."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        edge_jaccard,
    )

    e = _events(spark, sf_dir)
    active = e.select(
        F.col("user_id").cast("long").alias("u"),
        F.date_trunc("hour", "ts").alias("b"),
    ).distinct()
    w = Window.partitionBy("b").orderBy("u")
    capped = active.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 24).drop("_r")
    edges = (
        capped.alias("x")
        .join(capped.alias("y"), "b")
        .where(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
    )
    return edge_jaccard(edges, strategy="dense")


def q_ols_multi(spark, sf_dir):
    """Daily two-regressor OLS: purchase hourly cent-volume on click
    and view jointly — the confounder-aware version of beta_daily
    (Cramer on exact centered decimal moments; see ols2_daily)."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        ols2_daily,
    )

    return ols2_daily(
        _series_from_events(spark, sf_dir),
        y_key="purchase", x1_key="click", x2_key="view",
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights for data selection: score every
    non-src0 document by the hashed-bigram log-likelihood ratio
    target-vs-raw (see lm.dsir_weights; Xie et al. 2023).  Gated in
    vocab mode (oracle-replicable bucket ids); the xxhash64 mode is
    the statistics-identical scale path."""
    from timeseriescorrelation_spark.operators.lm import dsir_weights

    return dsir_weights(_docs(spark, sf_dir), target_source="src0",
                        n_buckets=4096)


def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword scores (Mihalcea & Tarau 2004): PageRank over
    the token ADJACENCY graph — nodes are tokens with document
    frequency ≥ 5 (the POS-filter stand-in), undirected edges weighted
    by adjacent-co-occurrence count.  Rides pagerank_conserving, so
    the 3-iteration scores are exact integer µ-units and the DuckDB
    oracle unrolls them bit-exactly (the pagerank_dangling machinery
    pointed at a text graph).

    Scale notes: the graph is vocab-sized (edges = distinct adjacent
    pairs, zipfian-bounded), built by two hash-aggs + one broadcast
    vocab-filter join over the token stream; the rank loop then runs
    on metadata-scale tables."""
    from timeseriescorrelation_spark.operators.graphrank import (
        pagerank_conserving,
    )

    edges = _token_graph(spark, sf_dir)
    return pagerank_conserving(edges, n_iter=3)


def _token_graph(spark, sf_dir):
    """Shared token-adjacency edge builder (textrank_keywords /
    ppr_terms): undirected df≥5-vocab adjacency counts, session-graph
    cached (R379 build-once/probe-many)."""
    return _graph_once(
        spark, sf_dir, "token_graph",
        lambda: _token_graph_build(spark, sf_dir),
    )


def _token_graph_build(spark, sf_dir):
    base = _docs(spark, sf_dir).select(
        "doc_id",
        F.split(F.lower(F.col("text")), r"\s+").alias("toks"),
    )
    tk = base.select("doc_id", F.explode("toks").alias("tok"))
    vf = (
        tk.groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 5)
        .select("tok")
    )
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pair = base.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("toks", i).alias("a"),
                    F.element_at("toks", i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b")) \
     .where(F.col("a") != F.col("b"))
    fp = pair.join(
        F.broadcast(vf.withColumnRenamed("tok", "a")), "a"
    ).join(F.broadcast(vf.withColumnRenamed("tok", "b")), "b") \
     .select("a", "b")
    return (
        fp.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            fp.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def q_ppr_terms(spark, sf_dir):
    """PERSONALIZED PageRank over the token-adjacency graph: the
    pooled teleport mass pays out only to the seed token (the
    highest-weighted-degree token, ties to the smallest), so ranks
    read as "terms related to the corpus's head term" — the related-
    entities query (Jeh & Widom 2003) in the conserving integer
    scheme; oracle unrolls the 3 iterations bit-exactly with the
    teleport-set variant of the pagerank CTEs."""
    from timeseriescorrelation_spark.operators.graphrank import (
        pagerank_conserving,
    )

    edges = _token_graph(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("wd")
    )
    # TakeOrdered, not a partition-less window (plan-lint rule): the
    # seed is the single max-degree node, ties to the smallest
    seeds = deg.orderBy(F.desc("wd"), F.asc("node")).limit(1).select(
        "node"
    )
    return pagerank_conserving(edges, n_iter=3, teleport=seeds)


def q_emb_cov(spark, sf_dir):
    """Exact d×d covariance of the embedding corpus (see
    similarity.embedding_covariance) — eigen-decompose driver-side
    for PCA; pytest pins the eigen step to numpy."""
    from timeseriescorrelation_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_embs(spark, sf_dir))


def q_emb_cov_gram(spark, sf_dir):
    """PRODUCTION covariance path (similarity.embedding_covariance,
    mode="gram"): per-partition partial-Gram moments instead of the
    d²-explode pair join — bit-identical integers to mode="exact" by
    snap-before-sum, so it runs against the SAME DuckDB oracle as
    emb_cov (r4 verdict task #2: the scale path was pytest-pinned
    only; this row makes the form the bench runs driver-checkable)."""
    from timeseriescorrelation_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_embs(spark, sf_dir), mode="gram")


def q_triplet_mining(spark, sf_dir):
    """Hard-negative triplet mining over the labeled embedding corpus
    (see similarity.triplet_mining): 20 anchors, top-10 hard negatives
    each, margins against the nearest same-label positive."""
    from timeseriescorrelation_spark.operators.similarity import (
        triplet_mining,
    )

    e = _embs(spark, sf_dir)
    return triplet_mining(e, e.where(F.col("vec_id") < 20), k=10)


def q_bitmap_retention(spark, sf_dir):
    """Day-over-day retention on 32-bit activity bitmap words (see
    sketches.bitmap_retention) — exact counts at ~32x the row density
    of the distinct (day, actor) set."""
    from timeseriescorrelation_spark.operators.sketches import (
        bitmap_retention,
    )

    return bitmap_retention(_events(spark, sf_dir))


def q_rolling_slope_24h(spark, sf_dir):
    """Trailing-24h OLS slope per metric over hourly cent sums (see
    rolling.rolling_slope) — the always-on trend monitor next to the
    per-calendar-day trend_daily."""
    from timeseriescorrelation_spark.operators.rolling import (
        rolling_slope,
    )

    h = bucket_cents(_series_from_events(spark, sf_dir), ["metric"], "hour")
    return rolling_slope(h, keys=["metric"], window_hours=24)


def q_corr_upsert(spark, sf_dir):
    """Incremental maintenance of the pair-correlation report — the
    continuous-aggregate property applied to the reference's core
    operator, tier_upsert_1h's policy on correlation state: pair
    moments over SEALED hours (< Jan 16) and the LIVE tail (>= Jan 16)
    are computed separately, merged by exact decimal addition, and the
    assembled report is BIT-IDENTICAL to a full rescan (the oracle
    computes the rescan; the hash compare is the equality proof)."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        corr_from_moments, corr_pair_moments, merge_corr_moments,
    )

    s = _series_from_events(spark, sf_dir)
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    sealed = corr_pair_moments(s.where(F.col("ts") < split))
    live = corr_pair_moments(s.where(F.col("ts") >= split))
    return corr_from_moments(merge_corr_moments(sealed, live))


def q_hill_tail(spark, sf_dir):
    """Hill tail-index estimator per metric — HOW heavy is the value
    tail (α < 2: infinite variance, percentiles unstable, cost
    forecasts lie; the number zipf_fit computes for token ranks, here
    for metric values):

        α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1))      over the top k+1

    order statistics of positive value cents.  Each ln is of one
    exact-integer ratio, snapped to µ-nats BEFORE the integer sum (the
    lm.py fixed-point discipline), so both engines assemble α from the
    same integer; ranking ties break by event_id.  The top-(k+1) cut
    is a per-metric window row_number — partition-parallel by metric,
    never a global sort."""
    from pyspark.sql import Window

    k = 100
    cents = snap("value", VALUE_DECIMALS)
    e = _events(spark, sf_dir).select(
        F.col("event_type").alias("metric"), "event_id",
        cents.alias("c"),
    ).where(F.col("c") > 0)
    w = Window.partitionBy("metric").orderBy(F.desc("c"), "event_id")
    top = e.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= k + 1)
    xk1 = top.where(F.col("r") == k + 1).select(
        "metric", F.col("c").alias("c_k1"))
    s = (
        top.where(F.col("r") <= k)
        .join(xk1, "metric")
        .select(
            "metric",
            F.round(
                F.log(F.col("c").cast("double")
                      / F.col("c_k1").cast("double")) * 1_000_000
            ).cast("long").alias("lu"),
            "c_k1",
        )
        .groupBy("metric", "c_k1")
        .agg(F.sum("lu").alias("sum_u"), F.count(F.lit(1)).alias("k"))
    )
    return s.select(
        "metric", "k",
        F.round(F.col("c_k1") / 100.0, 2).alias("x_k1"),
        F.round(F.col("k") * 1_000_000.0 / F.col("sum_u"), 6)
         .alias("alpha"),
    )


def q_current_pctile(spark, sf_dir):
    """Where does the LATEST hourly value sit against the series' own
    history — the "is current traffic unusual" monitor: per metric,
    the last hour's event count and its mid-rank percentile
    ((n_below + 0.5·n_equal)/n, exact integer counts, one division).
    Shape: one hourly hash-agg, a per-metric max_by (simple timestamp
    ordering key — hash-aggregable), then a broadcast join of the
    |metrics|-row last-value table back onto the history for the
    conditional counts."""
    s = _series_from_events(spark, sf_dir)
    hourly = s.groupBy(
        "metric", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("v"))
    last = hourly.groupBy("metric").agg(
        F.max("bucket_ts").alias("last_ts"),
        F.max_by("v", "bucket_ts").alias("last_v"),
    )
    j = hourly.join(F.broadcast(last), "metric")
    return j.groupBy("metric").agg(
        F.first("last_ts").alias("last_ts"),
        F.first("last_v").cast("long").alias("last_value"),
        F.count(F.lit(1)).alias("n_hist"),
        F.round(
            (
                F.sum(F.when(F.col("v") < F.col("last_v"), 1).otherwise(0))
                + F.sum(
                    F.when(F.col("v") == F.col("last_v"), 1).otherwise(0)
                ) * F.lit(0.5)
            )
            / F.count(F.lit(1)),
            6,
        ).alias("pctile"),
    )


def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy-hitter actors per metric with 8 counters of
    state — the bounded-memory streaming top-k (guarantees pytest-
    asserted vs exact counts; streaming twin bit-equal).  Order-
    dependent summary, so no SQL oracle: rows-only check; token_topk
    is the exact order-free form."""
    from timeseriescorrelation_spark.operators.sketches import (
        heavy_hitters_mg,
    )

    return heavy_hitters_mg(
        _series_from_events(spark, sf_dir),
        keys=["metric"], item_col="conv_id", k=8, tie_col="turn_idx",
    )


def q_drawdown_daily(spark, sf_dir):
    """Maximum drawdown of the cumulative value path per (metric, day)
    — the peak-to-trough risk statistic: running cent-exact cumsum,
    running max of that path, drawdown = max(peak − path).  Two
    cumulative windows on ONE (metric, day) sort, integer throughout,
    one division at the end."""
    from pyspark.sql import Window

    s = _series_from_events(spark, sf_dir)
    v = snap("value", VALUE_DECIMALS)
    day = F.date_trunc("day", "ts").alias("day_ts")
    base = s.select("metric", day, "ts", "turn_idx", v.alias("_v"))
    w = (
        Window.partitionBy("metric", "day_ts")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    path = base.select(
        "metric", "day_ts", "ts", "turn_idx", "_v",
        F.sum("_v").over(w).alias("_cum"),
    ).select(
        "metric", "day_ts", "_v", "_cum",
        F.max("_cum").over(w).alias("_peak"),
    )
    # final path value = the day's total (order-free sum), NOT last()
    # over a hash-agg whose input order is unspecified
    return path.groupBy("metric", "day_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max(F.col("_peak") - F.col("_cum")) / 100.0, 2)
        .alias("max_drawdown"),
        F.round(F.max("_peak") / 100.0, 2).alias("peak"),
        F.round(F.sum("_v") / 100.0, 2).alias("final"),
    )


def q_corr_clusters(spark, sf_dir):
    """Correlated-actor clusters: the engine's two headline pieces
    composed — ε-grid candidate prune → exact Pearson at θ (the
    corr_report pipeline) gives the edge set, alternating-star
    connected components collapse it into co-moving groups.  The
    oracle recomputes the edges all-pairs (equality is the prune's
    soundness proof, same as spearman_pruned) and closes them with a
    recursive-CTE reachability closure.  The θ-edge set is
    session-graph-cached (build-once/probe-many)."""
    from timeseriescorrelation_spark.operators.dedup import (
        connected_components_star,
    )

    def build():
        aligned = _aligned_from_events(spark, sf_dir)
        vectors = cache_once(dft_sketch(build_vectors(aligned)))
        cand = candidate_pairs(vectors, _CORR_THETA)
        return exact_corr(cand, vectors, _CORR_THETA).select(
            "id_a", "id_b"
        )

    edges = _graph_once(spark, sf_dir, "corr_edges", build)
    return connected_components_star(edges).withColumnRenamed(
        "doc_id", "conv_id"
    )


def q_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's most
    recent prior click/view within a 7-day lookback, else
    'unattributed' — the standard marketing-credit query.  One window
    per user (two last(..., ignorenulls) over the same (ts, event_id)
    sort picks the ts and the type of the SAME touch row), then a
    day-level hash-agg; no self-join."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touched = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.last(F.when(is_touch, F.col("ts")), True).over(w)
        .alias("_touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), True).over(w)
        .alias("_touch_type"),
    )
    purchases = touched.where(F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").alias("day_ts"),
        F.when(
            F.col("_touch_ts")
            >= F.col("ts") - F.expr("interval 7 days"),
            F.col("_touch_type"),
        ).otherwise(F.lit("unattributed")).alias("touch"),
    )
    return purchases.groupBy("day_ts", "touch").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )


def q_ab_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (deterministic assignment
    user_id % 2; pre-period = days before the range midpoint): per
    variant, the raw post-period mean and the CUPED-adjusted mean
    mean_post − θ·(mean_pre − mean_pre_pooled), θ = cov(post,pre)/
    var(pre) pooled.  EVERYTHING derives from exact int64 cent sums
    and counts — the per-user adjusted values are never materialized,
    so no engine-order float summation anywhere; the variance-
    reduction factor 1 − ρ² comes from the same moments."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    e = _events(spark, sf_dir)
    mid = e.agg(
        F.timestamp_micros(
            (
                (F.min(epoch_us(F.col("ts")))
                 + F.max(epoch_us(F.col("ts")))) / 2
            ).cast("long")
        ).alias("_mid")
    )
    v = snap("value", VALUE_DECIMALS)
    per_user = (
        e.crossJoin(F.broadcast(mid))
        .groupBy((F.col("user_id") % 2).cast("int").alias("variant"),
                 "user_id")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("_mid"), v).otherwise(0))
            .alias("pre_c"),
            F.sum(F.when(F.col("ts") >= F.col("_mid"), v).otherwise(0))
            .alias("post_c"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_c").alias("sx"),
        F.sum("post_c").alias("sy"),
        F.sum(F.col("pre_c") * F.col("pre_c")).alias("sxx"),
        F.sum(F.col("post_c") * F.col("post_c")).alias("syy"),
        F.sum(F.col("pre_c") * F.col("post_c")).alias("sxy"),
    ).select(
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         .cast("double")
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
         .cast("double")).alias("_theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double"))
        .alias("_mean_pre_all"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            / (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("double")
        ).alias("_rho2"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("post_c").alias("_spost"),
        F.sum("pre_c").alias("_spre"),
    )
    j = per_variant.crossJoin(F.broadcast(pooled))
    mean_post = F.col("_spost").cast("double") / (
        F.col("n_users").cast("double") * 100.0
    )
    mean_pre = F.col("_spre").cast("double") / (
        F.col("n_users").cast("double") * 100.0
    )
    return j.select(
        "variant", "n_users",
        F.round(mean_post, 6).alias("mean_post"),
        F.round(
            mean_post
            - F.col("_theta")
            * (mean_pre - F.col("_mean_pre_all") / 100.0),
            6,
        ).alias("mean_cuped"),
        F.round(F.lit(1.0) - F.col("_rho2"), 6).alias("var_ratio"),
    )


def q_mm_audio(spark, sf_dir):
    """Audio-style windowed feature extraction (per-frame RMS energy +
    zero-crossing rate) over opaque binary payloads via mapInPandas —
    the VAD/energy-gating preprocessing shape.  The byte→int16 step is
    exact integer arithmetic, so the DuckDB oracle reproduces every
    frame from the same bytes (the test payload is the docs' ASCII
    utf-8, where codepoint == byte)."""
    from timeseriescorrelation_spark.operators.multimodal import audio_energy

    return audio_energy(
        attach_payload(_docs(spark, sf_dir)), frame_len=64
    )


def q_sessions_capped(spark, sf_dir):
    """GA-convention sessions: 30-minute idle gap AND a 24-hour hard
    cap sliced at fixed offsets from the gap-session start — pure
    window arithmetic on one per-user sort, no iteration.  A 1-hour
    cap is used at gate SF so splits actually occur in the fixture's
    dense streams."""
    from timeseriescorrelation_spark.operators.intervals import (
        sessions_capped,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    return sessions_capped(
        e, keys=["conv_id"], gap_minutes=30, cap_hours=1
    )


def q_pattern_matches(spark, sf_dir):
    """CEP-lite SEQ(click, view, purchase) within 1 h per user —
    MATCH_RECOGNIZE's core re-expressed as an O(1)-state automaton per
    key (non-overlapping matches, timeout resets; streaming twin
    bit-equal).  The DuckDB oracle replays the SAME automaton in a
    recursive CTE, so every transition is cross-checked, not just
    match counts."""
    from timeseriescorrelation_spark.operators.intervals import (
        pattern_matches,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        "event_type", "ts", "event_id",
    )
    return pattern_matches(
        e, ["click", "view", "purchase"], keys=["conv_id"],
        tie_col="event_id",
        within_seconds=86400,
    )


def q_scd2_enrich(spark, sf_dir):
    """Temporal dimension enrichment: clicks joined to the SCD2 status
    dimension (last signup/purchase run) VALID AT THE CLICK'S TIME —
    scd2_history builds the half-open intervals, the binned interval
    equi-join attaches them (never a nested-loop range join).  The
    oracle derives the same attribution INDEPENDENTLY as an as-of
    lookup (last status event at or before each click), so agreement
    cross-checks the whole scd2+interval-join composition, not one
    formulation against itself."""
    from pyspark.sql import Window  # noqa: F401 (scd import path)

    from timeseriescorrelation_spark.operators.intervals import (
        interval_join_binned,
    )
    from timeseriescorrelation_spark.operators.scd import scd2_history

    e = _events(spark, sf_dir)
    dim_log = e.where(
        F.col("event_type").isin("signup", "purchase")
    ).select(
        "user_id", "ts", "event_id",
        F.col("event_type").alias("status"),
    )
    hist = scd2_history(
        dim_log, keys=["user_id"], attr_cols=["status"],
        tie_col="event_id",
    )
    horizon = e.agg(
        (F.max("ts") + F.expr("interval 1 hour")).alias("_h")
    )
    spans = hist.crossJoin(F.broadcast(horizon)).select(
        "user_id", "status",
        F.col("valid_from").alias("start_ts"),
        # half-open [from, to) -> inclusive end at to - 1 microsecond
        (F.coalesce(F.col("valid_to"), F.col("_h"))
         - F.expr("interval 1 microsecond")).alias("end_ts"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = interval_join_binned(
        clicks, spans, ["user_id"], "day"
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_fk_orphans(spark, sf_dir):
    """Referential-integrity audit across the fixture star schema:
    orphan counts for lineitem→orders, lineitem→part, orders→customer
    — three broadcast anti-joins unioned into one report (the DQ check
    every warehouse load runs)."""
    def t(name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    def orphans(child, fk, parent, pk, rel):
        o = child.join(
            F.broadcast(parent.select(pk).distinct()),
            child[fk] == parent[pk], "left_anti",
        )
        return o.agg(
            F.lit(rel).alias("relation"),
            F.count(F.lit(1)).alias("n_orphan_rows"),
            F.countDistinct(fk).alias("n_orphan_keys"),
        )

    li, od, cu, pt = t("lineitem"), t("orders"), t("customer"), t("part")
    return (
        orphans(li, "l_orderkey", od, "o_orderkey", "lineitem->orders")
        .unionByName(
            orphans(li, "l_partkey", pt, "p_partkey", "lineitem->part")
        )
        .unionByName(
            orphans(od, "o_custkey", cu, "c_custkey", "orders->customer")
        )
    )


def q_bfs_reach(spark, sf_dir):
    """Shortest-hop depth of every user from the lowest-id seed over
    the hub-capped hourly co-activity graph (users sharing an active
    hour are adjacent; per-hour membership capped at the 24 smallest
    ids — the edge_similarity policy, so the pair join is bounded at
    any scale) — the blast-radius query.  Driver-paced BFS with
    per-level localCheckpoint; the oracle closes reachability in a
    recursive CTE and takes min(depth) per node."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        bfs_depths,
    )

    e = _events(spark, sf_dir)
    active = e.select(
        F.col("user_id").cast("long").alias("u"),
        F.date_trunc("hour", "ts").alias("b"),
    ).distinct()
    w = Window.partitionBy("b").orderBy("u")
    active = active.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 24).drop("_r")
    edges = (
        active.alias("x")
        .join(active.alias("y"), "b")
        .where(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
        .distinct()
    )
    seeds = e.agg(F.min("user_id").cast("long").alias("node"))
    return bfs_depths(edges, seeds).select(
        F.col("node").alias("conv_id"), "depth"
    )


def q_emd_drift(spark, sf_dir):
    """Earth mover's distance day-over-day on yesterday's-decile bins —
    the transport-cost drift score (PSI/JS are blind to HOW FAR mass
    moved).  Every |cum_p − cum_q| term is an exact integer
    cross-multiply; one double divide at the end, no smoothing or
    per-term snapping needed."""
    from timeseriescorrelation_spark.operators.drift import (
        emd_drift_daily,
    )

    return emd_drift_daily(_series_from_events(spark, sf_dir), n_bins=10)


def q_mix_weights(spark, sf_dir):
    """α=0.5 temperature mixing weights over the documents corpus —
    the data-mixing step of a training pipeline (which source gets
    sampled how hard, and which ones will repeat)."""
    from timeseriescorrelation_spark.operators.sampling import (
        source_mix_weights,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return source_mix_weights(docs, alpha=0.5)


def q_markov_entropy(spark, sf_dir):
    """Stream predictability per day: marginal vs first-order Markov
    conditional entropy of next-event type, and the mutual information
    between consecutive events."""
    from timeseriescorrelation_spark.operators.analytics import (
        markov_entropy_daily,
    )

    return markov_entropy_daily(_events(spark, sf_dir))


def q_periodogram(spark, sf_dir):
    """Sinusoid amplitude at candidate periods (6h…168h) per metric —
    frequency-domain seasonality sizing next to acf_hourly's
    time-domain detection; micro-snapped trig terms make the DFT
    cross-engine exact."""
    from timeseriescorrelation_spark.operators.acf import periodogram

    return periodogram(_series_from_events(spark, sf_dir))


def q_fano_factor(spark, sf_dir):
    """Hourly-count overdispersion (Fano factor) per metric-day —
    Poisson→1, bursty→>1, regularized→<1."""
    from timeseriescorrelation_spark.operators.activity import (
        fano_factor_daily,
    )

    return fano_factor_daily(_series_from_events(spark, sf_dir))


def q_cluster_terms(spark, sf_dir):
    """Topic keywords per semantic cluster (BERTopic's c-TF-IDF step,
    rational variant): emb_clusters labels each near-dup doc, each
    cluster becomes one super-document, and terms rank by
    tf_c · T / f_t (T = total clustered term mass, f_t = the term's
    corpus frequency) — the same monotone ln-free salience scoring
    term_salience documents, so ordering is engine-exact.  Top-5 per
    cluster.  Composition: cosine pair source → large/small-star CC
    (session graph cache, shared with emb_clusters) →
    explode/hash-agg/window."""
    from pyspark.sql import Window

    labels = _cosine_cc(spark, sf_dir)
    docs = _docs(spark, sf_dir).join(labels, "doc_id")
    tf = (
        docs.select(
            "cluster",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias(
                "term"
            ),
        )
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    ft = tf.groupBy("term").agg(F.sum("tf").alias("f_all"))
    tot = ft.agg(F.sum("f_all").alias("t_all"))
    s = tf.join(ft, "term").crossJoin(F.broadcast(tot)).withColumn(
        "score",
        F.round(
            (F.col("tf") * F.col("t_all")).cast("double")
            / F.col("f_all").cast("double"),
            6,
        ),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        s.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("cluster", "rank", "term", "tf",
                F.col("f_all").cast("long").alias("f_all"), "score")
    )


def q_moments(spark, sf_dir):
    """Per metric-day skewness + excess kurtosis from exact decimal
    power sums — distribution shape beyond mean/std."""
    from timeseriescorrelation_spark.operators.analytics import (
        moments_daily,
    )

    return moments_daily(_series_from_events(spark, sf_dir))


def q_partial_corr(spark, sf_dir):
    """Confounder screen: partial correlation r_ab.z per day for every
    pair and every control metric, from the exact-moment daily
    correlation matrix."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        partial_corr_daily,
    )

    return partial_corr_daily(_series_from_events(spark, sf_dir))


def q_hurst(spark, sf_dir):
    """Long-range dependence per metric: Hurst exponent by R/S
    analysis over dyadic block sizes 16..128 h on the dense hourly
    grid (H≈0.5 memoryless, >0.5 persistent)."""
    from timeseriescorrelation_spark.operators.acf import hurst_rs

    return hurst_rs(_series_from_events(spark, sf_dir))


def q_cusum_fixed(spark, sf_dir):
    """Online (causal) two-sided CUSUM against a fixed reference —
    the deployable variant of cusum_alerts, whose streaming twin
    carries three exact ints of state and is bit-equal on any split
    (tests/test_cusum_stream.py)."""
    from timeseriescorrelation_spark.operators.analytics import cusum_fixed

    return cusum_fixed(
        _series_from_events(spark, sf_dir), mu=50.0, sigma=70.0, h=5.0
    )


def q_zipf_fit(spark, sf_dir):
    """Zipf-law exponent + fit quality over the corpus token spectrum —
    the LM-data sniff test (natural text sits near alpha = -1)."""
    from timeseriescorrelation_spark.operators.lm import zipf_fit

    return zipf_fit(_docs(spark, sf_dir), top_k=100)


def q_dedup_cross_source(spark, sf_dir):
    """Near-dup LEAKAGE matrix across sources — the train/test
    contamination view of dedup: every verified Jaccard>=0.7 pair
    (prefix-filter join, zero false negatives) labeled with its two
    docs' sources, counted per unordered source pair.  cross=true rows
    are the leakage a split-by-source pipeline must scrub before
    training.  Two broadcast joins of the |docs|-row (doc_id, source)
    dim onto the verified-pair set; the heavy lifting is the same
    prefix-filter join dedup_prefix_jaccard already benches."""
    from timeseriescorrelation_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = prefix_jaccard_pairs(docs, n=3, tau_num=7, tau_den=10)
    dim = docs.select("doc_id", "source")
    j = (
        pairs.join(
            F.broadcast(dim.withColumnRenamed("source", "src_a")),
            pairs["id_a"] == dim["doc_id"],
        )
        .drop("doc_id")
        .join(
            F.broadcast(dim.withColumnRenamed("source", "src_b")),
            pairs["id_b"] == dim["doc_id"],
        )
    )
    lo = F.least("src_a", "src_b")
    hi = F.greatest("src_a", "src_b")
    return j.groupBy(
        lo.alias("source_lo"), hi.alias("source_hi")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.first(lo != hi).alias("cross"),
    ).select(
        "source_lo", "source_hi",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "cross",
    )


def q_source_scorecard(spark, sf_dir):
    """Per-source training-data quality scorecard: counts, exact-dup
    docs, corpus-level token/uniqueness/stopword/BPE ratios from exact
    integer sums, majority language + share."""
    from timeseriescorrelation_spark.operators.textstats import (
        source_scorecard,
    )

    return source_scorecard(_docs(spark, sf_dir))


def q_assortativity(spark, sf_dir):
    """How the co-activity graph is wired: Newman degree assortativity
    (hubs-to-hubs vs hubs-to-leaves) plus node/edge/degree summary.

    The per-hour membership is capped at the 24 smallest user ids
    BEFORE the self-join (the edge_similarity / LSH max_bucket
    policy, applied for real rather than documented as a caveat), so
    the pair source is bounded at any scale; the assortativity math
    downstream is linear in edges."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        degree_assortativity,
    )

    e = _events(spark, sf_dir)
    active = e.select(
        F.col("user_id").cast("long").alias("u"),
        F.date_trunc("hour", "ts").alias("b"),
    ).distinct()
    w = Window.partitionBy("b").orderBy("u")
    capped = active.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 24).drop("_r")
    edges = (
        capped.alias("x")
        .join(capped.alias("y"), "b")
        .where(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
    )
    return degree_assortativity(edges)


def q_heavy_hitters_verified(spark, sf_dir):
    """Sketch-then-verify two-pass heavy hitters: Misra-Gries (k=8,
    O(k) state) proposes candidates — GUARANTEED to contain every item
    with share > 1/9 — then one exact rescan counts only the ≤k
    candidates per key and keeps true share ≥ 1/8.  The verified
    output is exactly the SQL answer (integer compare 8·c ≥ n), so the
    order-dependent sketch becomes fully oracle-checkable; this is the
    production pattern for top-item queries too hot for a full
    groupBy(item) (the rescan joins against a broadcast candidate
    list, never shuffling raw rows by item)."""
    from timeseriescorrelation_spark.operators.sketches import (
        heavy_hitters_mg,
    )

    s = _series_from_events(spark, sf_dir)
    # cand descends from s, so cand's conv_id is the SAME attribute as
    # s's — rename it before the join or the predicate degenerates to
    # "trivially true equals" (round-3 verdict task #5)
    cand = heavy_hitters_mg(
        s, keys=["conv_id"], item_col="metric", k=8, tie_col="turn_idx"
    ).select(F.col("conv_id").alias("cand_conv"), "item")
    tot = s.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_total"))
    exact = (
        s.join(
            F.broadcast(cand),
            (F.col("conv_id") == F.col("cand_conv"))
            & (F.col("metric") == F.col("item")),
        )
        .groupBy("conv_id", "item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    return (
        exact.join(tot, "conv_id")
        .where(F.lit(8) * F.col("n_item") >= F.col("n_total"))
        .select(
            "conv_id", "item",
            F.col("n_item").cast("long").alias("n_item"),
            F.col("n_total").cast("long").alias("n_total"),
            F.round(
                F.col("n_item").cast("double") / F.col("n_total"), 6
            ).alias("share"),
        )
    )


PSI_EDGES = [5.0, 15.0, 30.0, 50.0, 80.0, 120.0, 180.0, 280.0, 400.0]


def q_psi_fixed(spark, sf_dir):
    """Expanding PSI vs a fixed reference histogram per metric-hour —
    the online drift monitor's batch semantics; its streaming twin
    (streaming/psi_stream.py) is bit-equal at hour closures."""
    from timeseriescorrelation_spark.operators.drift import (
        psi_fixed_hourly,
    )

    return psi_fixed_hourly(_series_from_events(spark, sf_dir), PSI_EDGES)


def _coactivity_minute_edges(spark, sf_dir):
    """Distinct (a < b) user pairs sharing a minute bucket — the
    SPARSE co-activity graph (minute grain: ~1k edges at sf0.01 vs
    ~11k at hour grain where the graph is near-complete).  Per-bucket
    membership is capped at the 24 smallest user ids (deterministic,
    SQL-replicable — the edge_similarity hub-cap policy), so
    edges/bucket ≤ C² and every downstream wedge/peel join is bounded
    at any scale instead of growing with the square of cohort size."""
    from pyspark.sql import Window

    active = (
        _events(spark, sf_dir)
        .select(
            F.col("user_id").cast("long").alias("u"),
            F.date_trunc("minute", "ts").alias("b"),
        )
        .distinct()
    )
    w = Window.partitionBy("b").orderBy("u")
    capped = active.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 24).drop("_r")
    return (
        capped.alias("x")
        .join(capped.alias("y"), "b")
        .where(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
        .distinct()
    )


def q_kcore_events(spark, sf_dir):
    """Bounded parallel k-core peel (k=10, 6 synchronous rounds) of
    the minute-grain co-activity graph: survivors with their degree
    inside the survivor set.  Parallel peeling is order-free — each
    round's deletions depend only on the survivor SET — so the DuckDB
    oracle unrolls the same 6 rounds bit-exactly (the pagerank-unroll
    pattern); pytest separately asserts full convergence (peel depth)
    on a fixture where n_rounds exceeds it."""
    from timeseriescorrelation_spark.operators.graphrank import kcore_peel

    return kcore_peel(
        _coactivity_minute_edges(spark, sf_dir), k=10, n_rounds=6
    )


def q_adamic_adar(spark, sf_dir):
    """Top-100 link-prediction pairs on the minute-grain co-activity
    graph: common-neighbor count + Resource-Allocation and Adamic-
    Adar scores in exact pico-units (integer div by deg and by the
    micro-nat floor(1e6·ln deg) — the km_survival snap), TakeOrdered
    (aa_p desc, u, v)."""
    from timeseriescorrelation_spark.operators.graphrank import (
        adamic_adar_scores,
    )

    return adamic_adar_scores(
        _coactivity_minute_edges(spark, sf_dir), top_k=100
    )


def q_cvar_daily(spark, sf_dir):
    """Per-(metric, day) VaR / CVaR at the worst-5% tail over exact
    integer cents — both are order-statistic functionals (k-th
    largest, top-k mean), so the undetermined rank order among equal
    cents cannot change the answer; ONE rounded IEEE division at the
    end."""
    from timeseriescorrelation_spark.operators.analytics import cvar_daily

    return cvar_daily(_series_from_events(spark, sf_dir), alpha_denom=20)


def q_conv_quality(spark, sf_dir):
    """Per-conversation quality scorecard, all-integer: turn count,
    distinct metrics, exact µs span, floor-div mean inter-turn gap,
    total cents, and a composite score_u = 10·n_turns +
    100·n_metrics + min(span_s, 3600) — the transcript-triage row a
    training-data pipeline filters on before sampling."""
    s = _series_from_events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = (
        s.select(
            "conv_id",
            us.alias("us"),
            F.col("metric"),
            snap("value", VALUE_DECIMALS).alias("c"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("metric").alias("n_metrics"),
            (F.max("us") - F.min("us")).alias("span_us"),
            F.sum("c").alias("total_cents"),
        )
    )
    return per.select(
        "conv_id",
        "n_turns",
        "n_metrics",
        "span_us",
        F.when(
            F.col("n_turns") > 1,
            F.expr("span_us div (n_turns - 1)"),
        ).alias("mean_gap_us"),
        "total_cents",
        (
            F.lit(10) * F.col("n_turns")
            + F.lit(100) * F.col("n_metrics")
            + F.least(
                F.expr("span_us div 1000000"), F.lit(3600).cast("long")
            )
        ).alias("score_u"),
    )


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dups (smaller shingle set ≥80%
    inside the intersection) — catches quote-inclusion / truncation
    dups symmetric Jaccard misses; integer threshold, posting-list
    candidates, verification tier of the dedup ladder."""
    from timeseriescorrelation_spark.operators.dedup import (
        containment_pairs,
    )

    return containment_pairs(_docs(spark, sf_dir), n=3, min_inter=2,
                             tau_pct=80)


def q_label_prop(spark, sf_dir):
    """Synchronous label-propagation communities (4 rounds, ties →
    min label) on the minute-grain co-activity graph — the fifth
    graph primitive (CC: which touch; PageRank: which matter; BFS:
    how far; k-core: how dense; LPA: which CLUSTER).  Order-free per
    round, so the oracle unrolls the same 4 rounds bit-exactly."""
    from timeseriescorrelation_spark.operators.graphrank import (
        label_propagation,
    )

    return label_propagation(
        _coactivity_minute_edges(spark, sf_dir), n_rounds=4
    )


def q_emb_auc(spark, sf_dir):
    """One-vs-rest centroid-retrieval ROC-AUC per label (even-id
    centroids, odd-id eval — leakage-honest): exact integer
    micro-unit dots/norms, tie-correct Mann-Whitney midrank AUC via
    one cumulative window over distinct scores — never a pos×neg
    pair join."""
    from timeseriescorrelation_spark.operators.similarity import (
        auc_by_label,
    )

    return auc_by_label(_embs(spark, sf_dir))


def q_bootstrap_ci(spark, sf_dir):
    """Per-metric mean with a 32-replica Poisson-multiplier bootstrap
    CI: weights are eight integer threshold compares on a 60-bit md5
    integer (inverse Poisson(1) CDF on the hash grid) — the one-pass
    web-scale bootstrap, deterministic across engines/restarts."""
    from timeseriescorrelation_spark.operators.sampling import (
        bootstrap_mean_ci,
    )

    return bootstrap_mean_ci(_series_from_events(spark, sf_dir))


def q_markov_accuracy(spark, sf_dir):
    """Time-split top-1 accuracy of the first-order Markov next-event
    predictor (train = first 3/5 of the day span, mode transition
    with min-tie; eval = the rest) — the sequence-model baseline,
    leakage-honest by an exact integer split-date derivation."""
    from timeseriescorrelation_spark.operators.analytics import (
        markov_accuracy,
    )

    return markov_accuracy(_series_from_events(spark, sf_dir))


def q_stl_anomaly(spark, sf_dir):
    """Seasonality-aware robust anomalies: stl_lite residuals fenced
    by per-metric Tukey far-out quartile bounds — trend and weekly
    profile removed first, fences quartile-based so the anomalies
    can't inflate them; resid_u is an exact int64 (resid carries
    exactly 6 decimals), quartiles are tie-invariant rank picks."""
    from timeseriescorrelation_spark.operators.decompose import (
        stl_anomaly,
    )

    return stl_anomaly(_series_from_events(spark, sf_dir))


def q_ndcg_int8(spark, sf_dir):
    """NDCG@10 of the int8-quantized ranking against graded exact-
    cosine relevance (rel = 11−exact_rank): position-weighted where
    recall@k is position-blind; integer DCG via precomputed
    round(1e6/log2(p+1)) discounts, ONE divide by the constant
    ideal."""
    from timeseriescorrelation_spark.operators.similarity import (
        ndcg_int8_at_k,
    )

    return ndcg_int8_at_k(_embs(spark, sf_dir))


def q_did_readout(spark, sf_dir):
    """Difference-in-differences on per-unit mean value (md5-bucket
    placebo arms, exact integer 3/5 period split): cancels static arm
    differences AND the common time trend; twelve exact int64 cell
    moments -> one fixed IEEE expression for DiD/SE/z."""
    from timeseriescorrelation_spark.operators.abtest import did_readout

    return did_readout(_series_from_events(spark, sf_dir))


def q_rbo_int8(spark, sf_dir):
    """Truncated rank-biased overlap (p=0.9, k=10) between exact and
    int8 rankings: each common candidate contributes the integer
    suffix weight at depth max(pos_a, pos_b) — exact int64 rbo_u, ONE
    terminal divide."""
    from timeseriescorrelation_spark.operators.similarity import (
        rbo_int8_at_k,
    )

    return rbo_int8_at_k(_embs(spark, sf_dir))


def q_slo_burn(spark, sf_dir):
    """Multi-window error-budget burn alerting (the SRE fast+slow
    burn rule for a 99% SLO): per hour, burn = err_share/(1−SLO)
    over the hour itself and the trailing 6 h; page only when BOTH
    windows burn hot (1h > 14.4 AND 6h > 6 — fast burn confirmed by
    the slow window).  The alert decision is two exact integer
    cross-multiplies (500·err > 72·total; 50·err6 > 3·total6) — the
    rounded burn columns are display-only, so threshold flips can't
    come from float noise.

    Scale shape: one hour-grain hash-agg over raw events; the 6-hour
    trailing sums use the collapse-then-EXPLODE recipe
    (trailing_active_24h / hll_rolling_7d): each hour row fans out to
    the ≤6 window-end hours it covers and one hash-agg re-collects —
    6·|hours| slim rows, partition-parallel, NO unpartitioned range
    window dragging the series to one task."""
    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    hourly = (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                (F.col("event_type") == "error").cast("long")
            ).alias("n_err"),
        )
    )
    hr = 3_600_000_000
    hidx = (epoch_us(F.col("hour_ts")) / hr).cast("long")
    fan = hourly.select(
        hidx.alias("h0"), "n_total", "n_err",
        F.explode(
            F.sequence(hidx, hidx + F.lit(5))
        ).alias("hw"),
    )
    sums6 = fan.groupBy("hw").agg(
        F.sum("n_total").alias("t6"), F.sum("n_err").alias("e6")
    )
    j = hourly.join(
        sums6, hidx == F.col("hw")
    )
    return j.select(
        "hour_ts", "n_total", "n_err",
        F.col("t6").cast("long").alias("n_total_6h"),
        F.col("e6").cast("long").alias("n_err_6h"),
        F.round(
            F.lit(100.0) * F.col("n_err") / F.col("n_total"), 6
        ).alias("burn_1h"),
        F.round(F.lit(100.0) * F.col("e6") / F.col("t6"), 6)
        .alias("burn_6h"),
        (
            (F.lit(500) * F.col("n_err") > F.lit(72) * F.col("n_total"))
            & (F.lit(50) * F.col("e6") > F.lit(3) * F.col("t6"))
        ).alias("page"),
    )


def q_fdr_anomalies(spark, sf_dir):
    """Benjamini–Hochberg step-up over the conformal anomaly p-values,
    one test family per metric at q = 1/4: the fleet-scale anomaly
    list with a controlled false-discovery rate instead of a per-test
    alpha (which pages on noise alone once |metrics|·|days| tests run
    daily).  Everything after the daily aggregate is exact: conformal
    p-values are integer fractions, the BH compare is the cross-
    multiply p_num·4·m ≤ i·p_den, and the sort key num/den cannot
    misorder fractions with denominators ≤ 29."""
    from timeseriescorrelation_spark.operators.activity import (
        bh_fdr,
        conformal_pvalue,
    )

    pv = conformal_pvalue(
        _series_from_events(spark, sf_dir), exact_cols=True
    )
    out = bh_fdr(
        pv, ["metric"], q_num=1, q_den=4,
        order_cols=["day_ts"],
    )
    return out.select(
        "metric", "day_ts", "n_prior", "p_value", "rank_i", "m",
        "rejected",
    )


def q_dedup_incremental(spark, sf_dir):
    """Continuous-ingest near-dup gate: the batch (doc_id % 5 = 4)
    probes the standing corpus (the rest) through the LSH band index —
    batch-bands ⋈ corpus-bands, never a corpus self-join — and every
    batch doc comes back with its verified-duplicate count (exact
    Jaccard ≥ 1/5, integer cross-multiply) and smallest matching
    corpus id; clean docs stay in the output with n_dup_matches = 0.
    vocab id mode for oracle parity; production uses xxhash64 ids so
    the corpus index persists across ingests."""
    from timeseriescorrelation_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = _docs(spark, sf_dir)
    return incremental_minhash_dedup(
        docs.where(F.pmod(F.col("doc_id"), F.lit(5)) == 4),
        docs.where(F.pmod(F.col("doc_id"), F.lit(5)) != 4),
        n=3, n_hashes=16, bands=8, tau_num=1, tau_den=5, mode="vocab",
    )


def q_dq_sequence(spark, sf_dir):
    """Per-conversation sequence invariants — the transcript-shaped DQ
    checks column counters can't see: same-type adjacent turns (role-
    alternation violations), timestamp ties, and turn-index/-time
    order disagreements.  One shuffle to conv_id, one window pass in
    the deterministic (ts, turn_idx) total order, all exact integer
    counts."""
    from timeseriescorrelation_spark.operators.dq import dq_sequence

    return dq_sequence(_series_from_events(spark, sf_dir))


def q_markov_calibration(spark, sf_dir):
    """Reliability diagram of the Markov next-event model on the
    markov_accuracy time split: every eval transition scores the whole
    probability table (one pair per train-vocabulary class, p = exact
    train fraction, y = realized indicator), deciles by integer
    cross-multiply, mean predicted vs observed frequency per bin."""
    from timeseriescorrelation_spark.operators.analytics import (
        markov_calibration,
    )

    return markov_calibration(_series_from_events(spark, sf_dir))


def q_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient of the hub-capped hourly
    co-activity graph — the fifth classic graph primitive: triangles
    through each node (exact integers, derived from the edge-Jaccard
    common counts without a new wedge join) over the node's neighbor
    pairs; ONE rounded divide, NULL for deg < 2."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        clustering_coefficients,
    )

    e = _events(spark, sf_dir)
    active = e.select(
        F.col("user_id").cast("long").alias("u"),
        F.date_trunc("hour", "ts").alias("b"),
    ).distinct()
    w = Window.partitionBy("b").orderBy("u")
    capped = active.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= 24).drop("_r")
    edges = (
        capped.alias("x")
        .join(capped.alias("y"), "b")
        .where(F.col("x.u") < F.col("y.u"))
        .select(F.col("x.u").alias("src"), F.col("y.u").alias("dst"))
    )
    return clustering_coefficients(edges, strategy="dense")


def q_mrr_int8(spark, sf_dir):
    """MRR of the int8 ranking against each query's TRUE (exact-cosine)
    nearest neighbor — the known-item-search member of the ranking-
    eval family; rr_u = 2520 div position is an exact integer (lcm
    1..10), 0 when the true neighbor fell past k."""
    from timeseriescorrelation_spark.operators.similarity import (
        mrr_int8_at_k,
    )

    return mrr_int8_at_k(_embs(spark, sf_dir))


def q_croston(spark, sf_dir):
    """Croston's intermittent-demand forecast per metric over the
    hourly count grid: separate EWMA recursions for nonzero demand
    sizes and inter-demand intervals, forecast = z/p — the sparse-
    series member of the EWMA/DES/Holt-Winters family.  Smoothed
    values floor-quantized at 1e-6 (the ewma bit-identical-recursion
    contract)."""
    from timeseriescorrelation_spark.operators.analytics import croston

    return croston(_series_from_events(spark, sf_dir))


def q_rate_decomposition(spark, sf_dir):
    """Kitagawa/Oaxaca decomposition of the error-rate move between
    the two halves of the span: per md5-cohort segment, how much of
    the delta is mix shift vs within-segment rate change — the two
    effect columns sum exactly to the headline rate delta."""
    from timeseriescorrelation_spark.operators.abtest import (
        rate_decomposition,
    )

    return rate_decomposition(_events(spark, sf_dir))


def q_ar2_forecast(spark, sf_dir):
    """Per-day AR(2) Yule-Walker fit + one-step forecast per metric
    over the hourly cent-sum sequence: autocovariances C_0..C_2 as
    exact decimal38 integers (n-scaled so the normalization cancels),
    φ coefficients and forecast one identical double tree, 6 dp."""
    from timeseriescorrelation_spark.operators.tsdiag import ar2_forecast

    return ar2_forecast(_series_from_events(spark, sf_dir))


def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio VR(4) per metric-day on the hourly
    cent-sum sequence — random-walk diagnostic from exact integer
    1-step and 4-step delta moments."""
    from timeseriescorrelation_spark.operators.tsdiag import variance_ratio

    return variance_ratio(_series_from_events(spark, sf_dir), q=4)


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the signs of nonzero hourly deltas
    per metric-day: integer run/sign counts, one double z expression."""
    from timeseriescorrelation_spark.operators.tsdiag import runs_test

    return runs_test(_series_from_events(spark, sf_dir))


def q_turning_points(spark, sf_dir):
    """Turning-points randomness test per metric-day: strict local
    extrema counted over the hourly sequence, z vs the i.i.d.
    expectation 2(n-2)/3."""
    from timeseriescorrelation_spark.operators.tsdiag import turning_points

    return turning_points(_series_from_events(spark, sf_dir))


def q_allan_variance(spark, sf_dir):
    """Allan variance of each metric's hourly cent-sum level at
    τ ∈ {1,2,4} hours: full-bucket sums, consecutive-pair squared
    diffs summed exactly in decimal38, one final divide."""
    from timeseriescorrelation_spark.operators.tsdiag import allan_variance

    return allan_variance(_series_from_events(spark, sf_dir))


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift scan per metric: max upward excursion of the
    n-scaled cumulative deviation (pure integer under a running
    window), argmax hour deterministic under ties."""
    from timeseriescorrelation_spark.operators.tsdiag import page_hinkley

    return page_hinkley(_series_from_events(spark, sf_dir))


def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau Q per metric over the dense hourly-count
    ACF (lags 1..24): per-lag terms snapped to integer pico-units so
    the sum is order-free, one final double expression."""
    from timeseriescorrelation_spark.operators.acf import ljung_box

    return ljung_box(_series_from_events(spark, sf_dir))


def q_chi2_independence(spark, sf_dir):
    """Pearson chi-square independence test of event_type x
    day-of-week over raw event counts — complete-grid cells (absent
    cells enter as O=0), per-cell terms micro-snapped from exact
    decimal38 integers."""
    from timeseriescorrelation_spark.operators.nptests import (
        chi2_independence,
    )

    return chi2_independence(_events(spark, sf_dir))


def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H of hourly cent-sum level across day-of-week
    groups per metric — dow_anova's rank-based twin; doubled average
    ranks stay integer, per-group R²/n floor-DIV'd to micro-units,
    tie-corrected."""
    from timeseriescorrelation_spark.operators.nptests import (
        kruskal_wallis,
    )

    return kruskal_wallis(_series_from_events(spark, sf_dir))


def q_sign_test_dod(spark, sf_dir):
    """Paired day-over-day sign test per metric-day: each observed
    hour vs the same hour yesterday, ties dropped, z = (w-l)/sqrt(w+l)
    — the distribution-free wow_delta companion at day grain."""
    from timeseriescorrelation_spark.operators.nptests import (
        sign_test_dod,
    )

    return sign_test_dod(_series_from_events(spark, sf_dir))


def q_record_counts(spark, sf_dir):
    """Record-counting trend screen per metric: strict running-max /
    running-min breaks over the hourly sequence vs the i.i.d.
    harmonic expectation (floor-quantized at 1e-6 per term) — the
    O(n) trend screen next to O(n²) mann_kendall."""
    from timeseriescorrelation_spark.operators.tsdiag import record_counts

    return record_counts(_series_from_events(spark, sf_dir))


def q_engle_granger(spark, sf_dir):
    """Engle-Granger cointegration screen for every ordered metric
    pair — spurious-correlation guard: closed-form OLS from exact
    decimal38 moments, residual exact up to ONE shared double then
    micro-snapped, lag-1 residual autoregression + n(rho-1) DF
    statistic."""
    from timeseriescorrelation_spark.operators.causality import (
        engle_granger,
    )

    return engle_granger(_series_from_events(spark, sf_dir))


def q_transfer_entropy(spark, sf_dir):
    """Binned transfer entropy TE(X->Y) per ordered metric pair over
    quartile-binned hourly means — the DIRECTIONAL nonparametric
    companion to granger_gain (linear) and mutual_info (symmetric);
    micro-nat-snapped terms over exact integer count ratios."""
    from timeseriescorrelation_spark.operators.causality import (
        transfer_entropy,
    )

    return transfer_entropy(_series_from_events(spark, sf_dir))


def q_pacf(spark, sf_dir):
    """Partial autocorrelation at lags 1-3 per metric via
    Durbin-Levinson over the hourly-count ACF — AR-order
    identification (PACF cuts off at the true order); one double tree
    over the engine's 6-dp-rounded rho."""
    from timeseriescorrelation_spark.operators.acf import pacf3

    return pacf3(_series_from_events(spark, sf_dir))


def q_l_diversity(spark, sf_dir):
    """Distinct l-diversity release gate over documents: QI = (lang,
    source), sensitive = n_chars//100 — k-anonymity's companion
    (large groups can still leak a shared sensitive value); exact
    two-level distinct count, thresholds explode on the collapsed
    group table."""
    from timeseriescorrelation_spark.operators.privacy import l_diversity

    d = _docs(spark, sf_dir)
    return l_diversity(
        d, [F.col("lang"), F.col("source")],
        F.floor(F.col("n_chars") / 100).cast("long"),
        ls=[2, 3, 5],
    )


def q_category_churn(spark, sf_dir):
    """Day-over-day event_type churn: new/dropped categories per day
    plus the row mass arriving under new categories — the
    schema-drift tripwire; aggregate-sized full-outer self-join of
    the (day, category) table shifted one day."""
    from timeseriescorrelation_spark.operators.dq import category_churn

    return category_churn(_events(spark, sf_dir))


def q_newey_west(spark, sf_dir):
    """Newey-West (Bartlett, L=6) HAC standard error of each metric's
    mean hourly cent sum vs the i.i.d. SE — the honest error bar for
    autocorrelated series; V' = (L+1)C0 + 2Σ(L+1−k)Ck exact in
    decimal38, PSD by the Bartlett guarantee."""
    from timeseriescorrelation_spark.operators.tsdiag import newey_west

    return newey_west(_series_from_events(spark, sf_dir))


def q_kpss_level(spark, sf_dir):
    """KPSS level-stationarity test per metric: η from the exact
    integer profile ΣP_t² over Newey-West's exact V′, verdict by
    integer cross-multiplication vs the 0.463 critical value."""
    from timeseriescorrelation_spark.operators.tsdiag import kpss_level

    return kpss_level(_series_from_events(spark, sf_dir))


def q_df_unitroot(spark, sf_dir):
    """Un-augmented Dickey-Fuller unit-root test per metric — KPSS's
    mirror (unit root is the null): closed-form OLS of Δy on lagged
    level via exact integer moments, t by the r²-identity."""
    from timeseriescorrelation_spark.operators.tsdiag import df_unitroot

    return df_unitroot(_series_from_events(spark, sf_dir))


def q_ewma_chart(spark, sf_dir):
    """EWMA control chart per metric hour (spc.ewma_chart): truncated
    24-term dyadic-λ kernel as exact integer lag weights, steady-state
    3σ limits — the small-persistent-shift detector between Shewhart
    and CUSUM."""
    from timeseriescorrelation_spark.operators.spc import ewma_chart

    return ewma_chart(_series_from_events(spark, sf_dir))


def _ewma_chart_oracle(lam_num: int = 1, lam_den: int = 4,
                       k_window: int = 24) -> str:
    """Mirror of spc.ewma_chart: the same Python-precomputed integer
    kernel weights embed as literals; the numerator is the identical
    24-term hugeint lag sum, everything after is the shared double
    tree."""
    a, d, K = lam_num, lam_den, k_window
    w = [a * (d - a) ** j * d ** (K - 1 - j) for j in range(K)]
    W = float(sum(w))
    varfac = sum(x * x for x in w) / (sum(w) * sum(w))
    terms = " + ".join(
        f"cast(lag(y, {j}) OVER win AS hugeint) * {w[j]}"
        for j in range(K)
    )
    return f"""
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, hour_ts, y,
         {terms} AS num,
         row_number() OVER win AS rn
  FROM h WINDOW win AS (PARTITION BY metric ORDER BY hour_ts)
), mom AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(cast(y AS hugeint)) AS s,
         sum(cast(y AS hugeint) * y) AS ss
  FROM h GROUP BY 1
), j AS (
  SELECT t.metric, t.hour_ts, t.y, t.num, mom.n, mom.s, mom.ss
  FROM t JOIN mom ON t.metric = mom.metric WHERE t.rn >= {K}
), e AS (
  SELECT metric, hour_ts, y,
         cast(s AS double) / cast(n AS double) AS mu,
         sqrt(cast(n * ss - s * s AS double)
              / (cast(n AS double) * cast(n AS double))) AS sig,
         cast(num AS double) / {W!r} AS z
  FROM j
), f AS (
  SELECT metric, hour_ts, y, z, mu,
         mu + 3.0 * sig * sqrt({varfac!r}) AS ucl,
         mu - 3.0 * sig * sqrt({varfac!r}) AS lcl
  FROM e
)
SELECT metric, hour_ts,
       round(cast(y AS double) / 100.0, 6) AS x,
       round(z / 100.0, 6) AS z,
       round(mu / 100.0, 6) AS center,
       round(ucl / 100.0, 6) AS ucl,
       round(lcl / 100.0, 6) AS lcl,
       cast(CASE WHEN z > ucl THEN 1 WHEN z < lcl THEN -1
            ELSE 0 END AS int) AS ooc
FROM f
"""


def q_forecast_baselines(spark, sf_dir):
    """M-competition baseline table (analytics.forecast_baselines):
    naive / seasonal-naive / drift MAE on the last 24 observed hours
    per metric — exact integer errors (drift multiplied through by
    its integer denominator)."""
    from timeseriescorrelation_spark.operators.analytics import (
        forecast_baselines,
    )

    return forecast_baselines(_series_from_events(spark, sf_dir))


def q_u_chart(spark, sf_dir):
    """Defects-per-unit chart with varying limits (spc.u_chart): the
    fourth classic attribute chart next to p/c/G."""
    from timeseriescorrelation_spark.operators.spc import u_chart

    return u_chart(_series_from_events(spark, sf_dir))


def q_exit_rates(spark, sf_dir):
    """Session exit/bounce rates per event type (activity.exit_rates):
    30-min-gap sessionization inside actor streams, deterministic
    last-event pick, exact counts."""
    from timeseriescorrelation_spark.operators.activity import (
        exit_rates,
    )

    return exit_rates(_events(spark, sf_dir))


def q_g_chart(spark, sf_dir):
    """G-chart (geometric, events-between-errors) pooled summary
    (spc.g_chart): per-actor gap extraction via partitioned windows,
    Benneyan geometric UCL, exact integer gaps."""
    from timeseriescorrelation_spark.operators.spc import g_chart

    return g_chart(_events(spark, sf_dir))


def q_xmr_chart(spark, sf_dir):
    """I-MR (individuals + moving range) Shewhart chart per metric day
    (spc.xmr_chart): textbook 2.66/3.267 constants, exact-integer
    centerlines, shared-double limits and flags."""
    from timeseriescorrelation_spark.operators.spc import xmr_chart

    return xmr_chart(_series_from_events(spark, sf_dir))


def q_process_capability(spark, sf_dir):
    """Cp/Cpk capability of daily volumes against a fixed spec band
    (spc.process_capability): sample-SD sigma, integer out-of-spec
    counts."""
    from timeseriescorrelation_spark.operators.spc import (
        process_capability,
    )

    return process_capability(
        _series_from_events(spark, sf_dir), lsl=5_000.0, usl=50_000.0
    )


def q_markov_absorption(spark, sf_dir):
    """K-step absorption probability into 'purchase' per starting
    event type (analytics.markov_absorption): integer µ-unit backward
    induction on the empirical transition chain, oracle-unrolled."""
    from timeseriescorrelation_spark.operators.analytics import (
        markov_absorption,
    )

    return markov_absorption(_events(spark, sf_dir), k_steps=8)


def _markov_absorption_oracle(target: str = "purchase",
                              k_steps: int = 8) -> str:
    head = f"""
WITH tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY epoch_us(ts), event_id) AS src,
         event_type AS dst
  FROM events
), t AS (
  SELECT src, dst, cast(count(*) AS bigint) AS c
  FROM tr WHERE src IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT src, cast(sum(c) AS bigint) AS tot FROM t GROUP BY 1
), states AS (
  SELECT DISTINCT state FROM (
    SELECT src AS state FROM t UNION ALL SELECT dst FROM t)
), p0 AS (
  SELECT state, cast(CASE WHEN state = '{target}' THEN 1000000
                     ELSE 0 END AS bigint) AS p
  FROM states
)"""
    steps = []
    for i in range(1, k_steps + 1):
        steps.append(f""", f{i} AS (
  SELECT t.src, cast(sum(t.c * p.p) AS bigint) AS num
  FROM t JOIN p{i - 1} p ON t.dst = p.state GROUP BY 1
), p{i} AS (
  SELECT s.state,
         cast(CASE WHEN s.state = '{target}' THEN 1000000
              ELSE coalesce(f.num // tot.tot, 0) END AS bigint) AS p
  FROM states s
  LEFT JOIN f{i} f ON s.state = f.src
  LEFT JOIN tot ON s.state = tot.src
)""")
    tail = f"""
SELECT p.state, coalesce(tot.tot, 0) AS n_out,
       round(cast(p.p AS double) / 1e6, 6) AS p_absorb
FROM p{k_steps} p LEFT JOIN tot ON p.state = tot.src
"""
    return head + "".join(steps) + tail


def q_emb_anisotropy(spark, sf_dir):
    """Corpus anisotropy (similarity.embedding_anisotropy): average
    pairwise cosine via the ‖Σu‖² − Σ‖u‖² identity — no pair join,
    exact µ-snapped per-dimension sums."""
    from timeseriescorrelation_spark.operators.similarity import (
        embedding_anisotropy,
    )

    return embedding_anisotropy(_embs(spark, sf_dir))


def q_retention_decay(spark, sf_dir):
    """Power-law fit of the pooled censoring-aware retention curve
    (retention.retention_decay_fit): ln r(d) = a + b·ln d on snapped
    µ-nat logs, exact-moment OLS; raw day-1/day-7 rationals carried."""
    from timeseriescorrelation_spark.operators.retention import (
        retention_decay_fit,
    )

    return retention_decay_fit(_events(spark, sf_dir))


def q_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance between document sources
    (textstats.burrows_delta): z-scored top-30 word frequencies,
    mean |z_a − z_b| per source pair."""
    from timeseriescorrelation_spark.operators.textstats import (
        burrows_delta,
    )

    return burrows_delta(_docs(spark, sf_dir))


def q_minhash_error(spark, sf_dir):
    """MinHash estimator QA (dedup.minhash_error_audit): signature
    agreement ĵ vs exact Jaccard over every LSH candidate pair;
    µ-snapped per-pair error, order-free summary sums."""
    from timeseriescorrelation_spark.operators.dedup import (
        minhash_error_audit,
    )

    return minhash_error_audit(_docs(spark, sf_dir))


def q_ohlc_daily(spark, sf_dir):
    """Daily OHLC candles of the hourly cent series per metric
    (indicators.ohlc_daily): deterministic open/close by the unique
    hour_ts ordering column, gap vs prior close via one day window."""
    from timeseriescorrelation_spark.operators.indicators import (
        ohlc_daily,
    )

    return ohlc_daily(_series_from_events(spark, sf_dir))


def q_bland_altman(spark, sf_dir):
    """Bland–Altman agreement of click vs view hourly volumes
    (agreement.bland_altman): bias, 1.96·SD limits, share outside."""
    from timeseriescorrelation_spark.operators.agreement import (
        bland_altman,
    )

    return bland_altman(
        _series_from_events(spark, sf_dir), key_a="click", key_b="view"
    )


def q_ess_hourly(spark, sf_dir):
    """Integrated autocorrelation time + effective sample size per
    metric (acf.ess_hourly): order-free integer sum of the 6-dp ρs,
    fixed K=24 truncation."""
    from timeseriescorrelation_spark.operators.acf import ess_hourly

    return ess_hourly(_series_from_events(spark, sf_dir))


def q_huber_trend(spark, sf_dir):
    """Huber-robust daily trend per metric (analytics.huber_trend):
    two unrolled IRLS reweight steps over snapped integer terms — the
    O(n)-scalable robust line next to theil_sen/lad_trend's
    bounded-n exact forms."""
    from timeseriescorrelation_spark.operators.analytics import (
        huber_trend,
    )

    return huber_trend(_series_from_events(spark, sf_dir))


def _huber_oracle(n_iter: int = 2) -> str:
    """Unrolled IRLS Huber trend (analytics.huber_trend): each round
    snaps residuals to milli-cents, derives σ̂/δ/w as shared doubles,
    snaps every weighted term per class (1e9 / 1e6), and re-solves the
    2×2 weighted normal equations — bit-exact vs the Spark loop."""
    head = """
WITH d AS (
  SELECT event_type AS metric,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y,
         cast(epoch_us(date_trunc('day', ts)) / 86400000000
              AS bigint) AS di
  FROM events GROUP BY metric, date_trunc('day', ts)
), span AS (
  SELECT metric, min(di) AS d0 FROM d
  GROUP BY 1 HAVING count(*) >= 10
), base AS (
  SELECT d.metric, d.y, d.di - span.d0 AS u
  FROM d JOIN span ON d.metric = span.metric
), g0 AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(cast(u AS hugeint)) AS su, sum(cast(y AS hugeint)) AS sy,
         sum(cast(u * u AS hugeint)) AS suu,
         sum(cast(u * y AS hugeint)) AS suy
  FROM base GROUP BY 1
), beta0 AS (
  SELECT metric,
         cast(m * suy - su * sy AS double)
           / cast(m * suu - su * su AS double) AS b1,
         (cast(sy AS double)
          - (cast(m * suy - su * sy AS double)
             / cast(m * suu - su * su AS double))
            * cast(su AS double)) / cast(m AS double) AS b0
  FROM g0 WHERE cast(m * suu - su * su AS double) > 0
)"""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""", t{i} AS (
  SELECT b.metric, b.u, b.y,
         cast(round((cast(b.y AS double)
               - (p.b0 + p.b1 * cast(b.u AS double))) * 1e3)
              AS bigint) AS ru
  FROM base b JOIN beta{i - 1} p ON b.metric = p.metric
), sc{i} AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(cast(ru AS hugeint) * ru) AS sr2
  FROM t{i} GROUP BY 1
), wt{i} AS (
  SELECT t.metric, t.u, t.y,
         CASE WHEN abs(cast(t.ru AS double))
                   <= 1.345 * sqrt(cast(s.sr2 AS double)
                                   / (cast(s.m AS double) - 2.0))
              THEN 1.0
              ELSE 1.345 * sqrt(cast(s.sr2 AS double)
                                / (cast(s.m AS double) - 2.0))
                   / abs(cast(t.ru AS double)) END AS w
  FROM t{i} t JOIN sc{i} s ON t.metric = s.metric
), gw{i} AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(cast(round(w * 1e9) AS hugeint)) AS sw,
         sum(cast(round(w * cast(u AS double) * 1e9) AS hugeint))
           AS swu,
         sum(cast(round(w * cast(u AS double) * cast(u AS double)
                        * 1e9) AS hugeint)) AS swuu,
         sum(cast(round(w * cast(y AS double) * 1e6) AS hugeint))
           AS swy,
         sum(cast(round(w * cast(u AS double) * cast(y AS double)
                        * 1e6) AS hugeint)) AS swuy,
         cast(sum(CASE WHEN w < 1.0 THEN 1 ELSE 0 END) AS bigint)
           AS ndw
  FROM wt{i} GROUP BY 1
), beta{i} AS (
  SELECT metric,
         (cast(sw AS double) / 1e9 * (cast(swuy AS double) / 1e6)
          - cast(swu AS double) / 1e9 * (cast(swy AS double) / 1e6))
         / (cast(sw AS double) / 1e9 * (cast(swuu AS double) / 1e9)
            - cast(swu AS double) / 1e9 * (cast(swu AS double) / 1e9))
           AS b1,
         (cast(swy AS double) / 1e6
          - ((cast(sw AS double) / 1e9 * (cast(swuy AS double) / 1e6)
              - cast(swu AS double) / 1e9 * (cast(swy AS double) / 1e6))
             / (cast(sw AS double) / 1e9 * (cast(swuu AS double) / 1e9)
                - cast(swu AS double) / 1e9
                  * (cast(swu AS double) / 1e9)))
            * (cast(swu AS double) / 1e9))
         / (cast(sw AS double) / 1e9) AS b0,
         ndw, cast(m AS bigint) AS n_days
  FROM gw{i}
  WHERE cast(sw AS double) / 1e9 * (cast(swuu AS double) / 1e9)
        - cast(swu AS double) / 1e9 * (cast(swu AS double) / 1e9) > 0
)""")
    tail = f""", tf AS (
  SELECT b.metric,
         cast(round((cast(b.y AS double)
               - (p.b0 + p.b1 * cast(b.u AS double))) * 1e3)
              AS bigint) AS ru
  FROM base b JOIN beta{n_iter} p ON b.metric = p.metric
), sf2 AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(cast(ru AS hugeint) * ru) AS sr2
  FROM tf GROUP BY 1
)
SELECT p.metric, p.n_days,
       round(p.b1 / 100.0, 6) AS slope_per_day,
       round(p.b0 / 100.0, 6) AS intercept,
       round(sqrt(cast(s.sr2 AS double)
                  / (cast(s.m AS double) - 2.0)) / 1e3 / 100.0, 6)
         AS sigma,
       p.ndw AS n_downweighted
FROM beta{n_iter} p JOIN sf2 s ON p.metric = s.metric
"""
    return head + "".join(steps) + tail


def q_weibull_fit(spark, sf_dir):
    """Weibull shape/scale of completed conversation durations per
    metric via Benard median-rank regression (survival.weibull_fit):
    two-level µ-nat-snapped double-log plot, exact-moment OLS."""
    from timeseriescorrelation_spark.operators.survival import (
        weibull_fit,
    )

    return weibull_fit(_series_from_events(spark, sf_dir))


def q_lang_temperature(spark, sf_dir):
    """α=0.3 temperature sampling weights over the documents corpus's
    language mix (lm.lang_temperature_weights): snapped-ln →
    shared-product → snapped-exp, so q_l is a ratio of exact
    integers in both engines."""
    from timeseriescorrelation_spark.operators.lm import (
        lang_temperature_weights,
    )

    return lang_temperature_weights(_docs(spark, sf_dir))


def q_coverage_greedy(spark, sf_dir):
    """Greedy max-coverage seed-set pick over documents
    (lm.coverage_greedy, k=3, bigram units — the synthetic corpus's
    31-word unigram vocabulary is covered by one doc, which would
    early-stop round 1): each round selects the doc adding the most
    not-yet-covered distinct word bigrams, ties to smallest doc_id —
    integer argmax both engines replay; the oracle unrolls the 3
    rounds as anti-join CTEs."""
    from timeseriescorrelation_spark.operators.lm import coverage_greedy

    return coverage_greedy(_docs(spark, sf_dir), k=3, ngram=2)


def q_its_readout(spark, sf_dir):
    """Interrupted time-series segmented regression per metric
    (causality.its_readout): level + slope change at the span-midpoint
    break via the 3×3 exact-moment Cramer solve."""
    from timeseriescorrelation_spark.operators.causality import (
        its_readout,
    )

    return its_readout(_series_from_events(spark, sf_dir))


def q_adf_augmented(spark, sf_dir):
    """Augmented Dickey-Fuller with TWO lagged-difference regressors
    per metric (tsdiag.adf_augmented, p=2): the 3×3 Cramer solve over
    exact centered decimal moments, t_γ by the cofactor variance —
    the ols_multi normal-equations seam df_unitroot promised."""
    from timeseriescorrelation_spark.operators.tsdiag import (
        adf_augmented,
    )

    return adf_augmented(_series_from_events(spark, sf_dir), p=2)


def q_ccc_pairs(spark, sf_dir):
    """Lin's concordance correlation per metric pair — agreement, not
    just co-movement (CCC charges for location/scale offsets Pearson
    forgives); one exact-integer ratio since the n²-scaling is uniform
    across all three variance terms."""
    from timeseriescorrelation_spark.operators.crossmetric import ccc_pairs

    return ccc_pairs(_series_from_events(spark, sf_dir))


def q_corr_deseasonalized(spark, sf_dir):
    """Pearson between metric pairs AFTER removing each metric's own
    hour-of-day profile — the shared-seasonality pitfall fix; hod-mean
    residuals micro-snapped from exact integer ratios, then exact
    decimal38 pair moments."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        corr_deseasonalized,
    )

    return corr_deseasonalized(_series_from_events(spark, sf_dir))


def q_corr_winsorized(spark, sf_dir):
    """Robust Pearson per metric pair after winsorizing each metric at
    its own [5, 95] ORDER STATISTICS (integer-exact selection, not
    interpolated percentiles) — the correlation one incident spike
    can't fake."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        corr_winsorized,
    )

    return corr_winsorized(_series_from_events(spark, sf_dir))


def q_rank_churn(spark, sf_dir):
    """Day-over-day leaderboard churn: each event_type's daily volume
    rank vs yesterday's (ties broken on name — deterministic);
    category_churn's 'what moved' complement."""
    from timeseriescorrelation_spark.operators.activity import rank_churn

    return rank_churn(_events(spark, sf_dir))


def q_allen_census(spark, sf_dir):
    """Allen interval-relation census between metric pairs' per-hour
    activity micro-spans — sub-hour lead/lag fingerprint (before/after
    keep direction; the other relations collapse onto the unordered
    pair); pair space bounded by the hour grid."""
    from timeseriescorrelation_spark.operators.intervals import (
        allen_census,
    )

    return allen_census(_series_from_events(spark, sf_dir))


def q_pair_scorecard(spark, sf_dir):
    """THE pair-diagnostics view: every unordered metric pair with its
    full co-movement workup in one row — Pearson + CCC agreement,
    seasonality-removed and winsorized correlations, cointegration
    beta/rho/DF, best lead-lag alignment, mutual information, both
    transfer-entropy directions, and the Allen sub-hour lead share.
    Pure composition of the already-gated aggregates (every input is
    |metrics|²-row), so the joins are broadcast-sized; the oracle is
    the same composition of the already-verified oracle CTEs.

    Scale note: each component re-aggregates the raw scan to its own
    hourly grid (9 column-pruned parquet scans, no extra shuffles) —
    at 100 TB a user feeds the engine's 1h TIER table instead of raw
    events and every component becomes a grid-only job; the
    composition itself never touches more than |metrics|² rows."""
    from timeseriescorrelation_spark.operators.causality import (
        engle_granger,
        transfer_entropy,
    )
    from timeseriescorrelation_spark.operators.crossmetric import (
        ccc_pairs,
        corr_deseasonalized,
        corr_winsorized,
        lead_lag_best,
        mutual_information_pairs,
    )
    from timeseriescorrelation_spark.operators.intervals import (
        allen_census,
    )

    s = _series_from_events(spark, sf_dir)
    pk = ["metric_a", "metric_b"]
    base = ccc_pairs(s)
    des = corr_deseasonalized(s).select(*pk, "r_deseason")
    win = corr_winsorized(s).select(*pk, "r_wins")
    eg = engle_granger(s).where(
        F.col("metric_x") < F.col("metric_y")
    ).select(
        F.col("metric_x").alias("metric_a"),
        F.col("metric_y").alias("metric_b"),
        "beta", "rho_res", "df_stat",
    )
    ll = lead_lag_best(s, key="metric", max_lag_h=3, min_n=24).where(
        F.col("metric_x") < F.col("metric_y")
    ).select(
        F.col("metric_x").alias("metric_a"),
        F.col("metric_y").alias("metric_b"),
        "best_lag_h",
    )
    mi = mutual_information_pairs(s).where(
        F.col("n_hours") >= 24
    ).select(
        F.col("metric_x").alias("metric_a"),
        F.col("metric_y").alias("metric_b"),
        "mi_nats",
    )
    te = transfer_entropy(s)
    tf = te.where(F.col("metric_x") < F.col("metric_y")).select(
        F.col("metric_x").alias("metric_a"),
        F.col("metric_y").alias("metric_b"),
        F.col("te_nats").alias("te_fwd"),
    )
    tb = te.where(F.col("metric_x") > F.col("metric_y")).select(
        F.col("metric_y").alias("metric_a"),
        F.col("metric_x").alias("metric_b"),
        F.col("te_nats").alias("te_bwd"),
    )
    al = allen_census(s).select(
        *pk,
        F.when(
            F.col("n_before") + F.col("n_after") > 0,
            F.round(
                F.col("n_before").cast("double")
                / (F.col("n_before") + F.col("n_after")).cast("double"),
                6,
            ),
        ).alias("lead_share"),
    )
    out = base
    for piece in (des, win, eg, ll, mi, tf, tb, al):
        out = out.join(piece, pk, "left")
    return out


def q_kendall_tau(spark, sf_dir):
    """Kendall's τ-b per metric pair over the DAILY cent-sum grid —
    the rank-concordance member of the pair family (Pearson/Spearman/
    CCC already gated); exact integer concordant/discordant/tie
    counts via sign comparisons, τ one shared double.  The O(n²)
    day-pair enumeration is calendar-bounded (k²·D²/4 grid rows),
    independent of raw corpus size."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        kendall_tau_pairs,
    )

    return kendall_tau_pairs(_series_from_events(spark, sf_dir))


def q_apdex_hourly(spark, sf_dir):
    """Apdex score per metric-hour (value as latency, T=50):
    (satisfied + tolerating/2)/n as one exact rational; rating bands
    decided by integer cross-multiplication so band-edge scores
    classify identically cross-engine.  One map-side-combined hash
    agg — grid-sized output."""
    from timeseriescorrelation_spark.operators.analytics import (
        apdex_hourly,
    )

    return apdex_hourly(_series_from_events(spark, sf_dir))


def q_theil_daily(spark, sf_dir):
    """Theil T inequality of per-day (user, event_type) value cells
    with the exact between/within decomposition — composition-across-
    types vs inequality-inside-types; micro-nat-snapped entropy terms,
    two stacked hash aggs, day-grid output."""
    from timeseriescorrelation_spark.operators.activity import (
        theil_index_daily,
    )

    return theil_index_daily(_events(spark, sf_dir))


def q_panel_fe(spark, sf_dir):
    """One-way fixed-effects (within) estimator over the user panel:
    daily cents on daily event count with every user's level absorbed
    by exact demeaning; micro-snapped residuals, decimal38 cross
    products, classical SE at dof = n − N − 1."""
    from timeseriescorrelation_spark.operators.crossmetric import panel_fe

    return panel_fe(_events(spark, sf_dir))


def q_emb_pca(spark, sf_dir):
    """PCA projection of the embedding corpus onto its top-4
    principal components (+ explained-variance ratios): exact
    decimal38 covariance on the cluster, d×d eigh on the driver
    (metadata-sized, the k-means-centroid policy), broadcast
    components applied as one BLAS matmul per Arrow batch.  Rows-only
    by construction (no SQL engine eigendecomposes); Var(pc_k)=λ_k /
    orthogonality / whitening invariants are pytest-pinned."""
    from timeseriescorrelation_spark.operators.similarity import (
        pca_project,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return pca_project(emb, n_components=4)


def q_text_readability(spark, sf_dir):
    """Flesch reading-ease per document from three regex run counts
    (words, sentence terminators, vowel-group syllables) — in-row,
    codegen'd, no shuffle; 3-way band decided by integer
    cross-multiplication so 60/30 edge scores classify identically
    cross-engine."""
    from timeseriescorrelation_spark.operators.textstats import (
        text_readability,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return text_readability(docs)


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAVA) calibration table: hour-of-day purchase share
    learned on the first half of days scores each later event; PAVA
    pools adjacent violators with exact integer cross-multiplication
    on the driver over ≤1001 quantized-score bins.  Fully gated: the
    oracle replays the isotonic minimax identity
    (max_{j≤i} min_{k≥i} interval mean) in SQL."""
    from timeseriescorrelation_spark.operators.abtest import (
        isotonic_calibration,
    )

    ev = _events(spark, sf_dir)
    split = ev.agg(
        F.date_add(F.date_trunc("day", F.min("ts")), 15).alias("d")
    ).collect()[0]["d"]
    is_p = (F.col("event_type") == "purchase").cast("long")
    train = ev.where(F.col("ts") < F.lit(split)).groupBy(
        F.hour("ts").alias("hod")
    ).agg(
        (F.sum(is_p).cast("double") / F.count(F.lit(1))).alias("score")
    )
    test = ev.where(F.col("ts") >= F.lit(split)).select(
        F.hour("ts").alias("hod"), is_p.alias("outcome")
    )
    scored = test.join(F.broadcast(train), "hod")
    return isotonic_calibration(scored)


def q_capacity_projection(spark, sf_dir):
    """Capacity-planning readout per metric: OLS daily-total trend,
    fitted current level, projected days until 2× today's peak (NULL
    for flat/falling trends); exact decimal38 OLS sums, one shared
    double tree."""
    from timeseriescorrelation_spark.operators.analytics import (
        capacity_projection,
    )

    return capacity_projection(_series_from_events(spark, sf_dir))


def q_t_closeness(spark, sf_dir):
    """t-closeness release gate over documents (QI = lang×source,
    sensitive = n_chars//100): total-variation distance between each
    QI group's sensitive distribution and the global one, exact
    decimal38 numerators with the group-absent mass in closed form;
    every threshold decision is an integer comparison.  Completes the
    k-anonymity → l-diversity → t-closeness family."""
    from timeseriescorrelation_spark.operators.privacy import t_closeness

    d = _docs(spark, sf_dir)
    return t_closeness(
        d, [F.col("lang"), F.col("source")],
        F.floor(F.col("n_chars") / 100).cast("long"),
        ts10=[2, 3, 5],
    )


def q_prune_sweep(spark, sf_dir):
    """θ-sweep pruning-efficiency report — the evaluation artifact the
    reference PUBLISHES (pruning ratios per threshold): for θ ∈
    {0.5, 0.7, 0.9}, the ε-grid candidate count vs the all-pairs
    space and the confirmed-pair yield, ratios rounded for display.
    Full oracle since round 5 (r4 verdict task #3): DuckDB replays
    the whole tier — z-norm, the k=4 DFT prefix as naive cos/sin
    sums (numpy's rfft to ~1e-15, far from any ε/θ/cell boundary on
    this data), ⌊s/ε⌋ 3×3-neighborhood candidates, the Σ(Δs)² ≤ ε²
    lower-bound filter, and exact ρ ≥ θ — counts must match
    integer-exactly.  Soundness is additionally gate-proven by
    corr_report (its oracle IS the naive all-pairs answer)."""
    aligned = _aligned_from_events(spark, sf_dir)
    vectors = cache_once(dft_sketch(build_vectors(aligned)))
    n = vectors.agg(F.count(F.lit(1)).alias("n_series"))
    frames = []
    for theta in (0.5, 0.7, 0.9):
        cand = candidate_pairs(vectors, theta)
        conf = exact_corr(cand, vectors, theta)
        frames.append(
            cand.agg(F.count(F.lit(1)).alias("n_candidates"))
            .crossJoin(
                conf.agg(F.count(F.lit(1)).alias("n_confirmed"))
            )
            .withColumn("theta", F.lit(theta))
        )
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    return u.crossJoin(F.broadcast(n)).select(
        "theta", "n_series",
        (F.col("n_series") * (F.col("n_series") - 1) / 2)
        .cast("long").alias("n_pairs_total"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_confirmed").cast("long").alias("n_confirmed"),
        F.round(
            1.0
            - F.col("n_candidates").cast("double")
            / (F.col("n_series") * (F.col("n_series") - 1) / 2.0),
            6,
        ).alias("prune_ratio"),
    )


def q_icc_oneway(spark, sf_dir):
    """ICC(1) of the k metrics' daily cent-sums over the complete-day
    panel — one-way random-effects intraclass correlation ("is the
    day the signal, or the metric?").  Exact decimal38 sufficient
    statistics, one shared double tree; grid-bounded."""
    from timeseriescorrelation_spark.operators.agreement import icc_oneway

    return icc_oneway(_series_from_events(spark, sf_dir))


def q_cronbach_alpha(spark, sf_dir):
    """Cronbach's α of the metric set as a scale over days — internal
    consistency via the telescoped item-variance sum (Σx² − ΣC_j²/n,
    exact integers; never k float variances added in arbitrary
    order)."""
    from timeseriescorrelation_spark.operators.agreement import (
        cronbach_alpha,
    )

    return cronbach_alpha(_series_from_events(spark, sf_dir))


def q_friedman_test(spark, sf_dir):
    """Friedman rank test across metrics over complete days — doubled
    average ranks keep every statistic integer until the final Q; tie
    correction from the exact Σ(t³−t) term.  Ranks via a k²-per-day
    grid self-join, never a raw-data window."""
    from timeseriescorrelation_spark.operators.agreement import (
        friedman_test,
    )

    return friedman_test(_series_from_events(spark, sf_dir))


def q_cohen_kappa(spark, sf_dir):
    """Cohen's κ between two hour-grid labelers (event-count band vs
    distinct-user band, tercile ntiles over a deterministic total
    order inside a 2-partition window).  Exact integer confusion
    counts; κ one shared double."""
    from timeseriescorrelation_spark.operators.agreement import cohen_kappa

    return cohen_kappa(_events(spark, sf_dir))



def q_littles_law(spark, sf_dir):
    """Little's-law conservation readout per hour over the canonical
    30-min-gap sessions: arrivals, mean time-in-system W, predicted
    L = lambda*W vs observed time-average concurrency (exact integer
    microsecond sums, one double division each).  The flow_balance
    column is the session-pipeline integrity check."""
    from timeseriescorrelation_spark.operators.queueing import littles_law
    from timeseriescorrelation_spark.streaming.rollup_stream import (
        sessionize,
    )

    e = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"), "ts"
    )
    return littles_law(sessionize(e))


def q_mtbf_mttr(spark, sf_dir):
    """MTBF/MTTR/availability per metric from the hourly heartbeat
    grid — zero-event hours are DOWN; islands via the row_number
    difference inside metric partitions over the calendar-bounded
    grid."""
    from timeseriescorrelation_spark.operators.queueing import mtbf_mttr

    return mtbf_mttr(_series_from_events(spark, sf_dir))


def q_p_chart(spark, sf_dir):
    """Shewhart p-chart per metric-day: defect share (cents > 10000)
    against binomial 3-sigma limits around the metric's exact-rational
    centerline; varying limits (per-day n), ooc flag from the shared
    double tree."""
    from timeseriescorrelation_spark.operators.spc import p_chart

    return p_chart(_series_from_events(spark, sf_dir))


def q_c_chart(spark, sf_dir):
    """Shewhart c-chart per metric-day: event counts against Poisson
    3-sigma limits, with MISSING grid days scored as c=0 (the silent
    day is the loudest alarm)."""
    from timeseriescorrelation_spark.operators.spc import c_chart

    return c_chart(_series_from_events(spark, sf_dir))


def q_hhi_hourly(spark, sf_dir):
    """Herfindahl-Hirschman concentration of the event-type mix per
    hour (exact integer share numerators in decimal38) plus the
    normalized index — the retry-loop/monopoly tripwire."""
    from timeseriescorrelation_spark.operators.activity import hhi_hourly

    return hhi_hourly(_events(spark, sf_dir))



def q_atkinson_daily(spark, sf_dir):
    """Atkinson(ε=1) inequality per day over per-user cent sums — the
    welfare member of the inequality family (gini: rank; theil:
    entropy).  Micro-nat-snapped ln terms, one shared double tree."""
    from timeseriescorrelation_spark.operators.activity import (
        atkinson_daily,
    )

    return atkinson_daily(_events(spark, sf_dir))


def q_grubbs_daily(spark, sf_dir):
    """Grubbs' single-outlier statistic per metric-day with the
    suspect observation — the argmax decided by INTEGER deviation
    order (max|n·c − T| is always at min c or max c), no float ever
    picks a row; G one shared double tree."""
    from timeseriescorrelation_spark.operators.nptests import grubbs_daily

    return grubbs_daily(_series_from_events(spark, sf_dir))


def q_crossing_rate(spark, sf_dir):
    """Mean-crossing rate per metric-day — sign against the daily
    mean as the integer sign of n·c − T, crossings from one lag
    window inside (metric, day) partitions; white noise ≈ 0.5,
    sticky/trending series much less."""
    from timeseriescorrelation_spark.operators.tsdiag import crossing_rate

    return crossing_rate(_series_from_events(spark, sf_dir))


def q_reciprocity(spark, sf_dir):
    """Weighted reciprocity of the event-type transition graph —
    dialogue vs one-way-funnel share of transition mass; exact
    integer min/sums over the vocabulary-bounded edge list."""
    from pyspark.sql import Window
    from timeseriescorrelation_spark.functions.timeutil import epoch_us
    from timeseriescorrelation_spark.operators.graphrank import (
        reciprocity,
    )

    w = Window.partitionBy("user_id").orderBy(
        epoch_us(F.col("ts")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
    )
    edges = d.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    return reciprocity(edges)



def q_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per k-means cluster —
    the clustering-quality gauge for the ANN/cluster family; per-point
    scores micro-snapped before the mean (order-free integer sum);
    oracle = the unrolled deterministic Lloyd's CTEs + a/b distance
    aggregation."""
    from timeseriescorrelation_spark.operators.similarity import (
        silhouette_clusters,
    )

    return silhouette_clusters(_embs(spark, sf_dir), k=8, n_iter=2)


def q_stickiness_daily(spark, sf_dir):
    """DAU / trailing-30d-distinct-users per day — exact MAU via the
    bounded contribution explode (|user-days|*30 rows), the exact gate
    for the HLL sketched path."""
    from timeseriescorrelation_spark.operators.retention import (
        stickiness_daily,
    )

    return stickiness_daily(_events(spark, sf_dir))



def q_lorenz_deciles(spark, sf_dir):
    """Lorenz curve deciles per day — the inspectable table behind
    gini_daily: per-decile mass + cumulative share as exact integer
    ratios; ntile inside day partitions with (y, unit) tie-break."""
    from timeseriescorrelation_spark.operators.activity import (
        lorenz_deciles,
    )

    return lorenz_deciles(_events(spark, sf_dir))


def q_odds_ratio_weekend(spark, sf_dir):
    """Weekend-vs-weekday odds ratio of high-value observations per
    metric with the Wald 95% CI; weekend decided by integer epoch-day
    arithmetic, never an engine dayofweek() convention."""
    from timeseriescorrelation_spark.operators.abtest import (
        odds_ratio_weekend,
    )

    return odds_ratio_weekend(_events(spark, sf_dir))


def q_semivariogram(spark, sf_dir):
    """Empirical semivariogram at lags 1-6 h over hourly cent totals —
    the decorrelation-range view of the ACF; calendar-offset equi-join
    pairing, decimal38 squared diffs, value-units² output."""
    from timeseriescorrelation_spark.operators.acf import semivariogram

    return semivariogram(_series_from_events(spark, sf_dir))



def q_logrank_weekend(spark, sf_dir):
    """Log-rank test per metric: weekend-started vs weekday-started
    conversation survival — exact integer risk/death counts from the
    km_survival DESC-range window, e1/v terms micro-snapped before
    the order-free sum, one z/chi-square double tree."""
    from timeseriescorrelation_spark.operators.survival import (
        logrank_weekend,
    )

    return logrank_weekend(
        _series_from_events(spark, sf_dir), censor_horizon_s=3600
    )


def q_hapax_share(spark, sf_dir):
    """Hapax-legomena share + type-token ratio per source — the
    vocabulary-health companion to zipf_fit; exact integers off two
    stacked vocabulary-bounded hash aggs."""
    from timeseriescorrelation_spark.operators.textstats import (
        hapax_share,
    )

    return hapax_share(_docs(spark, sf_dir))



def q_cox_weekend(spark, sf_dir):
    """One-covariate Cox PH per metric (weekend-start hazard ratio)
    via two unrolled Newton steps on the Breslow partial likelihood —
    micro-snapped score/information terms, shared double beta tree;
    the effect-size companion to logrank_weekend's test."""
    from timeseriescorrelation_spark.operators.survival import cox_weekend

    return cox_weekend(
        _series_from_events(spark, sf_dir), censor_horizon_s=3600
    )


def q_gumbel_maxima(spark, sf_dir):
    """Gumbel block-maxima fit per metric over daily cent maxima
    (method of moments) + the 100-day return level — the
    block-maxima EVT companion to hill_tail's peaks-over-threshold."""
    from timeseriescorrelation_spark.operators.survival import (
        gumbel_maxima,
    )

    return gumbel_maxima(_series_from_events(spark, sf_dir))



def q_circadian_phase(spark, sf_dir):
    """Circular time-of-day statistics per metric: resultant length
    (concentration) + mean phase hour via micro-snapped cos/sin sums —
    the midnight-wrap-safe peak-hour summary."""
    from timeseriescorrelation_spark.operators.acf import circadian_phase

    return circadian_phase(_series_from_events(spark, sf_dir))



def q_lateness_audit(spark, sf_dir):
    """Out-of-orderness audit per metric: lateness vs the running max
    event time over strictly-earlier ARRIVALS (event_id order) — the
    batch measurement that sizes withWatermark; exact integer drop
    counts at 1/5/15-minute thresholds."""
    from timeseriescorrelation_spark.operators.dq import lateness_audit

    return lateness_audit(_series_from_events(spark, sf_dir))



def q_median_survival(spark, sf_dir):
    """KM median survival per metric read off the integer micro-nat
    curve: qualification is the INTEGER comparison cum <= -693148 (or
    the exact-zero terminal row) — no float decides the crossing.
    NULL median (with final_surv reported) when the curve never
    reaches half."""
    from timeseriescorrelation_spark.operators.survival import (
        median_survival,
    )

    return median_survival(
        _series_from_events(spark, sf_dir), censor_horizon_s=3600
    )


def q_kendall_w(spark, sf_dir):
    """Kendall's coefficient of concordance (plain + tie-corrected) —
    the effect size behind friedman_test, one shared division over the
    same exact-integer rank statistics."""
    from timeseriescorrelation_spark.operators.agreement import kendall_w

    return kendall_w(_series_from_events(spark, sf_dir))



def q_harmonic_regression(spark, sf_dir):
    """Daily-cycle OLS per metric (y = a + b cos + c sin over the
    hourly grid): amplitude, peak phase, R² — integer micro-unit trig
    regressors make every normal-equation sum exact; Cramer's-rule
    solve in one shared double tree."""
    from timeseriescorrelation_spark.operators.acf import (
        harmonic_regression,
    )

    return harmonic_regression(_series_from_events(spark, sf_dir))



def q_charset_report(spark, sf_dir):
    """Character-class composition per source (letters/digits/space/
    non-ASCII/punct shares) — the cheapest encoding-health tripwire;
    exact in-row regexp counts, one hash agg."""
    from timeseriescorrelation_spark.operators.textstats import (
        charset_report,
    )

    return charset_report(_docs(spark, sf_dir))


def q_doc_compressibility(spark, sf_dir):
    """zlib compression ratio per document (Arrow-batched pandas UDF
    over stdlib zlib) — the CCNet-style redundancy score; rows-only
    (no SQL zlib), invariants pytest-pinned."""
    from timeseriescorrelation_spark.operators.textstats import (
        doc_compressibility,
    )

    return doc_compressibility(_docs(spark, sf_dir))



def q_spectral_entropy(spark, sf_dir):
    """Spectral entropy + flatness per metric from the gated
    periodogram amplitudes — one number for "periodic vs broadband";
    nano-snapped powers, micro-nat ln terms, order-free sums."""
    from timeseriescorrelation_spark.operators.acf import (
        spectral_entropy,
    )

    return spectral_entropy(_series_from_events(spark, sf_dir))



def q_sprt_readout(spark, sf_dir):
    """Wald SPRT monitor on the daily purchase share (H0 p=0.04 vs
    H1 p=0.06, alpha=beta=0.05): cumulative LLR per day with the
    decision the monitor would have shown that day; exact integer
    running counts, shared-literal ln factors."""
    from timeseriescorrelation_spark.operators.abtest import sprt_readout

    return sprt_readout(_events(spark, sf_dir))



def q_distance_corr(spark, sf_dir):
    """Székely's distance correlation per metric pair over the daily
    cent grid — zero iff independent (catches the V-shapes Pearson/
    Spearman/tau read as 0): exact integer double-centered products in
    decimal38 over the calendar-bounded n² distance enumeration, one
    ratio + sqrt at the end."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        distance_corr,
    )

    return distance_corr(_series_from_events(spark, sf_dir))



def q_energy_distance(spark, sf_dir):
    """Székely energy distance between weekday and weekend daily
    distributions per metric (+ normalized e_coef) — the two-sample
    test sensitive to ANY distributional difference; exact integer
    pair sums over the calendar-bounded grid."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        energy_distance_weekend,
    )

    return energy_distance_weekend(_series_from_events(spark, sf_dir))


def q_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the binned Brier score over the gated
    reliability table (REL - RES + UNC): micro-snapped per-bin
    quadratics over already-rounded calibration values."""
    from timeseriescorrelation_spark.operators.analytics import (
        brier_decomposition,
    )

    return brier_decomposition(_series_from_events(spark, sf_dir))



def q_pettitt_test(spark, sf_dir):
    """Pettitt's nonparametric single-changepoint test per metric over
    the daily cent grid — rank-based (one spike can't fake it), exact
    integer U_t via the telescoped pair enumeration, integer-decided
    argmax split, approximate p as one double expression."""
    from timeseriescorrelation_spark.operators.changepoint import (
        pettitt_test,
    )

    return pettitt_test(_series_from_events(spark, sf_dir))



def q_welch_t(spark, sf_dir):
    """Welch's unequal-variance t of weekend vs weekday daily value
    means per metric — the parametric member of the two-sample triad
    (mann_whitney: ranks; energy_distance: full distribution); exact
    decimal38 per-arm moments, t and Welch-Satterthwaite df one
    shared double tree."""
    from timeseriescorrelation_spark.operators.nptests import (
        welch_t_weekend,
    )

    return welch_t_weekend(_series_from_events(spark, sf_dir))


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney rank-sum test of weekend vs weekday daily values
    per metric — doubled-U exact integers over the bounded day-grid
    pair enumeration, tie-adjusted normal z."""
    from timeseriescorrelation_spark.operators.nptests import (
        mann_whitney_weekend,
    )

    return mann_whitney_weekend(_series_from_events(spark, sf_dir))


def q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank week-over-week paired test per metric —
    day d paired with day d-7 so the weekly cycle cancels inside the
    pair; doubled ranks keep tie-averaged ranks integer (see
    nptests.wilcoxon_signed)."""
    from timeseriescorrelation_spark.operators.nptests import (
        wilcoxon_signed,
    )

    return wilcoxon_signed(_series_from_events(spark, sf_dir))


def q_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) weekend-vs-weekday
    daily-value VARIANCE equality test per metric — the dispersion
    member of the two-sample family; exact k=2 denominator clearing,
    no decimal DIV (see nptests.brown_forsythe_weekend)."""
    from timeseriescorrelation_spark.operators.nptests import (
        brown_forsythe_weekend,
    )

    return brown_forsythe_weekend(_series_from_events(spark, sf_dir))


def q_fdr_pettitt(spark, sf_dir):
    """Benjamini-Hochberg FDR adjustment composed ON the gated
    per-metric Pettitt changepoint p-values — the multiple-testing
    layer in front of the per-metric test battery (see
    nptests.bh_adjust; the family is aggregate-sized, so the single
    rank window is over ~|metrics| rows)."""
    from timeseriescorrelation_spark.operators.changepoint import (
        pettitt_test,
    )
    from timeseriescorrelation_spark.operators.nptests import bh_adjust

    return bh_adjust(pettitt_test(_series_from_events(spark, sf_dir)))


def q_chi2_cells(spark, sf_dir):
    """Per-cell chi-square drill-down: adjusted standardized
    residuals + Cramér's V over the metric × ISO-weekday grid —
    WHICH cell drives the dependence chi2_independence only sizes
    (see nptests.chi2_cells; weekday output via the engine-neutral
    epoch-day rule, never a native dayofweek label)."""
    from timeseriescorrelation_spark.operators.nptests import chi2_cells

    return chi2_cells(_events(spark, sf_dir))


def q_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality of the daily deltas per metric — the
    moment-based diagnostic that gates every sigma-threshold alert
    (heavy-tailed g2 means 3-sigma fires more than the normal table
    promises); closed-form chi2_2 p (see tsdiag.jarque_bera)."""
    from timeseriescorrelation_spark.operators.tsdiag import jarque_bera

    return jarque_bera(_series_from_events(spark, sf_dir))


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson residual-autocorrelation diagnostic on each
    metric's daily OLS trend — decides whether trend_daily's slope CI
    can be believed; exact integer ratio via denominator-cleared
    residuals (see tsdiag.durbin_watson)."""
    from timeseriescorrelation_spark.operators.tsdiag import (
        durbin_watson,
    )

    return durbin_watson(_series_from_events(spark, sf_dir))


def q_effect_sizes(spark, sf_dir):
    """Effect-size layer for the weekend two-sample family: Cohen's
    d, Hedges' g, Cliff's delta — how BIG the contrast is after
    welch_t/mann_whitney said it's real (see
    nptests.effect_sizes_weekend)."""
    from timeseriescorrelation_spark.operators.nptests import (
        effect_sizes_weekend,
    )

    return effect_sizes_weekend(_series_from_events(spark, sf_dir))


def q_seasonal_mk(spark, sf_dir):
    """Hirsch-Slack seasonal Mann-Kendall per metric: weekday-
    stratified sign pairs so the weekly cycle cannot fake a trend;
    calendar-bounded pair enumeration (see
    analytics.seasonal_mann_kendall)."""
    from timeseriescorrelation_spark.operators.analytics import (
        seasonal_mann_kendall,
    )

    return seasonal_mann_kendall(_series_from_events(spark, sf_dir))


def q_dispersion_test(spark, sf_dir):
    """Poisson index-of-dispersion on daily event counts per metric —
    the assumption check behind the M/M/c staffing and rate algebra
    (D>1 bursty: staff for bursts, not the mean); exact integer
    numerator identity (see queueing.dispersion_test)."""
    from timeseriescorrelation_spark.operators.queueing import (
        dispersion_test,
    )

    return dispersion_test(_events(spark, sf_dir))


def q_rate_ratio(spark, sf_dir):
    """Exposure-adjusted weekend/weekday volume contrast per metric —
    the COUNT member of the weekend family (the value tests can't
    answer "are weekends busier?"); conditional binomial z (see
    queueing.rate_ratio_weekend)."""
    from timeseriescorrelation_spark.operators.queueing import (
        rate_ratio_weekend,
    )

    return rate_ratio_weekend(_events(spark, sf_dir))



def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: cumulative value per cohort
    member by age week (Monday-anchored ISO cohorts, exact integer
    week ages and cent cumsums) — the unit-economics companion to
    cohort_retention."""
    from timeseriescorrelation_spark.operators.retention import cohort_ltv

    return cohort_ltv(_events(spark, sf_dir))



def q_we_rules(spark, sf_dir):
    """Western Electric run rules over the c-chart (beyond-3σ, 2-of-3
    beyond 2σ same side, 8 consecutive same side) — the drift-pattern
    layer Shewhart limits miss; integer rolling counts in bounded
    metric-partitioned windows."""
    from timeseriescorrelation_spark.operators.spc import we_rules

    return we_rules(_series_from_events(spark, sf_dir))


def q_char_entropy(spark, sf_dir):
    """Shannon character entropy per document (+ normalized form) —
    the cheap gibberish/encoding detector; micro-bit-snapped c·log2 c
    terms over exact integer char counts."""
    from timeseriescorrelation_spark.operators.textstats import (
        char_entropy,
    )

    return char_entropy(_docs(spark, sf_dir))



def q_tail_dependence(spark, sf_dir):
    """Upper tail dependence per metric pair: do the top-decile days
    coincide?  Membership by exact integer order statistics (the
    corr_winsorized selection rule); lambda_U one division."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        tail_dependence,
    )

    return tail_dependence(_series_from_events(spark, sf_dir))


def q_coburst_jaccard(spark, sf_dir):
    """Co-burst overlap: Jaccard of burst-hour sets per metric pair,
    bursts decided by the exact integer cross-multiply c*H > 2*T —
    the incident-correlation view next to tail_dependence's value
    view."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        coburst_jaccard,
    )

    return coburst_jaccard(_series_from_events(spark, sf_dir))



def q_hod_quantile_bands(spark, sf_dir):
    """Hour-of-day fan chart: exact 10/50/90 order statistics of
    hourly cent totals across days per metric (row_number selection —
    never interpolated percentiles); the capacity view behind
    seasonal_profile's mean."""
    from timeseriescorrelation_spark.operators.acf import (
        hod_quantile_bands,
    )

    return hod_quantile_bands(_series_from_events(spark, sf_dir))


def q_permutation_entropy(spark, sf_dir):
    """Bandt–Pompe order-3 permutation entropy per metric-day —
    integer ordinal-pattern codes over hourly cent triples, Shannon
    entropy from exact pattern counts, normalized by ln(3!)."""
    from timeseriescorrelation_spark.operators.tsfeatures import (
        permutation_entropy,
    )

    return permutation_entropy(_series_from_events(spark, sf_dir))


def q_sample_entropy(spark, sf_dir):
    """Sample entropy (m=2) per metric-day with an integer cent
    tolerance — bounded O(n²)-per-day template matching, exact
    integer match counts, −ln(A/B)."""
    from timeseriescorrelation_spark.operators.tsfeatures import (
        sample_entropy,
    )

    return sample_entropy(_series_from_events(spark, sf_dir))


def q_hjorth_params(spark, sf_dir):
    """Hjorth activity/mobility/complexity per metric-day from exact
    integer moments of the hourly sequence and its first two
    differences."""
    from timeseriescorrelation_spark.operators.tsfeatures import (
        hjorth_params,
    )

    return hjorth_params(_series_from_events(spark, sf_dir))


def q_complexity_stats(spark, sf_dir):
    """tsfresh nonlinearity trio per metric-day: CID-CE (+σ-normal
    form), c3 third-order autocovariance, time-reversal asymmetry —
    integer moment sums, one shared double tree."""
    from timeseriescorrelation_spark.operators.tsfeatures import (
        complexity_stats,
    )

    return complexity_stats(_series_from_events(spark, sf_dir))


def q_code_likeness(spark, sf_dir):
    """Prose-vs-code triage on documents — exact substring-count
    features, integer cross-multiplied flag."""
    from timeseriescorrelation_spark.operators.textstats import (
        code_likeness,
    )

    return code_likeness(_docs(spark, sf_dir))


def q_emb_mmd(spark, sf_dir):
    """Degree-2 polynomial-kernel MMD² between embedding sources —
    collapses to the Frobenius distance of per-label second-moment
    matrices, so no pair-of-rows join exists (see
    similarity.embedding_mmd)."""
    from timeseriescorrelation_spark.operators.similarity import (
        embedding_mmd,
    )

    return embedding_mmd(_embs(spark, sf_dir))


def q_theta_backtest(spark, sf_dir):
    """Rolling-origin backtest of the Theta forecast vs persistence —
    last-7-days holdout, snapped-integer error sums, MASE ratio (see
    analytics.theta_backtest)."""
    from timeseriescorrelation_spark.operators.analytics import (
        theta_backtest,
    )

    return theta_backtest(_series_from_events(spark, sf_dir))


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law exponent over the vocabulary-growth curve — log-log
    OLS with per-point µ-snapped ln values so the moment sums are
    exact integers (see textstats.heaps_fit)."""
    from timeseriescorrelation_spark.operators.textstats import heaps_fit

    return heaps_fit(_docs(spark, sf_dir))


def q_streak_report(spark, sf_dir):
    """Longest up/down daily streaks per metric plus the current run —
    gaps-and-islands on exact cent deltas, no doubles (see
    tsdiag.streak_report)."""
    from timeseriescorrelation_spark.operators.tsdiag import (
        streak_report,
    )

    return streak_report(_series_from_events(spark, sf_dir))


def q_dp_release(spark, sf_dir):
    """Laplace-mechanism noisy count release per (event_type, day) —
    deterministic seeded inverse-CDF noise, oracle-replicable (and
    therefore honestly NOT private; see privacy.dp_release)."""
    from timeseriescorrelation_spark.operators.privacy import dp_release

    ev = _events(spark, sf_dir).withColumn(
        "day_ts", F.date_trunc("day", "ts")
    )
    return dp_release(ev, ["event_type", "day_ts"])


def q_theta_forecast(spark, sf_dir):
    """Theta-method forecast per metric (M3 winner): OLS trend line +
    SES on the θ=2 line, exact-integer trend moments, recursion
    bit-identical to the recursive-CTE oracle (see
    analytics.theta_forecast)."""
    from timeseriescorrelation_spark.operators.analytics import (
        theta_forecast,
    )

    return theta_forecast(_series_from_events(spark, sf_dir))


def q_ipw_strata(spark, sf_dir):
    """Stratified IPW observational readout: self-selected treatment
    (≥1 click) vs outcome (≥1 purchase) within fixed activity strata —
    exact propensities, per-stratum effects, positivity-violation
    guard (see abtest.ipw_strata)."""
    from timeseriescorrelation_spark.operators.abtest import ipw_strata

    return ipw_strata(_events(spark, sf_dir))


def q_emb_mahalanobis(spark, sf_dir):
    """Diagonal-covariance Mahalanobis distance of each embedding
    from its own source's centroid — mislabeled/corrupted-vector QA;
    snap-then-integer-sum keeps the per-row fold order-free (see
    similarity.embedding_mahalanobis)."""
    from timeseriescorrelation_spark.operators.similarity import (
        embedding_mahalanobis,
    )

    return embedding_mahalanobis(_embs(spark, sf_dir))


def q_kmv_overlap(spark, sf_dir):
    """KMV k-minimum-values audience overlap between event-type
    segments — direct Jaccard/intersection estimation, the set
    operation HLL's inclusion-exclusion can't do without compounding
    error (see sketches.kmv_overlap)."""
    from timeseriescorrelation_spark.operators.sketches import (
        kmv_overlap,
    )

    return kmv_overlap(_events(spark, sf_dir), "event_type", "user_id")


def q_cdc_snapshot(spark, sf_dir):
    """MERGE-INTO snapshot from a CDC changelog (events as the log:
    signup=insert, error=delete tombstone, rest=update) — last-wins by
    the exact decimal (µs, event_id) pack, two hash-aggs, no window
    sort (see scd.cdc_snapshot)."""
    from timeseriescorrelation_spark.operators.scd import cdc_snapshot

    ch = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "signup", "I")
         .when(F.col("event_type") == "error", "D")
         .otherwise("U").alias("op"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )
    return cdc_snapshot(ch).select(
        "user_id", "last_ts", "op", "last_type", "last_value",
        "n_changes",
    )


def q_modularity_lpa(spark, sf_dir):
    """Newman modularity per label-propagation community on the
    minute-grain co-activity graph — scores the partition on the very
    graph that produced it (see graphrank.modularity)."""
    from timeseriescorrelation_spark.operators.graphrank import (
        label_propagation,
        modularity,
    )

    edges = _coactivity_minute_edges(spark, sf_dir)
    return modularity(edges, label_propagation(edges, n_rounds=4))


def q_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate share per document: word-3-gram doc-frequency ≥ 3
    marks template material (see textstats.boilerplate_ngrams)."""
    from timeseriescorrelation_spark.operators.textstats import (
        boilerplate_ngrams,
    )

    return boilerplate_ngrams(_docs(spark, sf_dir))


def q_erlang_staffing(spark, sf_dir):
    """Erlang-C staffing per hour-of-day via the overflow-free
    Erlang-B recursion — pure pinned-order IEEE, no libm."""
    from timeseriescorrelation_spark.operators.queueing import (
        erlang_staffing,
    )

    return erlang_staffing(_series_from_events(spark, sf_dir))


def q_dfa_fluctuation(spark, sf_dir):
    """DFA-1 fluctuation function over the hourly profile — exact
    integer block-OLS residual sums in decimal38/hugeint."""
    from timeseriescorrelation_spark.operators.acf import dfa_fluctuation

    return dfa_fluctuation(_series_from_events(spark, sf_dir))


def q_cross_coherence(spark, sf_dir):
    """Welch day-segment magnitude-squared coherence between metric
    pairs at candidate periods — snapped per-day DFTs, exact integer
    cross/auto spectral sums."""
    from timeseriescorrelation_spark.operators.acf import cross_coherence

    return cross_coherence(_series_from_events(spark, sf_dir))


def q_kalman_level(spark, sf_dir):
    """Local-level Kalman filter over daily cent totals — ewma-style
    mapInPandas scan, bit-identical to a recursive-CTE oracle."""
    from timeseriescorrelation_spark.operators.analytics import (
        kalman_level,
    )

    return kalman_level(_series_from_events(spark, sf_dir))


def q_hits_events(spark, sf_dir):
    """Integer HITS (2 unnormalized power rounds + one final integer
    DIV into micro-units) over the event-type transition graph — the
    DuckDB oracle unrolls the rounds bit-exactly."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.graphrank import (
        hits_fixedpoint,
    )

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    d = (
        _events(spark, sf_dir)
        .select(
            F.lag("event_type").over(w).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .withColumn("w", F.lit(1))
    )
    return hits_fixedpoint(d, n_iter=2)


def q_gpd_tail(spark, sf_dir):
    """GPD peaks-over-threshold tail fit (Hosking-Wallis PWM) on
    daily cent totals — exact integer rank-weighted sums."""
    from timeseriescorrelation_spark.operators.survival import gpd_tail

    return gpd_tail(_series_from_events(spark, sf_dir), tail_q=0.7)


def q_matrix_profile(spark, sf_dir):
    """Daily matrix profile: nearest-neighbour z-normalized distance
    per length-4 hourly subsequence — exact integer moments, integer
    micro-unit argmin."""
    from timeseriescorrelation_spark.operators.matrixprofile import (
        matrix_profile_daily,
    )

    return matrix_profile_daily(_series_from_events(spark, sf_dir))


def q_lomb_scargle(spark, sf_dir):
    """Lomb–Scargle periodogram on the RAW irregular timestamps —
    micro-snapped trig sums, exact integer moments, one double tree."""
    from timeseriescorrelation_spark.operators.acf import lomb_scargle

    return lomb_scargle(_series_from_events(spark, sf_dir))


def q_wavelet_variance(spark, sf_dir):
    """Haar wavelet variance of the hourly activity series — exact
    integer detail coefficients, one double divide per level."""
    from timeseriescorrelation_spark.operators.wavelet import (
        haar_variance,
    )

    return haar_variance(_series_from_events(spark, sf_dir))


def q_rsi_cutler(spark, sf_dir):
    """Cutler's SMA-form RSI over daily cent totals — exact integer
    rolling gain/loss sums, one guarded division."""
    from timeseriescorrelation_spark.operators.indicators import (
        rsi_cutler,
    )

    return rsi_cutler(_series_from_events(spark, sf_dir))


def q_bollinger_daily(spark, sf_dir):
    """Bollinger bands on daily totals with breach flags decided by
    integer cross-multiplication (never vs the rounded double band)."""
    from timeseriescorrelation_spark.operators.indicators import (
        bollinger_daily,
    )

    return bollinger_daily(_series_from_events(spark, sf_dir))


def q_stochastic_k(spark, sf_dir):
    """Stochastic oscillator %K/%D — %D as ONE exact cross-multiplied
    rational over the three trailing %K fractions."""
    from timeseriescorrelation_spark.operators.indicators import (
        stochastic_k,
    )

    return stochastic_k(_series_from_events(spark, sf_dir))


def q_range_volatility(spark, sf_dir):
    """Garman–Klass + Parkinson daily volatility from hourly-bar OHLC
    — micro-snapped lns, pinned double constants."""
    from timeseriescorrelation_spark.operators.indicators import (
        range_volatility,
    )

    return range_volatility(_series_from_events(spark, sf_dir))


def q_mcnemar_wow(spark, sf_dir):
    """McNemar week-over-week paired binary test: hour-of-week slots
    flip above/below the metric's median hourly volume; continuity-
    corrected chi-square over the discordant flips."""
    from timeseriescorrelation_spark.operators.pairtests import (
        mcnemar_wow,
    )

    return mcnemar_wow(_series_from_events(spark, sf_dir))


def q_cochran_q(spark, sf_dir):
    """Cochran's Q across day-of-week treatments blocking by week on
    the binary above-median daily state — complete blocks only, the
    binary twin of friedman_test."""
    from timeseriescorrelation_spark.operators.pairtests import (
        cochran_q_dow,
    )

    return cochran_q_dow(_series_from_events(spark, sf_dir))


def q_cvm_weekend(spark, sf_dir):
    """Two-sample Cramér–von Mises weekend-vs-weekday distribution
    test per metric via doubled midranks (Anderson's rank form)."""
    from timeseriescorrelation_spark.operators.pairtests import (
        cvm_weekend,
    )

    return cvm_weekend(_series_from_events(spark, sf_dir))


def q_mood_weekend(spark, sf_dir):
    """Mood's rank test of scale, weekend vs weekday daily volume —
    squared centered combined ranks of the weekend sample."""
    from timeseriescorrelation_spark.operators.pairtests import (
        mood_weekend,
    )

    return mood_weekend(_series_from_events(spark, sf_dir))


def q_arch_lm(spark, sf_dir):
    """Engle's ARCH LM test (lag 1) on squared hourly deltas per
    metric — volatility clustering screen; exact decimal power sums,
    LM = n·R² compared downstream against the chi-square-1 table."""
    from timeseriescorrelation_spark.operators.tsdiag import arch_lm

    return arch_lm(_series_from_events(spark, sf_dir))


def q_segmented_trend(spark, sf_dir):
    """Piecewise OLS trend around the Pettitt breakpoint: slope on
    each side of the detected shift plus the slope delta — the
    composition of pettitt_test and trend_daily's exact algebra."""
    from timeseriescorrelation_spark.operators.changepoint import (
        segmented_trend,
    )

    return segmented_trend(_series_from_events(spark, sf_dir))


def q_recovery_after_error(spark, sf_dir):
    """Per-day self-service recovery after errors: ONE lead() over
    each user's event sequence decides whether any follow-up lands
    within 5 minutes; exact counts, mean gap of recovered only."""
    from timeseriescorrelation_spark.operators.queueing import (
        recovery_after_error,
    )

    return recovery_after_error(_events(spark, sf_dir))


def q_trigram_novelty(spark, sf_dir):
    """Curation-order novelty per document: share of its distinct
    word trigrams claimed by no earlier doc_id — one posting-list
    min-agg joined back, the exact-dedup shuffle shape."""
    from timeseriescorrelation_spark.operators.lm import trigram_novelty

    return trigram_novelty(_docs(spark, sf_dir))


def q_lad_trend(spark, sf_dir):
    """Exact L1 (least-absolute-deviations) daily trend per metric:
    candidate lines through every day pair, integer loss comparison
    with micro-cent snap and integer tie-break — trend_daily's
    robust twin, theil_sen's loss-optimal sibling.  Bounded-n
    diagnostic (T³ on calendar days), never in HEADLINE."""
    from timeseriescorrelation_spark.operators.analytics import (
        lad_trend_daily,
    )

    return lad_trend_daily(_series_from_events(spark, sf_dir))


def q_skyline_users(spark, sf_dir):
    """Pareto frontier of users over (volume up, error rate down) —
    the classic 2-criteria skyline, level-compressed: dominance
    checks against one (vol, min_errs) row per distinct volume with
    exact integer cross-multiplied rate comparisons."""
    from timeseriescorrelation_spark.operators.analytics import (
        skyline_volume_errors,
    )

    return skyline_volume_errors(_events(spark, sf_dir))


def q_langid_confusion(spark, sf_dir):
    """Confusion matrix of the langid heuristic vs the labeled lang
    column with per-true-label shares — the classifier eval readout
    over the oracle-shared vowel-ratio scoring."""
    from timeseriescorrelation_spark.operators.textstats import (
        langid_confusion,
    )

    return langid_confusion(_docs(spark, sf_dir))


def q_counter_rate(spark, sf_dir):
    """Prometheus-style increase() over a daily-resetting cumulative
    counter built from the hourly grid — negative deltas are healed
    as restarts (post-reset reading = growth since reset); exact
    integer terms, per-day totals + reset counts."""
    from pyspark.sql import Window

    from timeseriescorrelation_spark.operators.metricsdb import (
        counter_increase,
    )

    h = bucket_cents(_series_from_events(spark, sf_dir), ["metric"], "hour")
    wd = (
        Window.partitionBy("metric", F.date_trunc("day", "hour_ts"))
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counters = h.select(
        "metric", F.col("hour_ts").alias("ts"),
        F.sum("y").over(wd).cast("long").alias("cnt"),
    )
    return counter_increase(counters)


def q_histogram_p95(spark, sf_dir):
    """histogram_quantile contract: p95 per (metric, day) linearly
    interpolated inside fixed PSI-edge buckets — the read side of a
    pre-bucketed ingestion path; integer bucket selection, one
    double tree."""
    from timeseriescorrelation_spark.operators.metricsdb import (
        histogram_quantile_est,
    )

    return histogram_quantile_est(
        _series_from_events(spark, sf_dir),
        [int(e * SCALE) for e in PSI_EDGES],
    )


def q_corr_grain_audit(spark, sf_dir):
    """Downsampling-fidelity audit: exact-moment Pearson per metric
    pair at minute AND hour grain with the delta the tier cascade
    would silently absorb — measures whether the cheaper grain is a
    faithful correlation substrate per pair."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        corr_grain_audit,
    )

    return corr_grain_audit(_series_from_events(spark, sf_dir))


def q_time_to_nth(spark, sf_dir):
    """Activation latency per first-seen cohort day: time from each
    user's first event to their 5th, exact counts + interpolated
    p50/p90 hours over the activated subset."""
    from timeseriescorrelation_spark.operators.retention import (
        time_to_nth,
    )

    return time_to_nth(_events(spark, sf_dir), n=5)


def q_nw_align(spark, sf_dir):
    """Needleman–Wunsch global alignment of metric pairs' 24-symbol
    daily activity strings (+2/−1/−1) — the edit-style shape
    comparison next to DTW's elastic one; all-integer DP, oracle
    unrolled along anti-diagonals."""
    from timeseriescorrelation_spark.operators.align import (
        nw_align_daily,
    )

    return nw_align_daily(_series_from_events(spark, sf_dir))


def q_sw_align(spark, sf_dir):
    """Smith–Waterman LOCAL alignment of the daily activity strings:
    best-matching subwindow per metric pair (0-floored integer DP,
    grid-max score) — high when two metrics track for part of the
    day even if they diverge elsewhere."""
    from timeseriescorrelation_spark.operators.align import (
        sw_align_daily,
    )

    return sw_align_daily(_series_from_events(spark, sf_dir))


def q_dow_contrasts(spark, sf_dir):
    """All 21 pairwise day-of-week mean contrasts per metric with
    pooled within-group error — dow_anova's post-hoc drill-down;
    engine-neutral integer dow labels, snapped-SSW pooled variance."""
    from timeseriescorrelation_spark.operators.decompose import (
        dow_contrasts,
    )

    return dow_contrasts(_series_from_events(spark, sf_dir))


def q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture population estimate from each
    consecutive-day user overlap — how many users EXIST, not how many
    showed up; exact counts, Wald CI, NULL on zero overlap."""
    from timeseriescorrelation_spark.operators.retention import (
        capture_recapture,
    )

    return capture_recapture(_events(spark, sf_dir))


def q_isotonic_trend(spark, sf_dir):
    """Monotone (PAVA) fit of each metric's daily series — the
    shape-constrained trend filter; driver pooling over the
    calendar-bounded day grid, minimax-identity oracle."""
    from timeseriescorrelation_spark.operators.analytics import (
        isotonic_trend_daily,
    )

    return isotonic_trend_daily(_series_from_events(spark, sf_dir))


def q_logit_fit(spark, sf_dir):
    """In-engine logistic classifier (is-English on kchars + vowel
    ratio): two unrolled IRLS steps with 1e-9-snapped gradient/
    Hessian sums and a 3×3 Cramer solve — bit-exact, no sklearn."""
    from timeseriescorrelation_spark.operators.logit import logit_fit

    return logit_fit(_docs(spark, sf_dir))


def q_tier_info_loss(spark, sf_dir):
    """Variance decomposition of the minute series into between-hour
    (kept by the 1h tier) and within-hour (destroyed by rollup) —
    the value-side tier-fidelity audit; var_retained routes queries
    to the coarsest faithful tier."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        tier_info_loss,
    )

    return tier_info_loss(_series_from_events(spark, sf_dir))


def q_xcorr_prewhitened(spark, sf_dir):
    """Cross-correlation before/after AR(1) prewhitening — the
    Box-Jenkins spurious-correlation guard: r_raw >> r_prewhitened
    means both metrics just follow the clock; holding up means the
    innovations co-move."""
    from timeseriescorrelation_spark.operators.crossmetric import (
        xcorr_prewhitened,
    )

    return xcorr_prewhitened(_series_from_events(spark, sf_dir))


def q_gmd_daily(spark, sf_dir):
    """Gini mean difference per metric-day via the sorted-rank
    identity — pairwise-robust dispersion at O(n log n), exact
    integer weight sums."""
    from timeseriescorrelation_spark.operators.analytics import (
        gmd_daily,
    )

    return gmd_daily(_series_from_events(spark, sf_dir))


def q_esd_outliers(spark, sf_dir):
    """Generalized ESD (Rosner) multi-outlier screen, 3 rounds per
    metric-day: remove the integer-decided extreme, re-test — the
    masking-proof extension of grubbs_daily; oracle unrolls the
    identical rounds."""
    from timeseriescorrelation_spark.operators.nptests import (
        esd_outliers,
    )

    return esd_outliers(_series_from_events(spark, sf_dir))


def _nw_oracle() -> str:
    """Needleman–Wunsch as SQL: the all-integer 24×24 alignment DP
    unrolled along anti-diagonals (the _dtw_oracle machinery with
    max() for min() and analytic boundary cells d[i][0] = d[0][j] =
    −i/−j injected per level)."""
    n = 24
    head = f"""
WITH hb AS (
  SELECT event_type AS k, date_trunc('day', ts) AS day_ts,
         hour(ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2, 3
), sy AS (
  SELECT k, day_ts, h,
         CASE WHEN 2 * y > cast(round(
                2 * quantile_cont(y, 0.5) OVER (PARTITION BY k))
                AS bigint)
              THEN 2 ELSE 1 END AS s
  FROM hb
), grid AS (
  SELECT kd.k, kd.day_ts, gs.h, coalesce(sy.s, 0) AS s
  FROM (SELECT DISTINCT k, day_ts FROM hb) kd
  CROSS JOIN (SELECT unnest(generate_series(0, {n - 1})) AS h) gs
  LEFT JOIN sy ON sy.k = kd.k AND sy.day_ts = kd.day_ts
             AND sy.h = gs.h
), cost AS MATERIALIZED (
  SELECT a.k AS ma, b.k AS mb, a.day_ts,
         a.h + 1 AS i, a.h + b.h + 2 AS t,
         CASE WHEN a.s = b.s THEN 2 ELSE -1 END AS sub
  FROM grid a JOIN grid b ON a.day_ts = b.day_ts AND a.k < b.k
), prs AS MATERIALIZED (
  SELECT DISTINCT ma, mb, day_ts FROM cost
), lvl0 AS (
  SELECT ma, mb, day_ts, 0 AS i, 0 AS d FROM prs
)"""
    lvls = []
    for t in range(1, 2 * n + 1):
        bnd = ""
        if t <= n:
            bnd = f"""
  UNION ALL SELECT ma, mb, day_ts, 0 AS i, {-t} AS d FROM prs
  UNION ALL SELECT ma, mb, day_ts, {t} AS i, {-t} AS d FROM prs"""
        lvls.append(f""", lvl{t} AS MATERIALIZED (
  SELECT c.ma, c.mb, c.day_ts, c.i,
         greatest(coalesce(p2.d, -1000000000) + c.sub,
                  coalesce(p1a.d, -1000000000) - 1,
                  coalesce(p1b.d, -1000000000) - 1) AS d
  FROM cost c
  LEFT JOIN lvl{max(t - 1, 0)} p1a ON c.ma = p1a.ma
       AND c.mb = p1a.mb AND c.day_ts = p1a.day_ts
       AND p1a.i = c.i - 1
  LEFT JOIN lvl{max(t - 1, 0)} p1b ON c.ma = p1b.ma
       AND c.mb = p1b.mb AND c.day_ts = p1b.day_ts
       AND p1b.i = c.i
  LEFT JOIN lvl{max(t - 2, 0)} p2 ON c.ma = p2.ma
       AND c.mb = p2.mb AND c.day_ts = p2.day_ts
       AND p2.i = c.i - 1
  WHERE c.t = {t}{bnd}
)""")
    tail = f"""
SELECT ma AS metric_a, mb AS metric_b, day_ts,
       cast(d AS bigint) AS score,
       round(cast(d AS double) / 48.0, 6) AS sim
FROM lvl{2 * n} WHERE i = {n}
"""
    return head + "".join(lvls) + tail


def _sw_oracle() -> str:
    """Smith–Waterman as SQL: the _nw_oracle unroll with 0-floored
    cells, 0 boundary rows, and the final score as the max over every
    level's cells."""
    n = 24
    head = f"""
WITH hb AS (
  SELECT event_type AS k, date_trunc('day', ts) AS day_ts,
         hour(ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2, 3
), sy AS (
  SELECT k, day_ts, h,
         CASE WHEN 2 * y > cast(round(
                2 * quantile_cont(y, 0.5) OVER (PARTITION BY k))
                AS bigint)
              THEN 2 ELSE 1 END AS s
  FROM hb
), grid AS (
  SELECT kd.k, kd.day_ts, gs.h, coalesce(sy.s, 0) AS s
  FROM (SELECT DISTINCT k, day_ts FROM hb) kd
  CROSS JOIN (SELECT unnest(generate_series(0, {n - 1})) AS h) gs
  LEFT JOIN sy ON sy.k = kd.k AND sy.day_ts = kd.day_ts
             AND sy.h = gs.h
), cost AS MATERIALIZED (
  SELECT a.k AS ma, b.k AS mb, a.day_ts,
         a.h + 1 AS i, a.h + b.h + 2 AS t,
         CASE WHEN a.s = b.s THEN 2 ELSE -1 END AS sub
  FROM grid a JOIN grid b ON a.day_ts = b.day_ts AND a.k < b.k
), prs AS MATERIALIZED (
  SELECT DISTINCT ma, mb, day_ts FROM cost
), lvl0 AS (
  SELECT ma, mb, day_ts, 0 AS i, 0 AS d FROM prs
)"""
    lvls = []
    for t in range(1, 2 * n + 1):
        bnd = ""
        if t <= n:
            bnd = f"""
  UNION ALL SELECT ma, mb, day_ts, 0 AS i, 0 AS d FROM prs
  UNION ALL SELECT ma, mb, day_ts, {t} AS i, 0 AS d FROM prs"""
        lvls.append(f""", lvl{t} AS MATERIALIZED (
  SELECT c.ma, c.mb, c.day_ts, c.i,
         greatest(0,
                  coalesce(p2.d, 0) + c.sub,
                  coalesce(p1a.d, 0) - 1,
                  coalesce(p1b.d, 0) - 1) AS d
  FROM cost c
  LEFT JOIN lvl{max(t - 1, 0)} p1a ON c.ma = p1a.ma
       AND c.mb = p1a.mb AND c.day_ts = p1a.day_ts
       AND p1a.i = c.i - 1
  LEFT JOIN lvl{max(t - 1, 0)} p1b ON c.ma = p1b.ma
       AND c.mb = p1b.mb AND c.day_ts = p1b.day_ts
       AND p1b.i = c.i
  LEFT JOIN lvl{max(t - 2, 0)} p2 ON c.ma = p2.ma
       AND c.mb = p2.mb AND c.day_ts = p2.day_ts
       AND p2.i = c.i - 1
  WHERE c.t = {t}{bnd}
)""")
    union = "\n  UNION ALL ".join(
        f"SELECT ma, mb, day_ts, d FROM lvl{t}"
        for t in range(2, 2 * n + 1)
    )
    tail = f"""
SELECT ma AS metric_a, mb AS metric_b, day_ts,
       cast(max(d) AS bigint) AS score,
       round(cast(max(d) AS double) / 48.0, 6) AS sim
FROM ({union}) u
GROUP BY 1, 2, 3
"""
    return head + "".join(lvls) + tail


def _logit_oracle(n_iter: int = 2) -> str:
    """Unrolled IRLS logistic fit (see operators/logit.py): per
    iteration one CTE computes μ/w per row from the previous β (cross
    join of the 1-row frame), snaps every gradient/Hessian term to
    1e-9 units (exact hugeint sums), and the next β comes from the
    same 3×3 Cramer double tree the engine builds."""
    head = """
WITH feat AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         cast(length(text) AS double) / 1000.0 AS x1,
         cast(CASE WHEN len(regexp_extract_all(lower(text), '[a-z]'))
                        > 0
              THEN cast(round(
                     cast(len(regexp_extract_all(lower(text),
                                                 '[aeiou]')) AS double)
                     / len(regexp_extract_all(lower(text), '[a-z]'))
                     * 1e6) AS bigint)
              ELSE 0 END AS double) / 1e6 AS x2
  FROM documents
), beta0 AS (
  SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2
)"""
    det_h = ("h00 * (h11 * h22 - h12 * h12)"
             " - h01 * (h01 * h22 - h12 * h02)"
             " + h02 * (h01 * h12 - h11 * h02)")
    det_0 = ("g0 * (h11 * h22 - h12 * h12)"
             " - h01 * (g1 * h22 - h12 * g2)"
             " + h02 * (g1 * h12 - h11 * g2)")
    det_1 = ("h00 * (g1 * h22 - g2 * h12)"
             " - g0 * (h01 * h22 - h12 * h02)"
             " + h02 * (h01 * g2 - g1 * h02)")
    det_2 = ("h00 * (h11 * g2 - h12 * g1)"
             " - h01 * (h01 * g2 - g1 * h02)"
             " + g0 * (h01 * h12 - h11 * h02)")
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""", t{i} AS (
  SELECT f.y, f.x1, f.x2,
         round(1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2)))
               * 1e9) / 1e9 AS mu
  FROM feat f CROSS JOIN beta{i - 1} b
), s{i} AS (
  SELECT
    cast(sum(cast(round((cast(y AS double) - mu) * 1e9) AS hugeint))
         AS double) AS g0,
    cast(sum(cast(round((cast(y AS double) - mu) * x1 * 1e9)
                  AS hugeint)) AS double) AS g1,
    cast(sum(cast(round((cast(y AS double) - mu) * x2 * 1e9)
                  AS hugeint)) AS double) AS g2,
    cast(sum(cast(round(mu * (1.0 - mu) * 1e9) AS hugeint))
         AS double) AS h00,
    cast(sum(cast(round(mu * (1.0 - mu) * x1 * 1e9) AS hugeint))
         AS double) AS h01,
    cast(sum(cast(round(mu * (1.0 - mu) * x2 * 1e9) AS hugeint))
         AS double) AS h02,
    cast(sum(cast(round(mu * (1.0 - mu) * x1 * x1 * 1e9) AS hugeint))
         AS double) AS h11,
    cast(sum(cast(round(mu * (1.0 - mu) * x1 * x2 * 1e9) AS hugeint))
         AS double) AS h12,
    cast(sum(cast(round(mu * (1.0 - mu) * x2 * x2 * 1e9) AS hugeint))
         AS double) AS h22
  FROM t{i}
), beta{i} AS (
  SELECT b.b0 + ({det_0}) / ({det_h}) AS b0,
         b.b1 + ({det_1}) / ({det_h}) AS b1,
         b.b2 + ({det_2}) / ({det_h}) AS b2
  FROM beta{i - 1} b CROSS JOIN s{i}
)""")
    tail = f"""
SELECT cast(count(*) AS bigint) AS n_docs,
       cast(sum(y) AS bigint) AS n_pos,
       round(b.b0, 6) AS b0, round(b.b1, 6) AS b1,
       round(b.b2, 6) AS b2,
       round(cast(sum(CASE WHEN (CASE WHEN b.b0 + b.b1 * x1
                                           + b.b2 * x2 > 0
                                      THEN 1 ELSE 0 END) = y
                           THEN 1 ELSE 0 END) AS double)
             / cast(count(*) AS double), 6) AS train_acc
FROM feat f CROSS JOIN beta{n_iter} b
GROUP BY b.b0, b.b1, b.b2
"""
    return head + "".join(steps) + tail


def _esd_oracle(k: int = 3) -> str:
    """Unrolled generalized-ESD oracle: each round is the same
    (hash-agg → integer-ordered argmax → anti-join removal) block —
    the changepoints_multi fixed-depth policy applied to Rosner's
    recursion."""
    head = """
WITH pt AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS t_us, cast(event_id AS bigint) AS o,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), cur0 AS (SELECT * FROM pt)"""
    blocks = []
    for r in range(1, k + 1):
        blocks.append(f""", a{r} AS (
  SELECT m, day_ts, cast(count(*) AS bigint) AS n,
         cast(sum(c) AS bigint) AS t_tot,
         sum(cast(c AS hugeint) * c) AS sxx
  FROM cur{r - 1} GROUP BY 1, 2 HAVING count(*) >= 8
), p{r} AS (
  SELECT * FROM (
    SELECT cur.m, cur.day_ts, cur.t_us, cur.o, cur.c,
           a.n, a.t_tot, a.sxx,
           abs(a.n * cur.c - a.t_tot) AS dev,
           row_number() OVER (
             PARTITION BY cur.m, cur.day_ts
             ORDER BY abs(a.n * cur.c - a.t_tot) DESC, cur.c DESC,
                      cur.t_us, cur.o) AS rn
    FROM cur{r - 1} cur
    JOIN a{r} a ON cur.m = a.m AND cur.day_ts = a.day_ts
  ) q WHERE rn = 1
), cur{r} AS (
  SELECT cur.m, cur.day_ts, cur.t_us, cur.o, cur.c
  FROM cur{r - 1} cur LEFT JOIN p{r} p
    ON cur.m = p.m AND cur.day_ts = p.day_ts
   AND cur.t_us = p.t_us AND cur.o = p.o
  WHERE p.m IS NULL
)""")
    rounds_sql = "\nUNION ALL\n".join(
        f"""SELECT m AS metric, day_ts, {r} AS round,
       cast(n AS bigint) AS n_remaining,
       round(cast(c AS double) / 100.0, 6) AS suspect_value,
       round(CASE WHEN (cast(sxx AS double)
                        - cast(t_tot AS double) * cast(t_tot AS double)
                          / cast(n AS double))
                       / (cast(n AS double) - 1.0) > 0
             THEN (cast(dev AS double) / cast(n AS double))
                  / sqrt(greatest((cast(sxx AS double)
                         - cast(t_tot AS double) * cast(t_tot AS double)
                           / cast(n AS double))
                        / (cast(n AS double) - 1.0), 0.0)) END, 6)
         AS g_stat
FROM p{r}""" for r in range(1, k + 1)
    )
    return head + "".join(blocks) + "\n" + rounds_sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    tiers = rollup_cascade(_series_from_events(spark, "/root/testdata/sf0.001"))
    return tiers["1h"].select(*_tier_out())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query key, declared once by its `q_<key>` builder here."""
    return {name[2:]: fn for name, fn in globals().items()
            if name.startswith("q_")}


# shared CTE prefix: word-trigram shingles + rank vocabulary + ids,
# mirroring operators.dedup.shingles/shingle_vocab/shingle_ids exactly
_SHINGLE_CTES = """
tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), vocab AS (
  SELECT shingle, cast(row_number() OVER (ORDER BY shingle) AS bigint) AS tid
  FROM (SELECT DISTINCT shingle FROM sh)
), ids AS (
  SELECT s.doc_id, v.tid FROM sh s JOIN vocab v USING (shingle)
)"""


def _dedup_oracles() -> dict[str, str]:
    from timeseriescorrelation_spark.operators.dedup import A_J, B_J, P31

    mins = ",\n    ".join(
        f"min((tid * {A_J[j]} + {B_J[j]}) % {P31}) AS h{j}"
        for j in range(16)
    )
    bands = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"[h{2 * b}, h{2 * b + 1}] AS key FROM sig"
        for b in range(8)
    )
    minhash = f"""
WITH {_SHINGLE_CTES}, sig AS (
  SELECT doc_id, {mins} FROM ids GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, count(*) AS sz, list(tid) AS tids FROM ids GROUP BY doc_id
)
SELECT c.id_a, c.id_b,
       cast(len(list_intersect(sa.tids, sb.tids)) AS int) AS inter_n,
       cast(sa.sz + sb.sz - len(list_intersect(sa.tids, sb.tids)) AS bigint)
         AS union_n
FROM cand c
JOIN sets sa ON c.id_a = sa.doc_id
JOIN sets sb ON c.id_b = sb.doc_id
WHERE len(list_intersect(sa.tids, sb.tids)) * 5
      >= (sa.sz + sb.sz - len(list_intersect(sa.tids, sb.tids)))
"""
    mmatch = " + ".join(
        f"(CASE WHEN pa.h{j} = pb.h{j} THEN 1 ELSE 0 END)"
        for j in range(16)
    )
    minhash_err = f"""
WITH {_SHINGLE_CTES}, sig AS (
  SELECT doc_id, {mins} FROM ids GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
), sets AS (
  SELECT doc_id, count(*) AS sz, list(tid) AS tids FROM ids GROUP BY doc_id
), pairs AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.tids, sb.tids)) AS inter_n,
         sa.sz + sb.sz - len(list_intersect(sa.tids, sb.tids))
           AS union_n
  FROM cand c
  JOIN sets sa ON c.id_a = sa.doc_id
  JOIN sets sb ON c.id_b = sb.doc_id
  WHERE len(list_intersect(sa.tids, sb.tids)) * 1 >= 0
), e AS (
  SELECT cast(round((cast({mmatch} AS double) / 16.0
                - cast(p.inter_n AS double) / cast(p.union_n AS double))
               * 1e6) AS bigint) AS eu
  FROM pairs p
  JOIN sig pa ON p.id_a = pa.doc_id
  JOIN sig pb ON p.id_b = pb.doc_id
), g AS (
  SELECT cast(count(*) AS bigint) AS n_pairs,
         cast(sum(eu) AS bigint) AS se,
         cast(sum(abs(eu)) AS bigint) AS sa2,
         cast(max(abs(eu)) AS bigint) AS mx
  FROM e
)
SELECT n_pairs,
       round(cast(se AS double) / cast(n_pairs AS double) / 1e6, 6)
         AS bias,
       round(cast(sa2 AS double) / cast(n_pairs AS double) / 1e6, 6)
         AS mae,
       round(cast(mx AS double) / 1e6, 6) AS max_abs_err
FROM g
"""
    simhash = f"""
WITH {_SHINGLE_CTES}, g AS (
  SELECT doc_id, (tid * {A_J[0]} + {B_J[0]}) % {P31} AS g FROM ids
), bits AS (
  SELECT doc_id, b.bit, CASE WHEN (g >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS w
  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
), sums AS (
  SELECT doc_id, bit, sum(w) AS s FROM bits GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
              AS bigint) AS fp
  FROM sums GROUP BY 1
), blocks AS (
  SELECT doc_id, fp, t.i AS blk, (fp >> (8 * t.i)) & 255 AS byte
  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) t
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(bit_count(xor(a.fp, b.fp)) AS int) AS hamming
FROM blocks a JOIN blocks b
  ON a.blk = b.blk AND a.byte = b.byte AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 6
"""
    ngram = f"""
WITH {_SHINGLE_CTES}, sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT id_a, id_b, cast(inter_n AS int) AS inter_n,
       cast(sa.sz + sb.sz - inter_n AS bigint) AS union_n
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter_n * 5 >= sa.sz + sb.sz - inter_n
"""
    incremental = f"""
WITH {_SHINGLE_CTES}, sig AS (
  SELECT doc_id, {mins} FROM ids GROUP BY doc_id
), banded AS (
  {bands}
), cand AS (
  SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS old_id
  FROM banded b JOIN banded c
    ON b.band_idx = c.band_idx AND b.key = c.key
  WHERE b.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
), sets AS (
  SELECT doc_id, count(*) AS sz, list(tid) AS tids FROM ids GROUP BY doc_id
), ver AS (
  SELECT cand.new_id, cand.old_id
  FROM cand
  JOIN sets sn ON cand.new_id = sn.doc_id
  JOIN sets so ON cand.old_id = so.doc_id
  WHERE len(list_intersect(sn.tids, so.tids)) * 5
        >= (sn.sz + so.sz - len(list_intersect(sn.tids, so.tids)))
), m AS (
  SELECT new_id, cast(count(*) AS bigint) AS n_dup_matches,
         min(old_id) AS first_match_id
  FROM ver GROUP BY 1
)
SELECT s.doc_id, cast(s.sz AS bigint) AS n_shingles,
       cast(coalesce(m.n_dup_matches, 0) AS bigint) AS n_dup_matches,
       m.first_match_id
FROM sets s LEFT JOIN m ON s.doc_id = m.new_id
WHERE s.doc_id % 5 = 4
"""
    return {
        "dedup_minhash_lsh": minhash,
        "minhash_error": minhash_err,
        "dedup_simhash": simhash,
        "dedup_ngram_jaccard": ngram,
        "dedup_incremental": incremental,
    }


# unit-vector CTE shared by the embedding oracles (mirrors
# operators.similarity.with_unit_vectors: cast to double, divide by L2)
_UV_CTE = """
uv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> x::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))) AS v
  FROM embeddings
)"""

_IVF_CTES = """
cent AS (
  SELECT label AS cell, list(m ORDER BY dim) AS c FROM (
    SELECT label, dim, avg(x) AS m FROM (
      SELECT label, unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings) GROUP BY 1, 2) GROUP BY 1
), asg AS (
  SELECT vec_id, v, cell FROM (
    SELECT u.vec_id, u.v, c.cell,
           row_number() OVER (PARTITION BY u.vec_id
             ORDER BY list_dot_product(u.v, c.c)
                      / sqrt(list_dot_product(c.c, c.c)) DESC,
                      c.cell) AS r
    FROM uv u CROSS JOIN cent c) WHERE r = 1
), q AS (
  SELECT vec_id AS qid, v AS qv FROM uv WHERE vec_id < 5
), probes AS (
  SELECT qid, qv, cell FROM (
    SELECT q.qid, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_dot_product(q.qv, c.c)
                      / sqrt(list_dot_product(c.c, c.c)) DESC,
                      c.cell) AS r
    FROM q CROSS JOIN cent c) WHERE r <= 3
)"""


def _kmeans_ivf_oracle(k: int = 8, n_iter: int = 2) -> str:
    """Unroll the deterministic Lloyd's iterations (vec_id%k seeding,
    assign = argmax cosine with lowest-cell ties, re-mean per cell) as
    SQL CTEs mirroring similarity.kmeans_centroids step for step."""

    def mean_cte(src: str) -> str:
        return (
            "SELECT cell, list(m ORDER BY dim) AS c FROM ("
            "SELECT cell, dim, avg(x) AS m FROM ("
            "SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim "
            f"FROM {src}) GROUP BY 1, 2) GROUP BY 1"
        )

    def assign_cte(cent: str) -> str:
        return (
            "SELECT vec_id, v, cell FROM ("
            "SELECT u.vec_id, u.v, c.cell, row_number() OVER ("
            "PARTITION BY u.vec_id ORDER BY "
            "list_dot_product(u.v, c.c) / sqrt(list_dot_product(c.c, c.c)) "
            "DESC, c.cell) AS r "
            f"FROM uv u CROSS JOIN {cent} c) WHERE r = 1"
        )

    parts = [
        f"a0 AS (SELECT vec_id, v, cast(vec_id % {k} AS int) AS cell FROM uv)",
        f"cent0 AS ({mean_cte('a0')})",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"a{i} AS ({assign_cte(f'cent{i - 1}')})")
        parts.append(f"cent{i} AS ({mean_cte(f'a{i}')})")
    final = f"cent{n_iter}"
    ctes = ",\n".join(parts)
    return f"""
WITH {_UV_CTE}, {ctes}, asg AS (
  {assign_cte(final)}
), q AS (
  SELECT vec_id AS qid, v AS qv FROM uv WHERE vec_id < 5
), probes AS (
  SELECT qid, qv, cell FROM (
    SELECT q.qid, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_dot_product(q.qv, c.c)
                      / sqrt(list_dot_product(c.c, c.c)) DESC,
                      c.cell) AS r
    FROM q CROSS JOIN {final} c) WHERE r <= 3
)
SELECT qid, rank, nid, cos FROM (
  SELECT p.qid, a.vec_id AS nid,
         round(list_dot_product(p.qv, a.v), 6) AS cos,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY round(list_dot_product(p.qv, a.v), 6) DESC,
                    a.vec_id) AS rank
  FROM probes p JOIN asg a USING (cell)
  WHERE a.vec_id <> p.qid
) WHERE rank <= 10
"""


def _silhouette_oracle(k: int = 8, n_iter: int = 2) -> str:
    """Silhouette on top of the same unrolled Lloyd's CTEs as
    _kmeans_ivf_oracle: per-point a/b distances against the final
    centroid table, micro-snapped before the mean (order-free)."""

    def mean_cte(src: str) -> str:
        return (
            "SELECT cell, list(m ORDER BY dim) AS c FROM ("
            "SELECT cell, dim, avg(x) AS m FROM ("
            "SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim "
            f"FROM {src}) GROUP BY 1, 2) GROUP BY 1"
        )

    def assign_cte(cent: str) -> str:
        return (
            "SELECT vec_id, v, cell FROM ("
            "SELECT u.vec_id, u.v, c.cell, row_number() OVER ("
            "PARTITION BY u.vec_id ORDER BY "
            "list_dot_product(u.v, c.c) / sqrt(list_dot_product(c.c, c.c)) "
            "DESC, c.cell) AS r "
            f"FROM uv u CROSS JOIN {cent} c) WHERE r = 1"
        )

    parts = [
        f"a0 AS (SELECT vec_id, v, cast(vec_id % {k} AS int) AS cell FROM uv)",
        f"cent0 AS ({mean_cte('a0')})",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"a{i} AS ({assign_cte(f'cent{i - 1}')})")
        parts.append(f"cent{i} AS ({mean_cte(f'a{i}')})")
    final = f"cent{n_iter}"
    ctes = ",\n".join(parts)
    return f"""
WITH {_UV_CTE}, {ctes}, asg AS (
  {assign_cte(final)}
), dist AS (
  SELECT a.vec_id, a.cell AS own, c.cell,
         1.0 - list_dot_product(a.v, c.c)
               / sqrt(list_dot_product(c.c, c.c)) AS d
  FROM asg a CROSS JOIN {final} c
), ab AS (
  SELECT vec_id, own,
         max(CASE WHEN cell = own THEN d END) AS a_d,
         min(CASE WHEN cell <> own THEN d END) AS b_d
  FROM dist GROUP BY 1, 2
), per AS (
  SELECT own AS cell,
         cast(round(CASE WHEN greatest(a_d, b_d) > 0
                    THEN (b_d - a_d) / greatest(a_d, b_d)
                    ELSE 0.0 END * 1000000.0) AS bigint) AS sm
  FROM ab
)
SELECT cast(cell AS int) AS cell, cast(count(*) AS bigint) AS n,
       round(cast(sum(sm) AS double) / 1000000.0
             / cast(count(*) AS double), 6) AS mean_silhouette
FROM per GROUP BY cell
"""


def _hits_oracle(n_iter: int = 2) -> str:
    """Unroll the integer HITS rounds (graphrank.hits_fixedpoint:
    h0 = 1, a_k = sum w*h, h_k = sum w*a, final hugeint DIV into
    micro-units) as n_iter CTE pairs — bit-exact."""
    ctes = ["""
WITH d AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS src,
         event_type AS dst
  FROM events
), e AS (
  SELECT src, dst, cast(count(*) AS bigint) AS w
  FROM d WHERE src IS NOT NULL GROUP BY 1, 2
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
), h0 AS (
  SELECT node, cast(1 AS bigint) AS h FROM nodes
)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f""", a{i} AS (
  SELECT dst AS node, cast(sum(w * h) AS bigint) AS a
  FROM e JOIN h{i - 1} ON e.src = h{i - 1}.node GROUP BY 1
), h{i} AS (
  SELECT src AS node, cast(sum(w * a) AS bigint) AS h
  FROM e JOIN a{i} ON e.dst = a{i}.node GROUP BY 1
)""")
    ctes.append(f""", hf AS (
  SELECT nodes.node, cast(coalesce(h, 0) AS bigint) AS h
  FROM nodes LEFT JOIN h{n_iter} USING (node)
), af AS (
  SELECT nodes.node, cast(coalesce(a, 0) AS bigint) AS a
  FROM nodes LEFT JOIN a{n_iter} USING (node)
), j AS (
  SELECT hf.node, h, a FROM hf JOIN af USING (node)
), t AS (
  SELECT cast(sum(h) AS hugeint) AS th, cast(sum(a) AS hugeint) AS ta
  FROM j
)
SELECT node,
       cast(cast(h AS hugeint) * 1000000 // th AS bigint) AS hub_u,
       cast(cast(a AS hugeint) * 1000000 // ta AS bigint) AS auth_u
FROM j CROSS JOIN t
""")
    return "".join(ctes)


def _pagerank_oracle(n_iter: int = 3) -> str:
    """Unroll the integer power iterations (graphrank.DAMP 85/100,
    BASE_U 150000, start 10⁶/node) as n_iter CTE pairs — every step is
    bigint multiply + // so the unrolled SQL is bit-exact."""
    ctes = ["""
WITH d AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS src,
         event_type AS dst
  FROM events
), e AS (
  SELECT src, dst, cast(count(*) AS bigint) AS w
  FROM d WHERE src IS NOT NULL GROUP BY 1, 2
), wo AS (
  SELECT src, cast(sum(w) AS bigint) AS wout FROM e GROUP BY 1
), ew AS (
  SELECT e.src, e.dst, e.w, wo.wout FROM e JOIN wo USING (src)
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)
), p0 AS (
  SELECT node, cast(1000000 AS bigint) AS pr_u FROM nodes
)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f""", c{i} AS (
  SELECT dst AS node,
         cast(sum((85 * pr_u * w) // (100 * wout)) AS bigint) AS inflow
  FROM ew JOIN p{i - 1} ON ew.src = p{i - 1}.node GROUP BY 1
), p{i} AS (
  SELECT nodes.node,
         cast(150000 + coalesce(inflow, 0) AS bigint) AS pr_u
  FROM nodes LEFT JOIN c{i} USING (node)
)""")
    return "".join(ctes) + f"\nSELECT node, pr_u FROM p{n_iter}\n"


_COACTIVITY_EDGE_CTES = """d AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS src,
         event_type AS dst
  FROM events
), e AS (
  SELECT src, dst, cast(count(*) AS bigint) AS w
  FROM d WHERE src IS NOT NULL GROUP BY 1, 2
)"""

_TEXTRANK_EDGE_CTES = """base AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), tk AS (
  SELECT doc_id, unnest(t) AS tok FROM base
), vf AS (
  SELECT tok FROM (
    SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1
  ) WHERE df >= 5
), pair AS (
  SELECT split_part(bg, ' ', 1) AS a, split_part(bg, ' ', 2) AS b
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i + 1])) AS bg
    FROM base
  )
), fp AS (
  SELECT a, b FROM pair
  WHERE a <> b
    AND a IN (SELECT tok FROM vf) AND b IN (SELECT tok FROM vf)
), e AS (
  SELECT src, dst, cast(count(*) AS bigint) AS w FROM (
    SELECT a AS src, b AS dst FROM fp
    UNION ALL
    SELECT b AS src, a AS dst FROM fp
  ) GROUP BY 1, 2
)"""


def _pagerank_dangling_oracle(n_iter: int = 3) -> str:
    return _pagerank_unrolled_oracle(_COACTIVITY_EDGE_CTES, n_iter)


_MINUTE_COACT_CTES = """active AS (
  SELECT DISTINCT cast(user_id AS bigint) AS u,
         date_trunc('minute', ts) AS b
  FROM events
), capped AS (
  SELECT u, b FROM active
  QUALIFY row_number() OVER (PARTITION BY b ORDER BY u) <= 24
), e AS (
  SELECT DISTINCT x.u AS a, y.u AS b
  FROM capped x JOIN capped y ON x.b = y.b AND x.u < y.u
), und AS (
  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
)"""


def _kcore_oracle(k: int = 10, n_rounds: int = 6) -> str:
    """Unroll n_rounds of synchronous k-core peeling as CTEs —
    order-free (each round depends only on the survivor set), so
    this is bit-exact vs graphrank.kcore_peel."""
    ctes = [f"WITH {_MINUTE_COACT_CTES}, a0 AS (\n"
            "  SELECT DISTINCT a AS node FROM und\n)"]
    for i in range(1, n_rounds + 1):
        ctes.append(f""", d{i} AS (
  SELECT a, count(*) AS c FROM und
  WHERE a IN (SELECT node FROM a{i - 1})
    AND b IN (SELECT node FROM a{i - 1})
  GROUP BY 1
), a{i} AS (
  SELECT a AS node FROM d{i} WHERE c >= {k}
)""")
    return "".join(ctes) + f"""
SELECT a AS node, cast(count(*) AS bigint) AS core_deg
FROM und
WHERE a IN (SELECT node FROM a{n_rounds})
  AND b IN (SELECT node FROM a{n_rounds})
GROUP BY 1
"""


_STL_CTES = """h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS bucket_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS cs,
         cast(count(*) AS bigint) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, bucket_ts, cs, n,
         cast(sum(cs) OVER w AS bigint) AS csw,
         cast(sum(n) OVER w AS bigint) AS nw
  FROM h
  WINDOW w AS (PARTITION BY metric ORDER BY epoch_us(bucket_ts)
               RANGE BETWEEN 302400000000 PRECEDING
                         AND 302400000000 FOLLOWING)
), d AS (
  SELECT metric, bucket_ts,
         cast(cs AS double) / cast(n AS double) / 100.0 AS meanv,
         cast(csw AS double) / cast(nw AS double) / 100.0 AS trend,
         cast(dayofweek(bucket_ts) + 1 AS int) AS dow,
         cast(hour(bucket_ts) AS int) AS hod
  FROM t
), d2 AS (
  SELECT *,
         cast(round((meanv - trend) * 1000000.0) AS bigint) AS du
  FROM d
), prof AS (
  SELECT metric, dow, hod,
         cast(floor(cast(sum(du) AS double)
                    / cast(count(*) AS double)) AS bigint) AS su
  FROM d2 GROUP BY 1, 2, 3
), stl AS (
  SELECT d2.metric, d2.bucket_ts,
         round(meanv, 6) AS mean_v,
         round(trend, 6) AS trend,
         round(cast(su AS double) / 1000000.0, 6) AS seasonal,
         round(round(meanv, 6) - round(trend, 6)
               - cast(su AS double) / 1000000.0, 6) AS resid
  FROM d2 JOIN prof USING (metric, dow, hod)
)"""


def _lpa_oracle(n_rounds: int = 4) -> str:
    """Unroll synchronous label propagation (mode of neighbor labels,
    ties -> min, packed into cnt*2^32 - (lbl+1) exactly as
    graphrank.label_propagation does) as n_rounds CTE blocks."""
    two32 = 1 << 32
    ctes = [f"WITH {_MINUTE_COACT_CTES}, l0 AS (\n"
            "  SELECT DISTINCT a AS node, a AS lbl FROM und\n)"]
    for i in range(1, n_rounds + 1):
        ctes.append(f""", v{i} AS (
  SELECT und.a, l{i - 1}.lbl AS nl, count(*) AS c
  FROM und JOIN l{i - 1} ON und.b = l{i - 1}.node GROUP BY 1, 2
), m{i} AS (
  SELECT a, max(c * {two32} - (nl + 1)) AS m FROM v{i} GROUP BY 1
), l{i} AS (
  SELECT a AS node,
         ((m // {two32}) + 1) * {two32} - m - 1 AS lbl
  FROM m{i}
)""")
    return "".join(ctes) + (
        f"\nSELECT node, cast(lbl AS bigint) AS lbl FROM l{n_rounds}\n"
    )


def _modularity_oracle(n_rounds: int = 4) -> str:
    """LPA unroll (same blocks as _lpa_oracle) + Newman modularity per
    community: Q_c = (i_c·M − d_c²)/M² in exact hugeint over the same
    symmetrized distinct edge set `und`."""
    two32 = 1 << 32
    ctes = [f"WITH {_MINUTE_COACT_CTES}, l0 AS (\n"
            "  SELECT DISTINCT a AS node, a AS lbl FROM und\n)"]
    for i in range(1, n_rounds + 1):
        ctes.append(f""", v{i} AS (
  SELECT und.a, l{i - 1}.lbl AS nl, count(*) AS c
  FROM und JOIN l{i - 1} ON und.b = l{i - 1}.node GROUP BY 1, 2
), m{i} AS (
  SELECT a, max(c * {two32} - (nl + 1)) AS m FROM v{i} GROUP BY 1
), l{i} AS (
  SELECT a AS node,
         ((m // {two32}) + 1) * {two32} - m - 1 AS lbl
  FROM m{i}
)""")
    return "".join(ctes) + f""", lab AS (
  SELECT node, lbl FROM l{n_rounds}
), tot AS (
  SELECT cast(count(*) AS hugeint) AS M FROM und
), degs AS (
  SELECT a AS node, count(*) AS deg FROM und GROUP BY 1
), dc AS (
  SELECT lab.lbl, count(*) AS n_nodes,
         cast(sum(deg) AS hugeint) AS d_sum
  FROM degs JOIN lab USING (node) GROUP BY 1
), ic AS (
  SELECT la.lbl, cast(count(*) AS hugeint) AS i_c
  FROM und JOIN lab la ON und.a = la.node
           JOIN lab lb ON und.b = lb.node AND la.lbl = lb.lbl
  GROUP BY 1
)
SELECT cast(dc.lbl AS bigint) AS lbl,
       cast(n_nodes AS bigint) AS n_nodes,
       cast(d_sum AS bigint) AS deg_sum,
       cast(coalesce(i_c, 0) // 2 AS bigint) AS e_in,
       round(cast(coalesce(i_c, 0) * M - d_sum * d_sum AS double)
             / cast(M * M AS double), 6) AS q_contrib
FROM dc LEFT JOIN ic ON dc.lbl = ic.lbl CROSS JOIN tot
"""


def _kmv_oracle(k: int = 64) -> str:
    """KMV sketch overlap between event_type segments — replicates
    sketches.kmv_overlap element-for-element (affine hash, per-seg
    k-min, union k-min, Jaccard/intersection estimators)."""
    from timeseriescorrelation_spark.operators.dedup import A_J, B_J, P31

    a_m, b_a = A_J[0], B_J[0]
    return f"""
WITH d AS (
  SELECT DISTINCT event_type AS seg,
         (user_id * {a_m} + {b_a}) % {P31} AS h
  FROM events
), topk AS (
  SELECT seg, h FROM (
    SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS r
    FROM d
  ) WHERE r <= {k}
), g AS (
  SELECT seg, max(h) AS hk, count(*) AS m FROM topk GROUP BY 1
), singles AS (
  SELECT seg,
         CASE WHEN m < {k} THEN cast(m AS double)
              ELSE {float(k - 1)} * {float(P31)} / cast(hk AS double)
         END AS est
  FROM g
), pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b
  FROM g a JOIN g b ON a.seg < b.seg
), u AS (
  SELECT p.seg_a, p.seg_b, t.h, 1 AS ina, 0 AS inb
  FROM pairs p JOIN topk t ON t.seg = p.seg_a
  UNION ALL
  SELECT p.seg_a, p.seg_b, t.h, 0 AS ina, 1 AS inb
  FROM pairs p JOIN topk t ON t.seg = p.seg_b
), merged AS (
  SELECT seg_a, seg_b, h, max(ina) AS ina, max(inb) AS inb
  FROM u GROUP BY 1, 2, 3
), mk AS (
  SELECT * FROM (
    SELECT seg_a, seg_b, h, ina, inb,
           row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY h) AS r
    FROM merged
  ) WHERE r <= {k}
), pg AS (
  SELECT seg_a, seg_b, count(*) AS mu, max(h) AS mhk,
         sum(ina * inb) AS both_n
  FROM mk GROUP BY 1, 2
)
SELECT seg_a, seg_b,
       round(sa.est, 6) AS est_a,
       round(sb.est, 6) AS est_b,
       round(CASE WHEN mu < {k} THEN cast(mu AS double)
                  ELSE {float(k - 1)} * {float(P31)}
                       / cast(mhk AS double) END, 6) AS est_union,
       round(cast(both_n AS double) / cast(mu AS double), 6)
         AS est_jaccard,
       round(cast(both_n AS double) / cast(mu AS double)
             * CASE WHEN mu < {k} THEN cast(mu AS double)
                    ELSE {float(k - 1)} * {float(P31)}
                         / cast(mhk AS double) END, 6) AS est_inter
FROM pg
JOIN singles sa ON pg.seg_a = sa.seg
JOIN singles sb ON pg.seg_b = sb.seg
"""


def _dsir_oracle(n_buckets: int = 4096) -> str:
    from timeseriescorrelation_spark.operators.dedup import A_J, B_J, P31

    return f"""
WITH base AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), bg AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM base
), vocab AS (
  SELECT bg,
         ((row_number() OVER (ORDER BY bg)) * {A_J[0]} + {B_J[0]})
           % {P31} % {n_buckets} AS bkt
  FROM (SELECT DISTINCT bg FROM bg)
), bk AS (
  SELECT doc_id, source, bkt FROM bg JOIN vocab USING (bg)
), per AS (
  SELECT bkt,
         cast(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              AS bigint) AS ct,
         cast(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)
              AS bigint) AS cr
  FROM bk GROUP BY 1
), tot AS (
  SELECT cast(sum(ct) AS bigint) AS nt, cast(sum(cr) AS bigint) AS nr
  FROM per
), model AS (
  SELECT bkt,
         cast(round((ln(cast(ct + 1 AS double)
                        / cast(nt + {n_buckets} AS double))
                     - ln(cast(cr + 1 AS double)
                          / cast(nr + {n_buckets} AS double)))
                    * 1000000.0) AS bigint) AS lr_u
  FROM per CROSS JOIN tot
)
SELECT doc_id, source, cast(count(*) AS bigint) AS n_bigrams,
       cast(sum(lr_u) AS bigint) AS logw_u
FROM bk JOIN model USING (bkt)
WHERE source <> 'src0' GROUP BY 1, 2
"""


def _pagerank_unrolled_oracle(edge_ctes: str, n_iter: int,
                              teleport_cte: str | None = None) -> str:
    """Unroll graphrank.pagerank_conserving over ANY edge source:
    damped per-edge floors + per-src remainder to min(dst), dangling +
    undamped shares pooled and paid out pool//N with the mod-N
    remainder on the min node.  Pure bigint arithmetic — bit-exact vs
    the Spark loop.  `edge_ctes` must end with a CTE named e(src,
    dst, w).  With `teleport_cte` (SQL for a CTE body yielding
    tele(node)), the pool pays out only over that set — the
    personalized variant."""
    tele_block = (
        f", tele AS ({teleport_cte})" if teleport_cte else
        ", tele AS (SELECT node FROM nodes)"
    )
    pay_cond = (
        "n.node IN (SELECT node FROM tele)" if teleport_cte else "TRUE"
    )
    ctes = [f"""
WITH {edge_ctes}, wo AS (
  SELECT src, cast(sum(w) AS bigint) AS wout FROM e GROUP BY 1
), ew AS (
  SELECT e.src, e.dst, e.w, wo.wout FROM e JOIN wo USING (src)
), d0 AS (
  SELECT src, min(dst) AS dst0 FROM ew GROUP BY 1
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew)
){tele_block}, nn AS (
  SELECT cast(count(*) AS bigint) AS n, min(node) AS mn FROM tele
), p0 AS (
  SELECT node, cast(1000000 AS bigint) AS pr_u FROM nodes
)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f""", o{i} AS (
  SELECT node, pr_u, cast((85 * pr_u) // 100 AS bigint) AS out_u
  FROM p{i - 1}
), fl{i} AS (
  SELECT ew.src, ew.dst,
         cast((o.out_u * ew.w) // ew.wout AS bigint) AS fl, o.out_u
  FROM ew JOIN o{i} o ON ew.src = o.node
), ps{i} AS (
  SELECT src, cast(sum(fl) AS bigint) AS fl_sum,
         max(out_u) AS out_u
  FROM fl{i} GROUP BY 1
), infl{i} AS (
  SELECT node, cast(sum(amt) AS bigint) AS inflow FROM (
    SELECT dst AS node, fl AS amt FROM fl{i}
    UNION ALL
    SELECT d0.dst0 AS node, ps.out_u - ps.fl_sum AS amt
    FROM ps{i} ps JOIN d0 USING (src)
  ) GROUP BY 1
), pool{i} AS (
  SELECT cast(sum(p) AS bigint) AS pool FROM (
    SELECT pr_u - out_u AS p FROM o{i}
    UNION ALL
    SELECT out_u FROM o{i}
    WHERE node NOT IN (SELECT src FROM wo)
  )
), p{i} AS (
  SELECT n.node,
         cast(coalesce(f.inflow, 0)
              + CASE WHEN {pay_cond} THEN pool.pool // nn.n
                     ELSE 0 END
              + CASE WHEN n.node = nn.mn THEN pool.pool % nn.n
                     ELSE 0 END AS bigint) AS pr_u
  FROM nodes n
  LEFT JOIN infl{i} f ON f.node = n.node
  CROSS JOIN pool{i} pool CROSS JOIN nn
)""")
    return "".join(ctes) + f"\nSELECT node, pr_u FROM p{n_iter}\n"


# ACF spectrum oracle (operators.acf.acf_spectrum): dense hourly
# counts per metric, lags 1..24 paired via equi-join, ρ assembled from
# exact BIGINT moments — shared by acf_hourly and dominant_period
_ACF_SQL = """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), l AS (
  SELECT unnest(generate_series(1, 24)) AS lag_h
), p AS (
  SELECT a.metric, l.lag_h, a.y AS x, b.y AS y2
  FROM g a CROSS JOIN l
  JOIN g b ON b.metric = a.metric
          AND b.h_us = a.h_us + l.lag_h * 3600000000
), m AS (
  SELECT metric, lag_h, cast(count(*) AS bigint) AS n,
         cast(sum(x) AS bigint) AS sx, cast(sum(y2) AS bigint) AS sy,
         cast(sum(x * x) AS bigint) AS sxx,
         cast(sum(y2 * y2) AS bigint) AS syy,
         cast(sum(x * y2) AS bigint) AS sxy
  FROM p GROUP BY 1, 2
)
SELECT metric, cast(lag_h AS int) AS lag_h, n AS n_pairs,
       CASE WHEN n >= 8 AND n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0
            THEN round(cast(n * sxy - sx * sy AS double)
                       / (sqrt(cast(n * sxx - sx * sx AS double))
                          * sqrt(cast(n * syy - sy * sy AS double))), 6)
       END AS acf
FROM m
"""


def _dtw_oracle(band: int = 3) -> str:
    """Banded DTW as SQL: the 24×24 DP unrolls along ANTI-DIAGONALS
    (cells with i+j = t depend only on diagonals t−1 and t−2), so the
    fixed profile length pins the recursion at 47 generated CTE
    levels — each one three small left joins on the banded cost
    table.  Bit-exact vs the Arrow kernel because the z-norm is the
    shared integer expression v = (24·y − T)/√(24·S2 − T²) and the
    DP adds the SAME doubles in the SAME order."""
    n = 24
    head = f"""
WITH hb AS (
  SELECT event_type AS k, date_trunc('day', ts) AS day_ts,
         hour(ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2, 3
), grid AS (
  SELECT kd.k, kd.day_ts, gs.h, coalesce(hb.y, 0) AS y
  FROM (SELECT DISTINCT k, day_ts FROM hb) kd
  CROSS JOIN (SELECT unnest(generate_series(0, {n - 1})) AS h) gs
  LEFT JOIN hb ON hb.k = kd.k AND hb.day_ts = kd.day_ts
             AND hb.h = gs.h
), st AS (
  SELECT k, day_ts, cast(sum(y) AS bigint) AS t_sum,
         sum(cast(y AS hugeint) * y) AS s2
  FROM grid GROUP BY 1, 2
), zv AS (
  SELECT g.k, g.day_ts, g.h,
         CASE WHEN {n} * s2 - cast(t_sum AS hugeint) * t_sum > 0
              THEN cast({n} * g.y - t_sum AS double)
                   / sqrt(cast({n} * s2
                               - cast(t_sum AS hugeint) * t_sum
                               AS double))
              ELSE 0.0 END AS v
  FROM grid g JOIN st ON g.k = st.k AND g.day_ts = st.day_ts
), cost AS MATERIALIZED (
  SELECT a.k AS ma, b.k AS mb, a.day_ts,
         a.h + 1 AS i, a.h + b.h + 2 AS t, abs(a.v - b.v) AS cost
  FROM zv a JOIN zv b ON a.day_ts = b.day_ts AND a.k < b.k
  WHERE abs(a.h - b.h) <= {band}
), lvl0 AS (
  SELECT DISTINCT ma, mb, day_ts, 0 AS i, 0.0 AS d FROM cost
), lvl1 AS (
  SELECT ma, mb, day_ts, i, d FROM lvl0 WHERE false
)"""
    lvls = []
    for t in range(2, 2 * n + 1):
        lvls.append(f""", lvl{t} AS MATERIALIZED (
  SELECT c.ma, c.mb, c.day_ts, c.i,
         c.cost + least(coalesce(p1a.d, 1e308),
                        coalesce(p1b.d, 1e308),
                        coalesce(p2.d, 1e308)) AS d
  FROM cost c
  LEFT JOIN lvl{t - 1} p1a ON c.ma = p1a.ma AND c.mb = p1a.mb
       AND c.day_ts = p1a.day_ts AND p1a.i = c.i - 1
  LEFT JOIN lvl{t - 1} p1b ON c.ma = p1b.ma AND c.mb = p1b.mb
       AND c.day_ts = p1b.day_ts AND p1b.i = c.i
  LEFT JOIN lvl{t - 2} p2 ON c.ma = p2.ma AND c.mb = p2.mb
       AND c.day_ts = p2.day_ts AND p2.i = c.i - 1
  WHERE c.t = {t}
)""")
    tail = f"""
SELECT ma AS metric_a, mb AS metric_b, day_ts, round(d, 6) AS dtw
FROM lvl{2 * n} WHERE i = {n}
"""
    return head + "".join(lvls) + tail


_RECOVERY_ORACLE = """
WITH nx AS (
  SELECT event_type, ts,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS gap_us
  FROM events
), er AS (
  SELECT date_trunc('day', ts) AS day_ts,
         CASE WHEN gap_us IS NOT NULL AND gap_us <= 300000000
              THEN 1 ELSE 0 END AS rec,
         CASE WHEN gap_us IS NOT NULL AND gap_us <= 300000000
              THEN gap_us ELSE 0 END AS rus
  FROM nx WHERE event_type = 'error'
), g AS (
  SELECT day_ts, cast(count(*) AS bigint) AS n_errors,
         cast(sum(rec) AS bigint) AS n_recovered,
         cast(sum(rus) AS bigint) AS rec_us
  FROM er GROUP BY 1
)
SELECT day_ts, n_errors, n_recovered,
       round(cast(n_recovered AS double) / cast(n_errors AS double),
             6) AS recovery_rate,
       CASE WHEN n_recovered > 0 THEN
            round(cast(rec_us AS double)
                  / cast(n_recovered AS double) / 1e6, 6)
       END AS mean_gap_s
FROM g
"""


_LAD_TREND_ORACLE = """
WITH d0 AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), base AS (
  SELECT metric,
         min(epoch_us(day_ts) // 86400000000) AS x0,
         cast(count(*) AS bigint) AS n_days
  FROM d0 GROUP BY 1 HAVING count(*) >= 5
), d AS (
  SELECT d0.metric,
         epoch_us(day_ts) // 86400000000 - x0 AS x, y, n_days
  FROM d0 JOIN base USING (metric)
), cand AS (
  SELECT i.metric, i.x AS xi, j.x AS xj, i.y AS yi,
         j.y - i.y AS num, j.x - i.x AS den
  FROM d i JOIN d j ON i.metric = j.metric AND i.x < j.x
), sc AS (
  SELECT c.metric, c.xi, c.xj, c.yi, c.num, c.den,
         sum(abs(cast(k.y - c.yi AS hugeint) * c.den
                 - cast(c.num AS hugeint) * (k.x - c.xi)))
           AS loss_den
  FROM cand c JOIN d k ON c.metric = k.metric
  GROUP BY 1, 2, 3, 4, 5, 6
), best AS (
  SELECT metric,
         min({'lu': loss_den * 1000000 // den, 'xi': xi, 'xj': xj,
              'yi': yi, 'num': num, 'den': den}) AS b
  FROM sc GROUP BY 1
), n AS (
  SELECT metric, max(n_days) AS n_days FROM d GROUP BY 1
)
SELECT best.metric, n.n_days,
       round(cast(b.num AS double) / cast(b.den AS double) / 100.0,
             6) AS slope,
       round((cast(b.yi AS double) * cast(b.den AS double)
              - cast(b.num AS double) * cast(b.xi AS double))
             / cast(b.den AS double) / 100.0, 6) AS intercept,
       round(cast(b.lu AS double) / 1e6 / 100.0, 6) AS lad_loss
FROM best JOIN n ON best.metric = n.metric
"""


_SKYLINE_ORACLE = """
WITH per AS (
  SELECT user_id AS actor, cast(count(*) AS bigint) AS vol,
         cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS bigint) AS errs
  FROM events GROUP BY 1
), lv AS (
  SELECT vol, min(errs) AS e_min FROM per GROUP BY 1
), dominated AS (
  SELECT DISTINCT u.actor
  FROM per u JOIN lv l
    ON (l.vol > u.vol
        AND cast(l.e_min AS hugeint) * u.vol
            <= cast(u.errs AS hugeint) * l.vol)
    OR (l.vol = u.vol AND l.e_min < u.errs)
)
SELECT cast(p.actor AS bigint) AS actor, p.vol, p.errs,
       round(cast(p.errs AS double) / cast(p.vol AS double), 6)
         AS err_rate
FROM per p LEFT JOIN dominated d ON p.actor = d.actor
WHERE d.actor IS NULL
"""

_LANGID_CONFUSION_ORACLE = """
WITH r AS (
  SELECT doc_id, lang,
         CASE WHEN len(regexp_extract_all(lower(text), '[a-z]')) > 0
              THEN cast(len(regexp_extract_all(lower(text), '[aeiou]'))
                        AS double)
                   / len(regexp_extract_all(lower(text), '[a-z]'))
              ELSE 0.0 END AS ratio
  FROM documents
), p AS (
  SELECT lang,
         CASE WHEN ratio >= 0.46 THEN 'fi'
              WHEN ratio >= 0.42 THEN 'es'
              WHEN ratio >= 0.38 THEN 'en'
              WHEN ratio >= 0.34 THEN 'fr'
              ELSE 'de' END AS pred_lang
  FROM r
), cells AS (
  SELECT lang, pred_lang, cast(count(*) AS bigint) AS n
  FROM p GROUP BY 1, 2
), rows_t AS (
  SELECT lang, cast(sum(n) AS bigint) AS row_n FROM cells GROUP BY 1
)
SELECT c.lang, c.pred_lang, c.n,
       round(cast(c.n AS double) / cast(r.row_n AS double), 6)
         AS share
FROM cells c JOIN rows_t r ON c.lang = r.lang
"""


def oracle_sql() -> dict[str, str]:
    d = _static_oracles()
    d.update(_dedup_oracles())
    # the gram-mode covariance computes the SAME exact integers as the
    # exact form (snap-before-sum; pytest-pinned bit-equal), so the
    # production scale path shares emb_cov's oracle verbatim
    d["emb_cov_gram"] = d["emb_cov"]
    d["ann_ivf_kmeans"] = _kmeans_ivf_oracle(k=8, n_iter=2)
    d["dtw_daily"] = _dtw_oracle(band=3)
    d["nw_align"] = _nw_oracle()
    d["sw_align"] = _sw_oracle()
    d["recovery_after_error"] = _RECOVERY_ORACLE
    d["lad_trend"] = _LAD_TREND_ORACLE
    d["esd_outliers"] = _esd_oracle(k=3)
    d["logit_fit"] = _logit_oracle(n_iter=2)
    d["ewma_chart"] = _ewma_chart_oracle()
    d["huber_trend"] = _huber_oracle(n_iter=2)
    d["markov_absorption"] = _markov_absorption_oracle(
        target="purchase", k_steps=8
    )
    d["dow_contrasts"] = """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pg AS (
  SELECT metric,
         (epoch_us(date_trunc('day', hour_ts)) // 86400000000 + 4)
           % 7 AS dow,
         cast(count(*) AS hugeint) AS ng,
         cast(sum(cast(y AS hugeint)) AS hugeint) AS sg,
         sum(cast(y AS hugeint) * y) AS sxxg
  FROM h GROUP BY 1, 2 HAVING count(*) >= 3
), g2 AS (
  SELECT metric, dow, ng, sg, sxxg,
         cast(round(cast(sg * sg AS double) / cast(ng AS double))
              AS hugeint) AS tg_u
  FROM pg
), tot AS (
  SELECT metric, sum(ng) AS nn, cast(count(*) AS hugeint) AS k,
         sum(sxxg) AS sxx, sum(tg_u) AS sum_tg
  FROM g2 GROUP BY 1 HAVING count(*) >= 2
), base AS (
  SELECT metric,
         cast(sxx - sum_tg AS double) / cast(nn - k AS double) AS msw
  FROM tot
)
SELECT a.metric, cast(a.dow AS int) AS dow_a,
       cast(b.dow AS int) AS dow_b,
       cast(a.ng AS bigint) AS n_a, cast(b.ng AS bigint) AS n_b,
       round((cast(a.sg AS double) / cast(a.ng AS double)
              - cast(b.sg AS double) / cast(b.ng AS double))
             / 100.0, 6) AS mean_diff,
       CASE WHEN msw > 0 THEN
            round((cast(a.sg AS double) / cast(a.ng AS double)
                   - cast(b.sg AS double) / cast(b.ng AS double))
                  / sqrt(msw * (1.0 / cast(a.ng AS double)
                                + 1.0 / cast(b.ng AS double))), 6)
       END AS t_stat
FROM g2 a JOIN g2 b ON a.metric = b.metric AND a.dow < b.dow
JOIN base ON a.metric = base.metric
"""
    d["capture_recapture"] = """
WITH d AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day_ts
  FROM events
), nb AS (
  SELECT day_ts, cast(count(*) AS bigint) AS n FROM d GROUP BY 1
), m AS (
  SELECT a.day_ts, cast(count(*) AS bigint) AS m
  FROM d a JOIN d b
    ON a.u = b.u AND b.day_ts = a.day_ts + INTERVAL 1 DAY
  GROUP BY 1
), j AS (
  SELECT nb.day_ts, nb.n AS n1, n2.n2,
         cast(coalesce(m.m, 0) AS bigint) AS m
  FROM nb
  JOIN (SELECT day_ts - INTERVAL 1 DAY AS day_ts, n AS n2 FROM nb)
       n2 ON nb.day_ts = n2.day_ts
  LEFT JOIN m ON nb.day_ts = m.day_ts
), e AS (
  SELECT day_ts, n1, n2, m,
         (cast(n1 AS double) + 1.0) * (cast(n2 AS double) + 1.0)
           / (cast(m AS double) + 1.0) - 1.0 AS nhat,
         (cast(n1 AS double) + 1.0) * (cast(n2 AS double) + 1.0)
           * (cast(n1 AS double) - cast(m AS double))
           * (cast(n2 AS double) - cast(m AS double))
           / ((cast(m AS double) + 1.0) * (cast(m AS double) + 1.0)
              * (cast(m AS double) + 2.0)) AS var
  FROM j
)
SELECT day_ts, n1 AS n_day1, n2 AS n_day2, m AS n_both,
       round(nhat, 6) AS n_hat,
       CASE WHEN m > 0
            THEN round(nhat - 1.96 * sqrt(var), 6) END AS ci_lo,
       CASE WHEN m > 0
            THEN round(nhat + 1.96 * sqrt(var), 6) END AS ci_hi
FROM e
"""
    d["isotonic_trend"] = """
WITH g AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS c
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT metric, day_ts, c,
         row_number() OVER (PARTITION BY metric ORDER BY day_ts) AS i,
         cast(sum(c) OVER (PARTITION BY metric ORDER BY day_ts)
              AS bigint) AS ps
  FROM g
), iv AS (
  SELECT j.metric, j.i AS j, k.i AS k,
         cast(k.ps - j.ps + j.c AS double)
         / cast(k.i - j.i + 1 AS double) AS mean_jk
  FROM idx j JOIN idx k
    ON j.metric = k.metric AND j.i <= k.i
), inner_min AS (
  SELECT b.metric, b.i, iv.j, min(mean_jk) AS mn
  FROM iv JOIN idx b ON iv.metric = b.metric
                     AND iv.j <= b.i AND iv.k >= b.i
  GROUP BY 1, 2, 3
), mm AS (
  SELECT metric, i, max(mn) AS fit
  FROM inner_min GROUP BY 1, 2
)
SELECT b.metric, b.day_ts,
       round(cast(b.c AS double) / 100.0, 6) AS value_raw,
       round(mm.fit / 100.0, 6) AS value_iso
FROM idx b JOIN mm ON b.metric = mm.metric AND b.i = mm.i
"""
    pw_pearson = """
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         cast(count(*) AS hugeint) AS n,
         sum(cast(a.{v} AS hugeint)) AS sx,
         sum(cast(b.{v} AS hugeint)) AS sy,
         sum(cast(a.{v} AS hugeint) * b.{v}) AS sxy,
         sum(cast(a.{v} AS hugeint) * a.{v}) AS sxx,
         sum(cast(b.{v} AS hugeint) * b.{v}) AS syy
  FROM res a JOIN res b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
  GROUP BY 1, 2
"""
    pw_r = """
  SELECT metric_a, metric_b, cast(n AS bigint) AS n,
         CASE WHEN cast(n * sxx - sx * sx AS double) > 0
                   AND cast(n * syy - sy * sy AS double) > 0
              THEN round(cast(n * sxy - sx * sy AS double)
                         / sqrt(cast(n * sxx - sx * sx AS double)
                                * cast(n * syy - sy * sy AS double)),
                         6) END AS {r}
  FROM m{tag}
"""
    d["xcorr_prewhitened"] = f"""
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), lg AS (
  SELECT metric, hour_ts, y,
         lag(y) OVER (PARTITION BY metric ORDER BY hour_ts) AS yp,
         epoch_us(hour_ts) - lag(epoch_us(hour_ts)) OVER (
             PARTITION BY metric ORDER BY hour_ts) AS dt_us
  FROM h
), mom AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(cast(yp AS hugeint)) AS su,
         sum(cast(y AS hugeint)) AS sv,
         sum(cast(yp AS hugeint) * y) AS suv,
         sum(cast(yp AS hugeint) * yp) AS suu,
         sum(cast(y AS hugeint) * y) AS svv
  FROM lg WHERE yp IS NOT NULL GROUP BY 1
), rho AS (
  SELECT metric,
         CASE WHEN cast(n * suu - su * su AS double) > 0
                   AND cast(n * svv - sv * sv AS double) > 0
              THEN cast(n * suv - su * sv AS double)
                   / sqrt(cast(n * suu - su * su AS double)
                          * cast(n * svv - sv * sv AS double))
              ELSE 0.0 END AS rho
  FROM mom
), res AS (
  SELECT lg.metric, hour_ts, cast(y AS bigint) AS yc,
         cast(round((cast(y AS double) - rho * cast(yp AS double))
                    * 1000.0) AS bigint) AS e_u
  FROM lg JOIN rho USING (metric)
  WHERE yp IS NOT NULL AND dt_us = 3600000000
), mraw AS ({pw_pearson.format(v='yc')}), mpre AS (
  {pw_pearson.format(v='e_u')}
), rraw AS ({pw_r.format(r='r_raw', tag='raw')}), rpre AS (
  {pw_r.format(r='r_prewhitened', tag='pre')}
)
SELECT rraw.metric_a, rraw.metric_b, rraw.n AS n_hours,
       r_raw, r_prewhitened
FROM rraw JOIN rpre ON rraw.metric_a = rpre.metric_a
                    AND rraw.metric_b = rpre.metric_b
WHERE r_raw IS NOT NULL AND rraw.n >= 24
"""
    d["tier_info_loss"] = """
WITH g AS (
  SELECT event_type AS metric, date_trunc('minute', ts) AS b,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), hs AS (
  SELECT metric, date_trunc('hour', b) AS h,
         cast(count(*) AS bigint) AS n,
         cast(sum(y) AS bigint) AS s,
         sum(cast(y AS hugeint) * y) AS sxx
  FROM g GROUP BY 1, 2
), per AS (
  SELECT metric,
         cast(sum(n) AS bigint) AS n_minutes,
         cast(count(*) AS bigint) AS n_hours,
         cast(sum(s) AS bigint) AS st,
         sum(sxx) AS sxxt,
         sum(cast(round((cast(sxx AS double)
                         - cast(s AS double) * cast(s AS double)
                           / cast(n AS double)) * 1e6) AS hugeint))
           AS ssw_u
  FROM hs GROUP BY 1 HAVING sum(n) >= 60
)
SELECT metric, n_minutes, n_hours,
       round(CASE WHEN cast(sxxt AS double)
                       - cast(st AS double) * cast(st AS double)
                         / cast(n_minutes AS double) > 0
             THEN cast(ssw_u AS double) / 1e6
                  / (cast(sxxt AS double)
                     - cast(st AS double) * cast(st AS double)
                       / cast(n_minutes AS double)) END, 6)
         AS var_within_share,
       round(1.0 - CASE WHEN cast(sxxt AS double)
                             - cast(st AS double) * cast(st AS double)
                               / cast(n_minutes AS double) > 0
                   THEN cast(ssw_u AS double) / 1e6
                        / (cast(sxxt AS double)
                           - cast(st AS double) * cast(st AS double)
                             / cast(n_minutes AS double)) END, 6)
         AS var_retained
FROM per
"""
    d["gmd_daily"] = """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), r AS (
  SELECT metric, day_ts, c,
         row_number() OVER (PARTITION BY metric, day_ts
                            ORDER BY c) AS i,
         cast(count(*) OVER (PARTITION BY metric, day_ts) AS bigint)
           AS n
  FROM pt
), g AS (
  SELECT metric, day_ts, cast(max(n) AS bigint) AS n,
         sum(cast(2 * i - n - 1 AS hugeint) * c) AS s
  FROM r GROUP BY 1, 2 HAVING max(n) >= 4
)
SELECT metric, day_ts, n,
       round(2.0 * cast(s AS double)
             / (cast(n AS double) * (cast(n AS double) - 1.0))
             / 100.0, 6) AS gmd
FROM g
"""
    d["skyline_users"] = _SKYLINE_ORACLE
    d["langid_confusion"] = _LANGID_CONFUSION_ORACLE
    d["time_to_nth"] = """
WITH w AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS k,
         epoch_us(ts) - first_value(epoch_us(ts)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS gap_us,
         first_value(date_trunc('day', ts)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS cohort_day
  FROM events
), act AS (
  SELECT cohort_day, cast(count(*) AS bigint) AS n_activated,
         round(quantile_cont(gap_us, 0.5) / 3600000000.0, 4) AS p50h,
         round(quantile_cont(gap_us, 0.9) / 3600000000.0, 4) AS p90h
  FROM w WHERE k = 5 GROUP BY 1
), u AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY 1
), base AS (
  SELECT cohort_day, cast(count(*) AS bigint) AS n_users
  FROM u GROUP BY 1
)
SELECT b.cohort_day, b.n_users,
       cast(coalesce(a.n_activated, 0) AS bigint) AS n_activated,
       round(cast(coalesce(a.n_activated, 0) AS double)
             / cast(b.n_users AS double), 6) AS activation_rate,
       a.p50h AS p50_hours, a.p90h AS p90_hours
FROM base b LEFT JOIN act a ON b.cohort_day = a.cohort_day
"""
    grain_cte = """
  SELECT a.k AS metric_a, b.k AS metric_b,
         cast(count(*) AS hugeint) AS n,
         sum(cast(a.y AS hugeint)) AS sx,
         sum(cast(b.y AS hugeint)) AS sy,
         sum(cast(a.y AS hugeint) * a.y) AS sxx,
         sum(cast(b.y AS hugeint) * b.y) AS syy,
         sum(cast(a.y AS hugeint) * b.y) AS sxy
  FROM {g} a JOIN {g} b ON a.b = b.b AND a.k < b.k
  GROUP BY 1, 2
"""
    d["corr_grain_audit"] = f"""
WITH gm AS (
  SELECT event_type AS k, date_trunc('minute', ts) AS b,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), gh AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS b,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), mm AS ({grain_cte.format(g='gm')}), mh AS (
  {grain_cte.format(g='gh')}
), rm AS (
  SELECT metric_a, metric_b, cast(n AS bigint) AS n_minutes,
         CASE WHEN cast(n * sxx - sx * sx AS double) > 0
                   AND cast(n * syy - sy * sy AS double) > 0
              THEN round(cast(n * sxy - sx * sy AS double)
                         / sqrt(cast(n * sxx - sx * sx AS double)
                                * cast(n * syy - sy * sy AS double)),
                         6) END AS r_1m
  FROM mm
), rh AS (
  SELECT metric_a, metric_b, cast(n AS bigint) AS n_hours,
         CASE WHEN cast(n * sxx - sx * sx AS double) > 0
                   AND cast(n * syy - sy * sy AS double) > 0
              THEN round(cast(n * sxy - sx * sy AS double)
                         / sqrt(cast(n * sxx - sx * sx AS double)
                                * cast(n * syy - sy * sy AS double)),
                         6) END AS r_1h
  FROM mh WHERE n >= 24
)
SELECT rm.metric_a, rm.metric_b, n_minutes, n_hours, r_1m, r_1h,
       round(r_1m - r_1h, 6) AS r_delta
FROM rm JOIN rh ON rm.metric_a = rh.metric_a
                AND rm.metric_b = rh.metric_b
"""
    d["counter_rate"] = """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), c AS (
  SELECT metric, hour_ts,
         cast(sum(y) OVER (PARTITION BY metric,
                                        date_trunc('day', hour_ts)
                           ORDER BY hour_ts
                           ROWS UNBOUNDED PRECEDING) AS bigint) AS cnt
  FROM h
), d AS (
  SELECT metric, hour_ts, cnt,
         cnt - lag(cnt) OVER (PARTITION BY metric
                              ORDER BY hour_ts) AS d
  FROM c
), g AS (
  SELECT metric, date_trunc('day', hour_ts) AS bucket_ts,
         cast(count(*) AS bigint) AS n_samples,
         cast(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS bigint)
           AS n_resets,
         cast(sum(CASE WHEN d IS NULL THEN 0
                       WHEN d >= 0 THEN d ELSE cnt END) AS bigint)
           AS increase
  FROM d GROUP BY 1, 2
)
SELECT metric, bucket_ts, n_samples, n_resets, increase FROM g
"""
    edges_c = [int(e * 100) for e in PSI_EDGES]
    b_expr = " + ".join(
        f"(CASE WHEN cast(round(value * 100) AS bigint) >= {e} "
        "THEN 1 ELSE 0 END)" for e in edges_c
    )
    lo_case = " ".join(
        f"WHEN {i} THEN {(edges_c[i - 1] if i > 0 else 0)}.0"
        for i in range(len(edges_c) + 1)
    )
    hi_case = " ".join(
        f"WHEN {i} THEN "
        f"{(edges_c[i] if i < len(edges_c) else -1)}.0"
        for i in range(len(edges_c) + 1)
    )
    d["histogram_p95"] = f"""
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         {b_expr} AS b
  FROM events
), cells AS (
  SELECT metric, day_ts, b, cast(count(*) AS bigint) AS nb
  FROM pt GROUP BY 1, 2, 3
), cum AS (
  SELECT metric, day_ts, b, nb,
         cast(sum(nb) OVER (PARTITION BY metric, day_ts ORDER BY b
                            ROWS UNBOUNDED PRECEDING) AS bigint)
           AS cum,
         cast(sum(nb) OVER (PARTITION BY metric, day_ts) AS bigint)
           AS n
  FROM cells
), hit AS (
  SELECT metric, day_ts,
         min({{'b': b, 'nb': nb, 'cum': cum, 'n': n}}) AS t
  FROM cum WHERE 100 * cum >= 95 * n GROUP BY 1, 2
), e AS (
  SELECT metric, day_ts, t.b AS b, t.nb AS nb, t.cum AS cum,
         t.n AS n,
         CASE t.b {lo_case} END AS lo,
         CASE t.b {hi_case} END AS hi
  FROM hit
)
SELECT metric, day_ts, n,
       round((CASE WHEN b = {len(edges_c)} THEN lo
              ELSE lo + (hi - lo)
                   * (95.0 / 100.0 * cast(n AS double)
                      - (cast(cum AS double) - cast(nb AS double)))
                   / cast(nb AS double) END) / 100.0, 6) AS p95_est
FROM e
"""
    d["trigram_novelty"] = f"""
WITH {_SHINGLE_CTES}, first AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
), g AS (
  SELECT s.doc_id, cast(count(*) AS bigint) AS n_trigrams,
         cast(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS bigint) AS n_novel
  FROM sh s JOIN first f USING (shingle) GROUP BY 1
)
SELECT doc_id, n_trigrams, n_novel,
       round(cast(n_novel AS double) / cast(n_trigrams AS double), 6)
         AS novelty
FROM g
"""
    # Murphy decomposition composes on the calibration oracle verbatim
    d["brier_decomposition"] = (
        "WITH cal AS (" + d["markov_calibration"] + """), tot AS (
  SELECT cast(sum(n_pairs) AS bigint) AS nn,
         cast(sum(n_pos) AS bigint) AS pos, count(*) AS k
  FROM cal
), j AS (
  SELECT cal.*, tot.nn, tot.pos, tot.k,
         cast(tot.pos AS double) / cast(tot.nn AS double) AS obar
  FROM cal CROSS JOIN tot
), agg AS (
  SELECT nn, pos, k,
         cast(sum(cast(round(cast(n_pairs AS double)
               * (mean_pred - frac_obs) * (mean_pred - frac_obs)
               * 1000000.0) AS bigint)) AS bigint) AS rel_u,
         cast(sum(cast(round(cast(n_pairs AS double)
               * (frac_obs - obar) * (frac_obs - obar)
               * 1000000.0) AS bigint)) AS bigint) AS res_u
  FROM j GROUP BY 1, 2, 3
)
SELECT cast(k AS bigint) AS n_bins_used, nn AS n_pairs,
       round(cast(rel_u AS double) / 1000000.0
             / cast(nn AS double), 6) AS brier_rel,
       round(cast(res_u AS double) / 1000000.0
             / cast(nn AS double), 6) AS brier_res,
       round((cast(pos AS double) / cast(nn AS double))
             * (1.0 - cast(pos AS double) / cast(nn AS double)), 6)
         AS brier_unc,
       round(cast(rel_u AS double) / 1000000.0 / cast(nn AS double)
             - cast(res_u AS double) / 1000000.0 / cast(nn AS double)
             + (cast(pos AS double) / cast(nn AS double))
               * (1.0 - cast(pos AS double) / cast(nn AS double)), 6)
         AS brier
FROM agg
"""
    )
    # spectral entropy composes on the periodogram oracle verbatim:
    # nano-snapped powers over the 6-dp amps, micro-nat ln terms
    d["spectral_entropy"] = (
        "WITH pg AS (" + d["periodogram"] + """), q AS (
  SELECT metric,
         cast(round(amp * amp * 1000000000.0) AS bigint) AS qu
  FROM pg
), tot AS (
  SELECT metric, count(*) AS k_bands,
         cast(sum(qu) AS bigint) AS qsum, min(qu) AS qmin
  FROM q GROUP BY 1
), j AS (
  SELECT q.metric, qu, k_bands, qsum, qmin,
         cast(qu AS double) / cast(qsum AS double) AS p
  FROM q JOIN tot ON q.metric = tot.metric WHERE qu > 0
), agg AS (
  SELECT metric, k_bands, qsum, qmin,
         cast(sum(cast(round(p * ln(p) * 1000000.0) AS bigint))
              AS bigint) AS eu,
         cast(sum(cast(round(ln(cast(qu AS double)) * 1000000.0)
                       AS bigint)) AS bigint) AS lu,
         count(*) AS k_pos
  FROM j GROUP BY 1, 2, 3, 4
)
SELECT metric, cast(k_bands AS bigint) AS n_periods,
       round(CASE WHEN k_bands > 1
             THEN -(cast(eu AS double) / 1000000.0)
                  / ln(cast(k_bands AS double)) END, 6)
         AS spectral_entropy,
       round(CASE WHEN qmin > 0
                   AND cast(qsum AS double)
                       / cast(k_bands AS double) > 0
             THEN exp((cast(lu AS double) / 1000000.0)
                      / cast(k_pos AS double))
                  / (cast(qsum AS double) / cast(k_bands AS double))
             ELSE 0.0 END, 6) AS spectral_flatness
FROM agg WHERE qsum > 0
"""
    )
    d["silhouette"] = _silhouette_oracle(k=8, n_iter=2)
    # Ljung-Box rides the shared ACF CTE: per-lag terms snapped to
    # integer pico-units (order-free sum), Q one double expression
    d["ljung_box"] = (
        "WITH acf AS (" + _ACF_SQL + """)
SELECT metric, cast(max(n_pairs + lag_h) AS bigint) AS n_hours,
       cast(count(acf) AS bigint) AS k_used,
       round(cast(max(n_pairs + lag_h) AS double)
             * (cast(max(n_pairs + lag_h) AS double) + 2.0)
             * (cast(sum(cast(round(acf * acf / n_pairs
                                    * 1000000000000.0) AS bigint))
                     AS double)
                / 1000000000000.0), 6) AS q_lb
FROM acf GROUP BY metric
"""
    )
    # PACF via Durbin-Levinson over the same ACF CTE: one double tree
    # per level, NULL-guarded on each denominator
    d["pacf"] = (
        "WITH acf AS (" + _ACF_SQL + """), p AS (
  SELECT metric, cast(max(n_pairs + lag_h) AS bigint) AS n_hours,
         max(CASE WHEN lag_h = 1 THEN acf END) AS r1,
         max(CASE WHEN lag_h = 2 THEN acf END) AS r2,
         max(CASE WHEN lag_h = 3 THEN acf END) AS r3
  FROM acf GROUP BY 1
), l2 AS (
  SELECT metric, n_hours, r1, r2, r3,
         CASE WHEN 1.0 - r1 * r1 <> 0
              THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22
  FROM p
), l3 AS (
  SELECT metric, n_hours, r1, r2, r3, p22,
         r1 - p22 * r1 AS p21,
         1.0 - ((r1 - p22 * r1) * r1 + p22 * r2) AS den3
  FROM l2
)
SELECT metric, n_hours,
       round(r1, 6) AS phi11, round(p22, 6) AS phi22,
       round(CASE WHEN den3 <> 0
             THEN (r3 - (p21 * r2 + p22 * r1)) / den3 END, 6) AS phi33
FROM l3
"""
    )
    # pair_scorecard: the SAME composition as the Spark query, built
    # from the already-verified per-component oracles as nested CTEs
    d["pair_scorecard"] = (
        "WITH cccq AS (" + d["ccc_pairs"] + "),\n"
        "desq AS (" + d["corr_deseasonalized"] + "),\n"
        "winq AS (" + d["corr_winsorized"] + "),\n"
        "egq AS (" + d["engle_granger"] + "),\n"
        "llq AS (" + d["lead_lag"] + "),\n"
        "miq AS (" + d["mutual_info"] + "),\n"
        "teq AS (" + d["transfer_entropy"] + "),\n"
        "alq AS (" + d["allen_census"] + ")\n"
        """
SELECT cccq.metric_a, cccq.metric_b, cccq.n_hours, cccq.r, cccq.ccc,
       desq.r_deseason, winq.r_wins,
       eg.beta, eg.rho_res, eg.df_stat,
       ll.best_lag_h, mi.mi_nats, tf.te_fwd, tb.te_bwd,
       al.lead_share
FROM cccq
LEFT JOIN desq ON cccq.metric_a = desq.metric_a
              AND cccq.metric_b = desq.metric_b
LEFT JOIN winq ON cccq.metric_a = winq.metric_a
              AND cccq.metric_b = winq.metric_b
LEFT JOIN (SELECT metric_x AS metric_a, metric_y AS metric_b,
                  beta, rho_res, df_stat
           FROM egq WHERE metric_x < metric_y) eg
       ON cccq.metric_a = eg.metric_a AND cccq.metric_b = eg.metric_b
LEFT JOIN (SELECT metric_x AS metric_a, metric_y AS metric_b,
                  best_lag_h
           FROM llq WHERE metric_x < metric_y) ll
       ON cccq.metric_a = ll.metric_a AND cccq.metric_b = ll.metric_b
LEFT JOIN (SELECT metric_x AS metric_a, metric_y AS metric_b, mi_nats
           FROM miq) mi
       ON cccq.metric_a = mi.metric_a AND cccq.metric_b = mi.metric_b
LEFT JOIN (SELECT metric_x AS metric_a, metric_y AS metric_b,
                  te_nats AS te_fwd
           FROM teq WHERE metric_x < metric_y) tf
       ON cccq.metric_a = tf.metric_a AND cccq.metric_b = tf.metric_b
LEFT JOIN (SELECT metric_y AS metric_a, metric_x AS metric_b,
                  te_nats AS te_bwd
           FROM teq WHERE metric_x > metric_y) tb
       ON cccq.metric_a = tb.metric_a AND cccq.metric_b = tb.metric_b
LEFT JOIN (SELECT metric_a, metric_b,
                  CASE WHEN n_before + n_after > 0
                       THEN round(cast(n_before AS double)
                                  / cast(n_before + n_after AS double),
                                  6) END AS lead_share
           FROM alq) al
       ON cccq.metric_a = al.metric_a AND cccq.metric_b = al.metric_b
"""
    )
    # BH-FDR composes on the Pettitt oracle verbatim: the p inputs
    # are already 6-dp rounded upstream, so m*p/j is one identical
    # IEEE expression per row and the reverse running min is
    # tie-order-invariant (see nptests.bh_adjust)
    d["fdr_pettitt"] = (
        "WITH pt AS (" + d["pettitt_test"] + """), r AS (
  SELECT metric, p_approx AS p_raw,
         row_number() OVER (ORDER BY p_approx, metric) AS bh_rank,
         count(*) OVER () AS m
  FROM pt
), c AS (
  SELECT metric, p_raw, bh_rank,
         cast(m AS double) * p_raw / cast(bh_rank AS double) AS cand
  FROM r
), a AS (
  SELECT metric, p_raw, bh_rank,
         min(cand) OVER (ORDER BY bh_rank
                         ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS adj
  FROM c
)
SELECT metric, round(p_raw, 6) AS p_raw,
       cast(bh_rank AS bigint) AS bh_rank,
       round(least(adj, 1.0), 6) AS p_adj,
       CASE WHEN least(adj, 1.0) <= 0.05 THEN 1 ELSE 0 END
         AS significant
FROM a
"""
    )
    return d


def _static_oracles() -> dict[str, str]:
    return {
        "rollup_1m": _TIER_ORACLE.format(trunc="minute"),
        "rollup_realtime_1h": _TIER_ORACLE.format(trunc="hour"),
        # merge(rollup(base), rollup(delta)) must equal the direct
        # rollup of everything — same oracle as rollup_1h by design
        "tier_upsert_1h": _TIER_ORACLE.format(trunc="hour"),
        "rollup_1h": _TIER_ORACLE.format(trunc="hour"),
        "rollup_1d": _TIER_ORACLE.format(trunc="day"),
        "rollup_5m": """
SELECT cast(user_id AS varchar) AS conv_id,
       event_type AS metric,
       time_bucket(INTERVAL 5 MINUTE, ts) AS bucket_ts,
       count(value) AS cnt,
       round(sum(value), 6) AS sum_v,
       min(value) AS min_v,
       max(value) AS max_v,
       arg_min(value, ts) AS first_v,
       arg_max(value, ts) AS last_v
FROM events
GROUP BY 1, 2, 3
""",
        "locf_1h": """
WITH obs AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS g,
         arg_max(value, ts) AS v
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT conv_id, min(g) AS lo, max(g) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g
  FROM spans
), j AS (
  SELECT grid.conv_id, grid.g, obs.v
  FROM grid LEFT JOIN obs ON grid.conv_id = obs.conv_id AND grid.g = obs.g
)
SELECT conv_id,
       g AS grid_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY conv_id ORDER BY g
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       (v IS NULL) AS filled
FROM j
""",
        "stats_per_user": """
SELECT user_id,
       count(value) AS cnt,
       round(sum(value), 6) AS sum_v,
       round(avg(value), 6) AS avg_v,
       round(stddev_pop(value), 6) AS std_v,
       min(value) AS min_v,
       max(value) AS max_v
FROM events GROUP BY 1
""",
        "lag_delta": """
SELECT user_id, event_id, delta_s FROM (
  SELECT user_id, event_id,
         round((epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) / 1e6, 6) AS delta_s
  FROM events
) WHERE delta_s IS NOT NULL
""",
        "topk_per_user": """
SELECT user_id, event_id, value, rn FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn <= 3
""",
        "filter_range": """
SELECT event_id, user_id, ts, value
FROM events
WHERE event_type = 'click'
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
             AND TIMESTAMP '2024-01-20 00:00:00'
  AND value >= 10.0
""",
        "distinct_users": """
SELECT DISTINCT user_id, event_type FROM events
""",
        "interp_1h": """
WITH obs AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS g,
         arg_max(value, ts) AS v
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT conv_id, min(g) AS lo, max(g) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g
  FROM spans
), j AS (
  SELECT grid.conv_id, grid.g, obs.v
  FROM grid LEFT JOIN obs ON grid.conv_id = obs.conv_id AND grid.g = obs.g
), fr AS (
  SELECT conv_id, g, v,
         last_value(v IGNORE NULLS) OVER w1 AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN g END IGNORE NULLS)
           OVER w1 AS pt,
         first_value(v IGNORE NULLS) OVER w2 AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN g END IGNORE NULLS)
           OVER w2 AS nt
  FROM j
  WINDOW w1 AS (PARTITION BY conv_id ORDER BY g
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w2 AS (PARTITION BY conv_id ORDER BY g
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT conv_id, g AS grid_ts,
       CASE WHEN pv IS NULL OR nv IS NULL OR nt = pt
            THEN coalesce(pv, nv)
            ELSE pv + (nv - pv) * (epoch_us(g) - epoch_us(pt))
                      / (epoch_us(nt) - epoch_us(pt)) END AS value,
       (v IS NULL) AS filled
FROM fr
""",
        "locf_bounded_1h": """
WITH obs AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         date_trunc('hour', ts) AS g,
         arg_max(value, ts) AS v
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT conv_id, g, v,
         CASE WHEN lag(g) OVER w IS NULL
                OR epoch_us(g) - epoch_us(lag(g) OVER w)
                   > cast(6 AS bigint) * 3600 * 1000000
              THEN 1 ELSE 0 END AS new_seg
  FROM obs WINDOW w AS (PARTITION BY conv_id ORDER BY g)
), segd AS (
  SELECT conv_id, g, v,
         sum(new_seg) OVER (PARTITION BY conv_id ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM lagged
), spans AS (
  SELECT conv_id, seg, min(g) AS lo, max(g) AS hi FROM segd GROUP BY 1, 2
), grid AS (
  SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS g
  FROM spans
), j AS (
  SELECT grid.conv_id, grid.g, obs.v
  FROM grid LEFT JOIN obs ON grid.conv_id = obs.conv_id AND grid.g = obs.g
)
SELECT conv_id, g AS grid_ts,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY conv_id ORDER BY g
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       (v IS NULL) AS filled
FROM j
""",
        "series_metrics": """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         cast(row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
         event_type || repeat(' tok', cast(event_id % 5 AS int)) AS text,
         CASE WHEN event_type = 'error' THEN 'bash' END AS tool,
         ts
  FROM events
), d AS (
  SELECT conv_id, turn_idx, ts,
         cast(len(regexp_split_to_array(text, '\\s+')) AS double) AS token_len,
         CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END AS tool_calls,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
            PARTITION BY conv_id ORDER BY turn_idx))) / 1e6 AS delta_s
  FROM t
)
SELECT conv_id, metric, ts, turn_idx, round(value, 6) AS value FROM (
  SELECT conv_id, 'token_len' AS metric, ts, turn_idx, token_len AS value
  FROM d
  UNION ALL
  SELECT conv_id, 'tool_calls', ts, turn_idx, tool_calls FROM d
  UNION ALL
  SELECT conv_id, 'turn_rate', ts, turn_idx, 60.0 / greatest(delta_s, 1.0)
  FROM d WHERE delta_s IS NOT NULL
)
""",
        "corr_report": f"""
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS b, avg(value) AS v
  FROM events GROUP BY 1, 2
), r AS (
  SELECT cast(user_id AS varchar) AS sid, v,
         row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM h
), x AS (
  SELECT sid, rn, v FROM r WHERE rn <= {_CORR_M} AND n >= {_CORR_M}
)
SELECT a.sid AS id_a, b.sid AS id_b, round(corr(a.v, b.v), 6) AS rho
FROM x a JOIN x b ON a.rn = b.rn AND a.sid < b.sid
GROUP BY 1, 2
HAVING corr(a.v, b.v) >= {_CORR_THETA}
""",
        "prune_sweep": f"""
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS b, avg(value) AS v
  FROM events GROUP BY 1, 2
), r AS (
  SELECT cast(user_id AS varchar) AS sid, v,
         row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM h
), x AS (
  SELECT sid, rn - 1 AS t, v FROM r
  WHERE rn <= {_CORR_M} AND n >= {_CORR_M}
), stx AS (
  SELECT sid, avg(v) AS mu, stddev_pop(v) AS sigma FROM x GROUP BY 1
), xh AS (
  SELECT x.sid, x.t,
         (x.v - stx.mu)
           / (stx.sigma * sqrt(cast({_CORR_M} AS double))) AS xv
  FROM x JOIN stx USING (sid) WHERE stx.sigma > 0
), ns AS (
  SELECT cast(count(DISTINCT sid) AS bigint) AS n_series FROM xh
), sk AS (
  -- scaled DFT prefix, numpy rfft convention: re = sum x cos(wt),
  -- im = -sum x sin(wt), w = 2*pi*f/m, f = 1..4
  SELECT sid, f,
         sqrt(2.0 / {_CORR_M})
           * sum(xv * cos(2 * pi() * f * t / {_CORR_M}.0)) AS re,
         -sqrt(2.0 / {_CORR_M})
           * sum(xv * sin(2 * pi() * f * t / {_CORR_M}.0)) AS im
  FROM xh CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS f) ff
  GROUP BY 1, 2
), cell AS (
  SELECT sid,
         max(CASE WHEN f = 1 THEN re END) AS s1,
         max(CASE WHEN f = 1 THEN im END) AS s2
  FROM sk GROUP BY 1
), th AS (
  SELECT cast(theta AS double) AS theta,
         sqrt(2.0 * (1.0 - cast(theta AS double))) AS eps
  FROM (VALUES (0.5), (0.7), (0.9)) t(theta)
), cands AS (
  SELECT th.theta, th.eps, a.sid AS id_a, b.sid AS id_b
  FROM th
  JOIN cell a ON true
  JOIN cell b ON a.sid < b.sid
  WHERE abs(floor(a.s1 / th.eps) - floor(b.s1 / th.eps)) <= 1
    AND abs(floor(a.s2 / th.eps) - floor(b.s2 / th.eps)) <= 1
), lb AS (
  SELECT c.theta, c.eps, c.id_a, c.id_b,
         sum((sa.re - sb.re) * (sa.re - sb.re)
             + (sa.im - sb.im) * (sa.im - sb.im)) AS lb_sq
  FROM cands c
  JOIN sk sa ON sa.sid = c.id_a
  JOIN sk sb ON sb.sid = c.id_b AND sb.f = sa.f
  GROUP BY 1, 2, 3, 4
), cand2 AS (
  SELECT theta, id_a, id_b FROM lb WHERE lb_sq <= eps * eps
), conf AS (
  SELECT c.theta, c.id_a, c.id_b
  FROM cand2 c
  JOIN xh a ON a.sid = c.id_a
  JOIN xh b ON b.sid = c.id_b AND b.t = a.t
  GROUP BY 1, 2, 3
  HAVING sum(a.xv * b.xv) >= theta
)
SELECT th.theta, ns.n_series,
       cast(ns.n_series * (ns.n_series - 1) // 2 AS bigint)
         AS n_pairs_total,
       cast(coalesce(cnt.c, 0) AS bigint) AS n_candidates,
       cast(coalesce(cf.c, 0) AS bigint) AS n_confirmed,
       round(1.0 - cast(coalesce(cnt.c, 0) AS double)
             / (cast(ns.n_series AS double)
                * (ns.n_series - 1) / 2.0), 6) AS prune_ratio
FROM th CROSS JOIN ns
LEFT JOIN (SELECT theta, count(*) AS c FROM cand2 GROUP BY 1) cnt
  USING (theta)
LEFT JOIN (SELECT theta, count(*) AS c FROM conf GROUP BY 1) cf
  USING (theta)
""",
        "spearman_pruned": f"""
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS b, avg(value) AS v
  FROM events GROUP BY 1, 2
), r AS (
  SELECT cast(user_id AS varchar) AS sid, v,
         row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM h
), x AS (
  SELECT sid, rn, v FROM r WHERE rn <= {_CORR_M} AND n >= {_CORR_M}
), rk AS (
  SELECT sid, rn,
         rank() OVER (PARTITION BY sid ORDER BY v)
           + (count(*) OVER (PARTITION BY sid, v) - 1) / 2.0 AS rv
  FROM x
)
SELECT a.sid AS id_a, b.sid AS id_b, round(corr(a.rv, b.rv), 6) AS rho_s
FROM rk a JOIN rk b ON a.rn = b.rn AND a.sid < b.sid
GROUP BY 1, 2
HAVING corr(a.rv, b.rv) >= {_CORR_THETA}
""",
        "corr_pairs_hourly": """
WITH h AS (
  SELECT user_id, date_trunc('hour', ts) AS b, avg(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT a.user_id AS ua, b.user_id AS ub,
       round(corr(a.v, b.v), 6) AS rho, count(*) AS n
FROM h a JOIN h b ON a.b = b.b AND a.user_id < b.user_id
GROUP BY 1, 2
HAVING count(*) >= 12 AND corr(a.v, b.v) IS NOT NULL
""",
        "join_broadcast_rev": """
SELECT n_name,
       round(sum(o_totalprice), 4) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
""",
        "anti_join_inactive": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '2000-01-01'
)
""",
        "set_ops_users": """
(SELECT user_id, date_trunc('day', ts) AS d
 FROM events WHERE event_type = 'click'
 UNION
 SELECT user_id, date_trunc('day', ts)
 FROM events WHERE event_type = 'view')
EXCEPT ALL
(SELECT DISTINCT user_id, date_trunc('day', ts)
 FROM events WHERE event_type = 'error')
""",
        "props_extract": """
SELECT event_type,
       cast(sum(k) AS bigint) AS k_sum,
       cast(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS bigint) AS k_hi,
       min(k) AS k_min,
       max(k) AS k_max
FROM (
  SELECT event_type,
         cast(regexp_extract(props, 'k":\\s*(\\d+)', 1) AS bigint) AS k
  FROM events
)
GROUP BY 1
""",
        "chunk_roundtrip": """
SELECT cast(user_id AS varchar) AS conv_id,
       event_type AS metric,
       ts,
       value
FROM events
""",
        "rechunk_roundtrip": """
SELECT cast(user_id AS varchar) AS conv_id,
       event_type AS metric,
       ts,
       value
FROM events
""",
        "chunk_stats": """
WITH c AS (
  SELECT event_type AS metric,
         cast(user_id AS varchar) AS conv_id,
         date_trunc('day', ts) AS d,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT metric,
       count(*) AS n_chunks,
       cast(sum(n) AS bigint) AS points,
       cast(sum(16 * n) AS bigint) AS raw_bytes
FROM c GROUP BY 1
""",
        "stats_salted": """
SELECT cast(user_id AS varchar) AS conv_id,
       event_type AS metric,
       count(value) AS cnt,
       round(sum(value), 6) AS sum_v,
       round(sum(value) / count(value), 6) AS avg_v,
       round(sqrt(greatest(
         sum(value * value) / count(value)
         - (sum(value) / count(value)) * (sum(value) / count(value)),
         0.0)), 6) AS std_v,
       min(value) AS min_v,
       max(value) AS max_v
FROM events
GROUP BY 1, 2
""",
        "session_stats": """
WITH d AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT conv_id, ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
)
SELECT conv_id, min(ts) AS session_start, max(ts) AS session_end_ts,
       count(*) AS n_events
FROM s GROUP BY conv_id, sid
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keeper_id
FROM documents GROUP BY 1
""",
        "emb_neardup": f"""
WITH {_UV_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v), 6) AS cos
FROM uv a JOIN uv b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v), 6) >= 0.35
""",
        "ann_topk": f"""
WITH {_UV_CTE}
SELECT qid, rank, nid, cos FROM (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         round(list_dot_product(q.v, c.v), 6) AS cos,
         row_number() OVER (PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                    c.vec_id) AS rank
  FROM uv q JOIN uv c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 5
) WHERE rank <= 10
""",
        "ann_ivf": f"""
WITH {_UV_CTE}, {_IVF_CTES}
SELECT qid, rank, nid, cos FROM (
  SELECT p.qid, a.vec_id AS nid,
         round(list_dot_product(p.qv, a.v), 6) AS cos,
         row_number() OVER (PARTITION BY p.qid
           ORDER BY round(list_dot_product(p.qv, a.v), 6) DESC,
                    a.vec_id) AS rank
  FROM probes p JOIN asg a USING (cell)
  WHERE a.vec_id <> p.qid
) WHERE rank <= 10
""",
        "text_stats": """
WITH tok AS (
  SELECT doc_id, length(text) AS n_chars, lower(text) AS lt,
         regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
)
SELECT doc_id,
       cast(n_chars AS int) AS n_chars,
       cast(len(t) AS int) AS n_tokens,
       cast(len(list_distinct(t)) AS int) AS n_uniq,
       cast(len(list_filter(t, x -> x IN
         ('the','a','of','and','to','in','is','it'))) AS int) AS stop_cnt,
       cast(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         AS int) AS bpe_cnt,
       round(cast(list_sum(list_transform(t, x -> length(x))) AS double)
             / len(t), 6) AS avg_tok_len,
       round(cast(len(list_filter(t, x -> x IN
         ('the','a','of','and','to','in','is','it'))) AS double)
             / len(t), 6) AS stop_ratio
FROM tok
""",
        "text_normalize": """
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
         '\\s+', ' ', 'g')) AS clean_text,
       cast(length(text) - length(trim(regexp_replace(
         regexp_replace(lower(text), '[\\x00-\\x1f\\x7f]', ' ', 'g'),
         '\\s+', ' ', 'g'))) AS int) AS chars_removed
FROM documents
""",
        "text_langid": """
WITH r AS (
  SELECT doc_id,
         CASE WHEN len(regexp_extract_all(lower(text), '[a-z]')) > 0
              THEN cast(len(regexp_extract_all(lower(text), '[aeiou]'))
                        AS double)
                   / len(regexp_extract_all(lower(text), '[a-z]'))
              ELSE 0.0 END AS ratio
  FROM documents
)
SELECT doc_id, round(ratio, 6) AS vowel_ratio,
       CASE WHEN ratio >= 0.46 THEN 'fi'
            WHEN ratio >= 0.42 THEN 'es'
            WHEN ratio >= 0.38 THEN 'en'
            WHEN ratio >= 0.34 THEN 'fr'
            ELSE 'de' END AS pred_lang
FROM r
""",
        "doc_fingerprint": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), pt AS (
  SELECT doc_id, unnest(t) AS tok,
         cast(generate_subscripts(t, 1) AS bigint) AS pos1
  FROM tok
), vocab AS (
  SELECT tok, cast(row_number() OVER (ORDER BY tok) AS bigint) AS tid
  FROM (SELECT DISTINCT tok FROM pt)
)
SELECT p.doc_id,
       cast(sum(p.pos1 * ((v.tid * 7919 + 12345) % 2147483647))
            % 2147483648 AS bigint) AS fp
FROM pt p JOIN vocab v USING (tok)
GROUP BY 1
""",
        # BYTE-based like the Spark stub (payload = utf-8 bytes): byte i
        # of the blob is hex pair i of hex(encode(text)) — exact on
        # non-ASCII documents too (char-based ascii() would diverge).
        "mm_meta": """
WITH h AS (
  SELECT doc_id,
         hex(encode(text)) AS hx,
         cast(octet_length(encode(text)) AS bigint) AS n_bytes
  FROM documents
), s AS (
  SELECT doc_id, n_bytes,
         cast(coalesce(list_sum(list_transform(
           generate_series(1, cast(least(16, n_bytes) AS int)),
           i -> ('0x' || substr(hx, 2 * i - 1, 2))::INT)), 0)
           AS bigint) AS header_sum
  FROM h
)
SELECT doc_id, n_bytes, header_sum,
       cast(64 + header_sum % 512 AS int) AS fake_width,
       cast(64 + (header_sum * 7) % 512 AS int) AS fake_height
FROM s
""",
        "mm_frames": """
SELECT doc_id,
       cast(off // 64 AS int) AS frame_idx,
       cast(coalesce(list_sum(list_transform(
         generate_series(cast(off + 1 AS int),
                         cast(least(off + 64, n_bytes) AS int)),
         i -> ('0x' || substr(hx, 2 * i - 1, 2))::INT)), 0)
         AS bigint) AS frame_sum
FROM (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n_bytes,
         unnest(generate_series(0,
           greatest(octet_length(encode(text)) - 1, 0), 64)) AS off
  FROM documents
)
""",
        "rolling_1h": """
SELECT user_id, event_id,
       count(value) OVER w AS roll_cnt,
       min(value) OVER w AS roll_min,
       max(value) OVER w AS roll_max,
       round(sum(value) OVER w, 6) AS roll_sum,
       round(avg(value) OVER w, 6) AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
        "asof_last_error": """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), err AS (
  SELECT user_id, ts, arg_max(value, event_id) AS err_v
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id,
       e.err_v AS err_v_asof,
       round((epoch_us(c.ts) - epoch_us(e.ts)) / 1e6, 6) AS staleness_s
FROM clicks c
ASOF LEFT JOIN err e ON c.user_id = e.user_id AND c.ts >= e.ts
""",
        "retention_counts": """
WITH now_t AS (
  SELECT max(ts) AS n FROM events
), t1m AS (
  SELECT DISTINCT cast(user_id AS varchar) AS c, event_type AS m,
         date_trunc('minute', ts) AS b FROM events
), t1h AS (
  SELECT DISTINCT c, m, date_trunc('hour', b) AS b FROM t1m
), t1d AS (
  SELECT DISTINCT c, m, date_trunc('day', b) AS b FROM t1h
)
SELECT '1m' AS tier,
       cast(sum(CASE WHEN b >= n - INTERVAL 7 DAY THEN 1 ELSE 0 END)
            AS bigint) AS kept_rows,
       cast(sum(CASE WHEN b >= n - INTERVAL 7 DAY THEN 0 ELSE 1 END)
            AS bigint) AS dropped_rows,
       min(CASE WHEN b >= n - INTERVAL 7 DAY THEN b END) AS oldest_kept
FROM t1m CROSS JOIN now_t
UNION ALL
SELECT '1h',
       cast(sum(CASE WHEN b >= n - INTERVAL 21 DAY THEN 1 ELSE 0 END)
            AS bigint),
       cast(sum(CASE WHEN b >= n - INTERVAL 21 DAY THEN 0 ELSE 1 END)
            AS bigint),
       min(CASE WHEN b >= n - INTERVAL 21 DAY THEN b END)
FROM t1h CROSS JOIN now_t
UNION ALL
SELECT '1d', cast(count(*) AS bigint), cast(0 AS bigint), min(b)
FROM t1d CROSS JOIN now_t
""",
        "pivot_metrics": """
SELECT user_id,
       round(avg(CASE WHEN event_type = 'click' THEN value END), 6)
         AS click,
       round(avg(CASE WHEN event_type = 'error' THEN value END), 6)
         AS error,
       round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6)
         AS purchase,
       round(avg(CASE WHEN event_type = 'signup' THEN value END), 6)
         AS signup,
       round(avg(CASE WHEN event_type = 'view' THEN value END), 6)
         AS view
FROM events GROUP BY 1
""",
        "value_quantiles": """
SELECT event_type,
       count(value) AS cnt,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY 1
""",
        "histogram_value": """
SELECT event_type,
       cast(least(floor(value / 10.0), 9) AS int) AS bucket,
       count(*) AS n,
       round(avg(value), 6) AS avg_v
FROM events GROUP BY 1, 2
""",
        "clip_p99": """
SELECT event_id, event_type,
       round(least(value, p99), 6) AS clipped,
       (value > p99) AS was_clipped
FROM (
  SELECT event_id, event_type, value,
         quantile_cont(value, 0.99) OVER (PARTITION BY event_type) AS p99
  FROM events
)
""",
        "topk_global": """
SELECT event_id, user_id, value
FROM events
ORDER BY value DESC, event_id ASC
LIMIT 100
""",
        "split_counts": """
WITH b AS (
  SELECT ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 4))::INT
           AS bucket,
         text
  FROM documents
)
SELECT CASE WHEN bucket < 52428 THEN 'train'
            WHEN bucket < 58982 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       cast(sum(length(text)) AS bigint) AS n_chars
FROM b GROUP BY 1
""",
        "sample_hash": """
SELECT doc_id, cast(length(text) AS int) AS n_chars
FROM documents
WHERE ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 4))::INT < 6553
""",
        "event_sessions": """
WITH d AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT conv_id, event_id, ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
), sess AS (
  SELECT conv_id, sid, min(ts) AS start_ts, max(ts) AS end_ts,
         count(*) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT e.event_id, e.conv_id, sess.start_ts AS session_start,
       sess.n_events
FROM (SELECT cast(user_id AS varchar) AS conv_id, event_id, ts
      FROM events) e
JOIN sess ON e.conv_id = sess.conv_id
         AND e.ts BETWEEN sess.start_ts AND sess.end_ts
""",
        "dedup_keep": """
SELECT doc_id, length(text) AS n_chars
FROM documents
WHERE doc_id IN (
  SELECT min(doc_id) FROM documents GROUP BY md5(text)
)
""",
        "rollup_summary_1d": """
WITH t1d AS (
  SELECT cast(user_id AS varchar) AS conv_id,
         event_type AS metric,
         date_trunc('day', ts) AS bucket_ts,
         count(value) AS cnt,
         sum(value) AS sum_v
  FROM events GROUP BY 1, 2, 3
)
SELECT metric,
       count(*) AS n_buckets,
       cast(sum(cnt) AS BIGINT) AS points,
       round(sum(sum_v), 4) AS total
FROM t1d
GROUP BY ROLLUP(metric)
""",
        # ---- round-2b analytics suite -------------------------------
        # pk mirrors rollup.packed_order_key for trunc='hour':
        # idx_bits = 63 - 32 = 31; off-in-bucket µs << 31 | clamped idx
        "m4_1h": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         value,
         (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
           * (1::BIGINT << 31)
           + least(cast(event_id AS BIGINT), (1::BIGINT << 31) - 1) AS pk
  FROM events
)
SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
       arg_min(ts, pk) AS ts_first, arg_min(value, pk) AS v_first,
       arg_max(ts, pk) AS ts_last, arg_max(value, pk) AS v_last,
       min({'v': value, 'k': pk, 't': ts}).t AS ts_vmin,
       min({'v': value, 'k': pk, 't': ts}).v AS v_min,
       max({'v': value, 'k': pk, 't': ts}).t AS ts_vmax,
       max({'v': value, 'k': pk, 't': ts}).v AS v_max
FROM s GROUP BY 1, 2, 3
""",
        "rate_1h": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         event_id AS turn_idx, value
  FROM events
), d AS (
  SELECT conv_id, metric, ts,
         lag(value) OVER (PARTITION BY conv_id, metric
                          ORDER BY epoch_us(ts), turn_idx) AS prev,
         value
  FROM s
)
SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
       count(*) AS n_deltas,
       round(sum(greatest(value - prev, 0)), 6) AS increase,
       round(sum(greatest(value - prev, 0)) / 3600.0, 6) AS rate_per_s
FROM d WHERE prev IS NOT NULL
GROUP BY 1, 2, 3
""",
        "anomaly_1h": """
WITH s AS (
  SELECT event_type AS metric, ts,
         cast(event_id AS INTEGER) AS turn_idx, value
  FROM events
), sc AS (
  -- exact-decimals moments (value_decimals=2): snap window sums to
  -- integer cents, then derive mu/sigma so both engines divide
  -- IDENTICAL numbers (see analytics._anomaly_moments)
  SELECT metric, ts, turn_idx, value,
         count(value) OVER w AS n_prev,
         round(sum(value) OVER w * 100.0) AS i1,
         round(sum(value * value) OVER w * 10000.0) AS i2
  FROM s
  WINDOW w AS (PARTITION BY metric ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
), mo AS (
  SELECT metric, ts, turn_idx, value, n_prev,
         i1 / (cast(n_prev AS DOUBLE) * 100.0) AS mu,
         sqrt(greatest(i2 / (cast(n_prev AS DOUBLE) * 10000.0)
              - (i1 / (cast(n_prev AS DOUBLE) * 100.0))
                * (i1 / (cast(n_prev AS DOUBLE) * 100.0)), 0.0)) AS sigma
  FROM sc WHERE n_prev > 0
), z AS (
  SELECT metric, ts, turn_idx, value, n_prev, mu, sigma,
         floor((CASE WHEN sigma > 0 THEN (value - mu) / sigma END)
               * 1e4) / 1e4 AS z
  FROM mo
)
SELECT metric, ts, turn_idx, value, n_prev,
       floor(mu * 1e4) / 1e4 AS mu,
       floor(sigma * 1e4) / 1e4 AS sigma, z
FROM z WHERE n_prev >= 5 AND abs(z) >= 2.0
""",
        "autocorr_lag1": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         event_id AS turn_idx, value
  FROM events
), d AS (
  SELECT conv_id, metric, value,
         lag(value) OVER (PARTITION BY conv_id, metric
                          ORDER BY epoch_us(ts), turn_idx) AS prev
  FROM s
), g AS (
  SELECT conv_id, metric, count(*) AS n,
         covar_pop(value, prev) AS cov,
         stddev_pop(value) AS sa, stddev_pop(prev) AS sb
  FROM d WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT conv_id, metric, n,
       round(CASE WHEN sa > 0 AND sb > 0 THEN cov / (sa * sb) END, 6) AS r1
FROM g
WHERE n >= 10
  AND (CASE WHEN sa > 0 AND sb > 0 THEN cov / (sa * sb) END) IS NOT NULL
""",
        "xcorr_lagged": """
WITH h AS (
  SELECT cast(user_id AS varchar) AS u, date_trunc('hour', ts) AS b,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), l AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag_h),
a AS (
  SELECT h.u AS ua, h.v AS va, l.lag_h,
         h.b + to_microseconds(l.lag_h * 3600000000::BIGINT) AS b2
  FROM h CROSS JOIN l
), g AS (
  SELECT a.ua, h2.u AS ub, a.lag_h, count(*) AS n,
         covar_pop(a.va, h2.v) AS cov,
         stddev_pop(a.va) AS sa, stddev_pop(h2.v) AS sb
  FROM a JOIN h h2 ON a.b2 = h2.b AND a.ua < h2.u
  GROUP BY 1, 2, 3
)
SELECT ua, ub, lag_h, n,
       round(CASE WHEN sa > 0 AND sb > 0 THEN cov / (sa * sb) END, 6) AS r
FROM g
WHERE n >= 5
  AND abs(round(CASE WHEN sa > 0 AND sb > 0
                     THEN cov / (sa * sb) END, 6)) >= 0.7
""",
        "latency_percentiles": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         event_id AS turn_idx
  FROM events
), d AS (
  SELECT metric, ts,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY conv_id, metric
            ORDER BY epoch_us(ts), turn_idx)) / 1e6 AS gap_s
  FROM s
)
SELECT metric, date_trunc('day', ts) AS bucket_ts, count(*) AS n,
       round(quantile_cont(gap_s, 0.5), 4) AS p5,
       round(quantile_cont(gap_s, 0.95), 4) AS p95
FROM d WHERE gap_s IS NOT NULL
GROUP BY 1, 2
""",
        "distinct_convs_1h": """
SELECT event_type AS metric, date_trunc('hour', ts) AS bucket_ts,
       count(DISTINCT user_id) AS n_convs, count(*) AS n_points
FROM events GROUP BY 1, 2
""",
        "decontaminate": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
)
SELECT s.doc_id, count(*) AS n_overlap
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 20 <> 0
GROUP BY 1
""",
        "doc_repetition": """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), c AS (
  SELECT doc_id, t, len(t) AS n, len(list_distinct(t)) AS nd,
         list_transform(generate_series(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1]) AS g2
  FROM d
)
SELECT doc_id,
       cast(n AS INTEGER) AS n_toks,
       cast(nd AS INTEGER) AS n_distinct_toks,
       round(1 - nd / cast(n AS DOUBLE), 6) AS dup_tok_frac,
       cast(len(g2) AS INTEGER) AS n_2grams,
       CASE WHEN len(g2) > 0 THEN
         round(1 - len(list_distinct(g2)) / cast(len(g2) AS DOUBLE), 6)
       END AS dup_2gram_frac,
       round(list_max(list_transform(list_distinct(t),
             tt -> len(list_filter(t, x -> x = tt))))
             / cast(n AS DOUBLE), 6) AS top_tok_frac
FROM c WHERE n > 0
""",
        "quantiles_scalable": """
WITH v AS (
  SELECT event_type AS metric, floor(value / 0.01) AS k
  FROM events WHERE value IS NOT NULL
)
SELECT metric, cast(0.5 AS DOUBLE) AS q, count(*) AS n,
       round(quantile_cont(k, 0.5) * 0.01, 6) AS p
FROM v GROUP BY 1
UNION ALL
SELECT metric, cast(0.9 AS DOUBLE) AS q, count(*) AS n,
       round(quantile_cont(k, 0.9) * 0.01, 6) AS p
FROM v GROUP BY 1
UNION ALL
SELECT metric, cast(0.99 AS DOUBLE) AS q, count(*) AS n,
       round(quantile_cont(k, 0.99) * 0.01, 6) AS p
FROM v GROUP BY 1
""",
        "ewma_smooth": """
WITH RECURSIVE s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(event_id AS INTEGER) AS turn_idx, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), e AS (
  SELECT conv_id, metric, ts, turn_idx, value, rn, value AS y
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.conv_id, s.metric, s.ts, s.turn_idx, s.value, s.rn,
         (1 - 0.3) * e.y + 0.3 * s.value
  FROM e JOIN s ON s.conv_id = e.conv_id AND s.metric = e.metric
              AND s.rn = e.rn + 1
)
SELECT conv_id, metric, ts, turn_idx, value,
       floor(y * 1e6) / 1e6 AS ewma
FROM e
""",
"event_transitions": """
WITH d AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
           ORDER BY epoch_us(ts), event_id) AS prev_type,
         event_type AS next_type
  FROM events
), g AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM d WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n / cast(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM g
""",
        "funnel_3step": """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 GROUP BY 1
)
SELECT 1 AS stage, 'signup' AS event, count(*) AS n FROM s1
UNION ALL SELECT 2, 'click', count(*) FROM s2
UNION ALL SELECT 3, 'purchase', count(*) FROM s3
""",
        "token_topk": """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), per_doc AS (
  SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks
), df_ AS (
  SELECT tok, count(*) AS n_docs FROM per_doc GROUP BY 1
), allt AS (
  SELECT unnest(t) AS tok FROM toks
), cnt AS (
  SELECT tok, count(*) AS n_total FROM allt GROUP BY 1
), j AS (
  SELECT df_.tok, n_docs, n_total FROM df_ JOIN cnt USING (tok)
)
SELECT cast(row_number() OVER (ORDER BY n_docs DESC, n_total DESC, tok)
            AS INTEGER) AS rank,
       tok, n_docs, n_total
FROM j
ORDER BY rank LIMIT 50
""",
        # segment arithmetic in integer epoch-µs; values snapped to
        # integer cents so sum(v_i*dt) is exact BIGINT in both engines
        # (DuckDB sums BIGINT into HUGEINT — cast back before dividing)
        "twa_1h": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(event_id AS int) AS turn_idx, value
  FROM events
), seg AS (
  SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
         epoch_us(ts) AS ts_us,
         least(
           coalesce(lead(epoch_us(ts)) OVER (
                      PARTITION BY conv_id, metric
                      ORDER BY epoch_us(ts), turn_idx),
                    epoch_us(date_trunc('hour', ts)) + 3600000000),
           epoch_us(date_trunc('hour', ts)) + 3600000000) AS seg_end,
         cast(round(value * 100) AS BIGINT) AS v_i
  FROM s
)
SELECT conv_id, metric, bucket_ts,
       count(*) AS n_pts,
       round(cast(sum(seg_end - ts_us) AS BIGINT) / 1e6, 6) AS dur_s,
       round(cast(sum(v_i * (seg_end - ts_us)) AS BIGINT)
             / (100.0 * cast(sum(seg_end - ts_us) AS BIGINT)), 6) AS twa
FROM seg GROUP BY 1, 2, 3
""",
        "heartbeat_day": """
WITH b AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts,
         cast(event_id AS int) AS turn_idx
  FROM events
), seg AS (
  SELECT conv_id, date_trunc('day', ts) AS bucket_ts,
         least(
           coalesce(lead(epoch_us(ts)) OVER (
                      PARTITION BY conv_id
                      ORDER BY epoch_us(ts), turn_idx),
                    epoch_us(date_trunc('day', ts)) + 86400000000),
           epoch_us(date_trunc('day', ts)) + 86400000000)
         - epoch_us(ts) AS dt_us
  FROM b
)
SELECT conv_id, bucket_ts,
       count(*) AS n_beats,
       round(cast(sum(least(dt_us, 900000000)) AS BIGINT) / 1e6, 6)
         AS covered_s,
       round(cast(sum(least(dt_us, 900000000)) AS BIGINT) * 100.0
             / 86400000000, 6) AS uptime_pct
FROM seg GROUP BY 1, 2
""",
        "state_durations": """
WITH e AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS state, ts,
         cast(event_id AS int) AS turn_idx
  FROM events
), seg AS (
  SELECT conv_id, state,
         least(
           coalesce(lead(epoch_us(ts)) OVER (
                      PARTITION BY conv_id
                      ORDER BY epoch_us(ts), turn_idx),
                    epoch_us(date_trunc('day', ts)) + 86400000000),
           epoch_us(date_trunc('day', ts)) + 86400000000)
         - epoch_us(ts) AS dt_us,
         CASE WHEN lag(state) OVER (PARTITION BY conv_id
                                    ORDER BY epoch_us(ts), turn_idx)
                   IS DISTINCT FROM state
              THEN 1 ELSE 0 END AS entry
  FROM e
)
SELECT conv_id, state,
       count(*) AS n_events,
       cast(sum(entry) AS BIGINT) AS n_entries,
       round(cast(sum(dt_us) AS BIGINT) / 1e6, 6) AS total_s
FROM seg GROUP BY 1, 2
""",
        # replicates sketches.hll_sketch/merge/estimate bit-for-bit:
        # md5 top-60-bit hash, b=10 -> reg = h>>50, rho via minimal-bin
        # length, integer harmonic sum 2^(51-rho), alpha embedded with
        # the same 17-digit literal the Spark side uses
        "hll_distinct_day": """
WITH e AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts,
         date_trunc('hour', ts) AS hr,
         cast(user_id AS varchar) AS item, user_id
  FROM events
), h AS (
  SELECT event_type, bucket_ts, hr, user_id,
         ('0x' || substr(md5(item), 1, 15))::BIGINT AS hv
  FROM e
), r0 AS (
  SELECT event_type, bucket_ts, hr,
         hv >> 50 AS reg,
         CASE WHEN (hv & 1125899906842623) = 0 THEN 51
              ELSE 51 - length(bin(hv & 1125899906842623)) END AS rho
  FROM h
), rh AS (
  SELECT event_type, bucket_ts, hr, reg, max(rho) AS rho
  FROM r0 GROUP BY 1, 2, 3, 4
), rd AS (
  SELECT event_type, bucket_ts, reg, max(rho) AS rho
  FROM rh GROUP BY 1, 2, 3
), agg AS (
  SELECT event_type, bucket_ts,
         cast(sum(1::BIGINT << (51 - rho)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM rd GROUP BY 1, 2
), est AS (
  SELECT event_type, bucket_ts,
         1024 - n_present AS v,
         CAST(0.7205407583220416 AS DOUBLE) * 1048576.0
           * 2251799813685248.0
           / cast(s_present
                  + (1024 - n_present) * (1::BIGINT << 51) AS DOUBLE)
           AS e_raw
  FROM agg
), fin AS (
  SELECT event_type, bucket_ts,
         CASE WHEN e_raw <= 2560.0 AND v > 0
              THEN 1024.0 * ln(1024.0 / cast(v AS DOUBLE))
              ELSE e_raw END AS est
  FROM est
), ex AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts,
         count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1, 2
)
SELECT fin.event_type, fin.bucket_ts, exact_distinct,
       round(est, 6) AS hll_est,
       round((round(est, 6) - exact_distinct) * 100.0 / exact_distinct, 6)
         AS rel_err_pct
FROM fin JOIN ex USING (event_type, bucket_ts)
""",
        # replicates sketches.cms_sketch/lookup: d=3 rows from md5
        # 8-hex-char slices mod w=4096, integer counter sums
        "cms_tokens": """
WITH toks AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
  FROM documents
), js AS (
  SELECT unnest([0, 1, 2]) AS j
), sk AS (
  SELECT j,
         ('0x' || substr(md5(tok), 1 + j * 8, 8))::BIGINT % 4096 AS bucket,
         cast(count(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN js
  GROUP BY 1, 2
), exact AS (
  SELECT tok, cast(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY 1
), top AS (
  SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20
), lk AS (
  SELECT t.tok, t.exact_n, min(s.cnt) AS cms_est
  FROM top t CROSS JOIN js
  JOIN sk s
    ON s.j = js.j
   AND s.bucket = ('0x' || substr(md5(t.tok), 1 + js.j * 8, 8))::BIGINT
                  % 4096
  GROUP BY 1, 2
)
SELECT tok, exact_n, cms_est, cms_est - exact_n AS overcount FROM lk
""",
        # replicates sketches.hdr_sketch/merge/quantiles: integer log2
        # bucketing (s=5 sub-bits), hourly->daily count-sum merge,
        # integer nearest-rank selection, midpoint estimate
        "hdr_quantiles_day": """
WITH e AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS bucket_ts,
         date_trunc('hour', ts) AS hr,
         greatest(cast(round(value * 100) AS BIGINT), 1) AS v
  FROM events
), b AS (
  SELECT metric, bucket_ts, hr,
         CASE WHEN length(bin(v)) - 1 <= 5 THEN v
              ELSE cast(length(bin(v)) - 1 - 5 AS BIGINT) * 32
                   + (v >> (length(bin(v)) - 1 - 5)) END AS idx
  FROM e
), hourly AS (
  SELECT metric, bucket_ts, hr, idx, cast(count(*) AS BIGINT) AS cnt
  FROM b GROUP BY 1, 2, 3, 4
), daily AS (
  SELECT metric, bucket_ts, idx, cast(sum(cnt) AS BIGINT) AS cnt
  FROM hourly GROUP BY 1, 2, 3
), c AS (
  SELECT metric, bucket_ts, idx, cnt,
         cast(sum(cnt) OVER (PARTITION BY metric, bucket_ts ORDER BY idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         cast(sum(cnt) OVER (PARTITION BY metric, bucket_ts)
              AS BIGINT) AS n
  FROM daily
), qs AS (
  SELECT * FROM (VALUES ('p50', 1::BIGINT, 2::BIGINT),
                        ('p95', 19::BIGINT, 20::BIGINT),
                        ('p99', 99::BIGINT, 100::BIGINT))
       AS t(q_name, num, den)
), hit AS (
  SELECT metric, bucket_ts, q_name, n, idx
  FROM c CROSS JOIN qs
  WHERE cum >= (num * n + den - 1) // den
    AND cum - cnt < (num * n + den - 1) // den
), est AS (
  SELECT metric, bucket_ts, q_name, n,
         round(CASE WHEN idx < 64 THEN cast(idx AS DOUBLE)
               ELSE cast((idx - ((idx >> 5) - 1) * 32)
                         << cast((idx >> 5) - 1 AS INTEGER) AS DOUBLE)
                    + (cast(1::BIGINT << cast((idx >> 5) - 1 AS INTEGER)
                            AS DOUBLE) - 1.0) / 2.0
               END / 100.0, 6) AS est
  FROM hit
), ranked AS (
  SELECT metric, bucket_ts, v,
         row_number() OVER (PARTITION BY metric, bucket_ts
                            ORDER BY v) AS rn
  FROM e
)
SELECT est.metric, est.bucket_ts, est.q_name, est.n, est.est,
       round(cast(r.v AS DOUBLE) / 100.0, 6) AS exact,
       round((est.est - round(cast(r.v AS DOUBLE) / 100.0, 6)) * 100.0
             / round(cast(r.v AS DOUBLE) / 100.0, 6), 6) AS rel_err_pct
FROM est JOIN ranked r
  ON r.metric = est.metric AND r.bucket_ts = est.bucket_ts
 AND r.rn = CASE est.q_name WHEN 'p50' THEN (est.n + 1) // 2
                            WHEN 'p95' THEN (19 * est.n + 19) // 20
                            ELSE (99 * est.n + 99) // 100 END
""",
        # replicates rolling.rolling_corr: exact BIGINT moment sums
        # over the trailing event-time range frame, IEEE-assembled rho
        "rolling_corr_1h": """
WITH m AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         date_trunc('minute', ts) AS bucket_ts,
         cast(count(*) AS BIGINT) AS x,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2, 3
), w AS (
  SELECT conv_id, metric, bucket_ts, x, y,
         count(*) OVER win AS roll_n,
         cast(sum(x) OVER win AS BIGINT) AS sx,
         cast(sum(y) OVER win AS BIGINT) AS sy,
         cast(sum(x * x) OVER win AS BIGINT) AS sxx,
         cast(sum(y * y) OVER win AS BIGINT) AS syy,
         cast(sum(x * y) OVER win AS BIGINT) AS sxy
  FROM m
  WINDOW win AS (PARTITION BY conv_id, metric
                 ORDER BY epoch_us(bucket_ts)
                 RANGE BETWEEN 3540000000 PRECEDING AND CURRENT ROW)
)
SELECT conv_id, metric, bucket_ts, x, y, roll_n,
       CASE WHEN roll_n >= 5 AND roll_n * sxx - sx * sx > 0
                 AND roll_n * syy - sy * sy > 0
            THEN round(cast(roll_n * sxy - sx * sy AS DOUBLE)
                       / (sqrt(cast(roll_n * sxx - sx * sx AS DOUBLE))
                          * sqrt(cast(roll_n * syy - sy * sy AS DOUBLE))),
                       6)
            END AS roll_corr
FROM w
""",
        # replicates sketches.bloom_build/probe: k=3 md5-slice bit
        # positions mod m=65536; a doc's bloom_hit = any shingle with
        # all three positions set in the benchmark filter
        "bloom_decontaminate": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
), js AS (
  SELECT unnest([0, 1, 2]) AS j
), bloom AS (
  SELECT DISTINCT
         ('0x' || substr(md5(shingle), 1 + j * 8, 8))::BIGINT % 65536
           AS pos
  FROM bench CROSS JOIN js
), corpus AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0
), probe AS (
  SELECT c.doc_id, c.shingle,
         min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS all_set
  FROM corpus c CROSS JOIN js
  LEFT JOIN bloom b
    ON b.pos = ('0x' || substr(md5(c.shingle), 1 + js.j * 8, 8))::BIGINT
               % 65536
  GROUP BY 1, 2
), ex AS (
  SELECT DISTINCT c.doc_id
  FROM corpus c JOIN bench USING (shingle)
)
SELECT p.doc_id,
       cast(count(*) AS BIGINT) AS n_shingles,
       max(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END) = 1
         AS exact_hit,
       max(p.all_set) = 1 AS bloom_hit
FROM probe p LEFT JOIN ex e ON e.doc_id = p.doc_id
GROUP BY 1
""",
        # replicates dedup.connected_components over the ngram-jaccard
        # edge set: reachability closure, cluster = min reachable id
        "dedup_clusters": """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter_n * 5 >= sa.sz + sb.sz - inter_n
), sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
)
SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY 1
""",
        # replicates q_dedup_editdist: Levenshtein over 80-char
        # prefixes of the surviving ngram-jaccard candidate pairs
        "dedup_editdist": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter_n * 5 >= sa.sz + sb.sz - inter_n
)
SELECT e.id_a, e.id_b,
       cast(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80))
            AS int) AS edit_dist
FROM edges e
JOIN documents da ON da.doc_id = e.id_a
JOIN documents db ON db.doc_id = e.id_b
""",
        "stratified_sample": """
SELECT metric, event_id, user_id, rnk FROM (
  SELECT event_type AS metric, event_id, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(user_id || '|' || event_id), event_id
         ) AS rnk
  FROM events
) WHERE rnk <= 50
""",
        "rank_family": """
WITH daily AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS bucket_ts,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM events GROUP BY 1, 2
)
SELECT metric, bucket_ts, total_cents,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       cast(ntile(4) OVER w AS int) AS quartile
FROM daily
WINDOW w AS (PARTITION BY metric ORDER BY total_cents, bucket_ts)
""",
        "profile_events": """
SELECT 'event_id' AS "column", count(*) AS n_rows,
       cast(count(*) - count(event_id) AS BIGINT) AS n_null,
       count(DISTINCT event_id) AS n_distinct FROM events
UNION ALL
SELECT 'ts', count(*), cast(count(*) - count(ts) AS BIGINT),
       count(DISTINCT ts) FROM events
UNION ALL
SELECT 'user_id', count(*), cast(count(*) - count(user_id) AS BIGINT),
       count(DISTINCT user_id) FROM events
UNION ALL
SELECT 'event_type', count(*),
       cast(count(*) - count(event_type) AS BIGINT),
       count(DISTINCT event_type) FROM events
UNION ALL
SELECT 'value', count(*), cast(count(*) - count(value) AS BIGINT),
       count(DISTINCT value) FROM events
UNION ALL
SELECT 'props', count(*), cast(count(*) - count(props) AS BIGINT),
       count(DISTINCT props) FROM events
""",
        # replicates analytics.cusum: integer-scaled deviations,
        # cumsum + running extrema, h=5 sigma alert on derived doubles
        "cusum_alerts": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(event_id AS int) AS turn_idx,
         cast(round(value * 100) AS BIGINT) AS v
  FROM events
), t AS (
  SELECT conv_id, metric, ts, turn_idx, v,
         cast(count(*) OVER wall AS BIGINT) AS n,
         cast(sum(v) OVER wall AS BIGINT) AS s1,
         cast(sum(v * v) OVER wall AS BIGINT) AS s2
  FROM s
  WINDOW wall AS (PARTITION BY conv_id, metric)
), pp AS (
  SELECT conv_id, metric, ts, turn_idx, n, s1, s2,
         cast(sum(n * v - s1) OVER word AS BIGINT) AS p
  FROM t
  WINDOW word AS (PARTITION BY conv_id, metric
                  ORDER BY epoch_us(ts), turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), x AS (
  SELECT conv_id, metric, ts, turn_idx, n, s1, s2, p,
         least(0, cast(min(p) OVER word AS BIGINT)) AS lo,
         greatest(0, cast(max(p) OVER word AS BIGINT)) AS hi
  FROM pp
  WINDOW word AS (PARTITION BY conv_id, metric
                  ORDER BY epoch_us(ts), turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT conv_id, metric, ts, turn_idx,
       round(cast(p - lo AS DOUBLE) / (n * 100.0), 6) AS s_plus,
       round(cast(hi - p AS DOUBLE) / (n * 100.0), 6) AS s_minus,
       (cast(p - lo AS DOUBLE) * cast(p - lo AS DOUBLE)
          > 25.0 * cast(n * s2 - s1 * s1 AS DOUBLE))
       OR (cast(hi - p AS DOUBLE) * cast(hi - p AS DOUBLE)
          > 25.0 * cast(n * s2 - s1 * s1 AS DOUBLE)) AS alert
FROM x
""",
        # DIRECT overlap theta-join — equality with the Spark side's
        # binned equi-join validates the binning transformation
        "session_overlap": """
WITH d AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT conv_id, ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
), sessions AS (
  SELECT conv_id, min(ts) AS start_l, max(ts) AS end_l
  FROM s GROUP BY conv_id, sid
), incidents AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         min(ts) AS start_r, max(ts) AS end_r
  FROM events GROUP BY 1, 2
)
SELECT se.conv_id, se.start_l AS session_start, i.metric, i.day_ts,
       round((epoch_us(least(se.end_l, i.end_r))
              - epoch_us(greatest(se.start_l, i.start_r))) / 1e6, 6)
         AS overlap_s
FROM sessions se JOIN incidents i
  ON least(se.end_l, i.end_r) >= greatest(se.start_l, i.start_r)
""",
        # Spark dayofweek is 1=Sunday..7=Saturday; DuckDB's dow
        # extract is 0=Sunday..6 — hence the +1
        "seasonal_profile": """
SELECT event_type AS metric,
       cast(dayofweek(ts) + 1 AS int) AS dow,
       cast(hour(ts) AS int) AS hod,
       count(*) AS n,
       round(sum(cast(round(value * 100) AS BIGINT))
             / (count(*) * 100.0), 6) AS mean_v
FROM events GROUP BY 1, 2, 3
""",
        "wow_delta": """
WITH daily AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM events GROUP BY 1, 2
)
SELECT d.metric, d.day_ts, d.total_cents,
       p.total_cents AS prev_week_cents,
       d.total_cents - p.total_cents AS wow_delta_cents
FROM daily d LEFT JOIN daily p
  ON p.metric = d.metric
 AND p.day_ts + INTERVAL 7 DAY = d.day_ts
""",
        "gap_report": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, cast(event_id AS int) AS turn_idx
  FROM events
), l AS (
  SELECT conv_id, metric,
         lag(ts) OVER w AS gap_start, ts AS gap_end,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
  FROM s
  WINDOW w AS (PARTITION BY conv_id, metric
               ORDER BY epoch_us(ts), turn_idx)
)
SELECT conv_id, metric, gap_start, gap_end,
       round(gap_us / 1e6, 6) AS gap_s
FROM l WHERE gap_us > 7200000000
""",
        "staleness_report": """
WITH last AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         max(ts) AS last_ts, count(*) AS n_points
  FROM events GROUP BY 1, 2
), f AS (SELECT max(ts) AS frontier FROM events)
SELECT conv_id, metric, last_ts, n_points,
       round((epoch_us(frontier) - epoch_us(last_ts)) / 1e6, 6)
         AS staleness_s
FROM last CROSS JOIN f
""",
        # Spark percentile() and DuckDB quantile_cont share the exact
        # interpolated definition; integer-cents inputs keep the
        # arithmetic identical (range-frame peers included on both)
        "rolling_p95_1h": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(round(value * 100) AS BIGINT) AS v
  FROM events
)
SELECT conv_id, metric, ts,
       count(v) OVER w AS roll_n,
       round(quantile_cont(v, 0.5) OVER w / 100.0, 6) AS roll_p50,
       round(quantile_cont(v, 0.95) OVER w / 100.0, 6) AS roll_p95
FROM s
WINDOW w AS (PARTITION BY conv_id, metric ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
        # reachability closure over the cosine near-dup pair set —
        # same cluster rule as dedup_clusters, different pair source
        "emb_clusters": f"""
WITH RECURSIVE {_UV_CTE}, pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM uv a JOIN uv b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 6) >= 0.35
), sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
)
SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY 1
""",
        "unpivot_tier": """
WITH t AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         date_trunc('hour', ts) AS bucket_ts,
         count(value) AS cnt, sum(value) AS sum_v,
         min(value) AS min_v, max(value) AS max_v
  FROM events GROUP BY 1, 2, 3
)
SELECT conv_id, metric, bucket_ts, 'cnt' AS stat,
       round(cast(cnt AS DOUBLE), 6) AS stat_v FROM t
UNION ALL
SELECT conv_id, metric, bucket_ts, 'sum', round(sum_v, 6) FROM t
UNION ALL
SELECT conv_id, metric, bucket_ts, 'min', round(min_v, 6) FROM t
UNION ALL
SELECT conv_id, metric, bucket_ts, 'max', round(max_v, 6) FROM t
""",
        "term_salience": """
WITH tf AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
  FROM documents
), tfc AS (
  SELECT doc_id, term, cast(count(*) AS BIGINT) AS tf
  FROM tf GROUP BY 1, 2
), dfc AS (
  SELECT term, cast(count(*) AS BIGINT) AS df_docs FROM tfc GROUP BY 1
), n AS (SELECT cast(count(*) AS BIGINT) AS nd FROM documents)
SELECT doc_id, rank, term, tf, df_docs, salience FROM (
  SELECT t.doc_id, t.term, t.tf, d.df_docs,
         round(cast(t.tf * n.nd AS DOUBLE) / cast(d.df_docs AS DOUBLE),
               6) AS salience,
         cast(row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY cast(t.tf * n.nd AS DOUBLE)
                    / cast(d.df_docs AS DOUBLE) DESC, t.term
         ) AS int) AS rank
  FROM tfc t JOIN dfc d USING (term) CROSS JOIN n
) WHERE rank <= 3
""",
        "cohort_retention": """
WITH e AS (
  SELECT user_id, date_trunc('day', ts) AS d FROM events
), a AS (
  SELECT user_id, d,
         min(d) OVER (PARTITION BY user_id) AS cohort_day
  FROM e
)
SELECT cohort_day,
       cast(date_diff('day', cohort_day, d) AS int) AS age_days,
       count(DISTINCT user_id) AS active_users
FROM a GROUP BY 1, 2
""",
        "conv_lifetimes": """
SELECT cast(user_id AS varchar) AS conv_id,
       min(ts) AS first_ts, max(ts) AS last_ts,
       round((max(epoch_us(ts)) - min(epoch_us(ts))) / 1e6, 6)
         AS span_s,
       count(DISTINCT date_trunc('day', ts)) AS active_days,
       count(*) AS n_events
FROM events GROUP BY 1
""",
        "emb_centroid": """
WITH pd AS (
  SELECT label, dim, cast(count(*) AS BIGINT) AS n, sum(x) AS s FROM (
    SELECT label, unnest(embedding::DOUBLE[]) AS x,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings) GROUP BY 1, 2
)
SELECT label, max(n) AS n_vecs,
       round(sqrt(sum((s / n) * (s / n))), 6) AS centroid_norm
FROM pd GROUP BY 1
""",
        "text_scrub": """
SELECT doc_id,
       md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS scrubbed_md5,
       cast(length(regexp_replace(text, '[0-9]+', '#', 'g')) AS int)
         AS scrubbed_len,
       cast(len(regexp_extract_all(text, '[0-9]+')) AS int)
         AS n_redactions
FROM documents
""",
        "doc_chunks": """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), s AS (
  SELECT doc_id, t, len(t) AS n,
         unnest(generate_series(
           1, 1 + 40 * ((greatest(len(t) - 50, 0) + 39) // 40), 40))
           AS start,
         generate_subscripts(generate_series(
           1, 1 + 40 * ((greatest(len(t) - 50, 0) + 39) // 40), 40), 1)
           - 1 AS chunk_idx
  FROM d WHERE len(t) > 0
)
SELECT doc_id, cast(chunk_idx AS int) AS chunk_idx,
       cast(least(n - start + 1, 50) AS int) AS n_toks,
       md5(array_to_string(t[start:start+49], ' ')) AS chunk_md5
FROM s
""",
        "asof_tolerant": """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), err AS (
  SELECT user_id, ts, arg_max(value, event_id) AS err_v
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id,
       CASE WHEN epoch_us(c.ts) - epoch_us(e.ts) <= 1800000000
            THEN e.err_v END AS err_v_asof
FROM clicks c
ASOF LEFT JOIN err e ON c.user_id = e.user_id AND c.ts >= e.ts
""",
        "tier_consistency": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, value
  FROM events
), t1m AS (
  SELECT conv_id, metric, date_trunc('minute', ts) AS bucket_ts,
         count(value) AS cnt, sum(value) AS s, min(value) AS mn,
         max(value) AS mx, arg_min(value, ts) AS fv,
         arg_max(value, ts) AS lv
  FROM s GROUP BY 1, 2, 3
), reagg AS (
  SELECT conv_id, metric, date_trunc('hour', bucket_ts) AS bucket_ts,
         sum(cnt) AS cnt, sum(s) AS s, min(mn) AS mn, max(mx) AS mx,
         arg_min(fv, bucket_ts) AS fv, arg_max(lv, bucket_ts) AS lv
  FROM t1m GROUP BY 1, 2, 3
), direct AS (
  SELECT conv_id, metric, date_trunc('hour', ts) AS bucket_ts,
         count(value) AS cnt, sum(value) AS s, min(value) AS mn,
         max(value) AS mx, arg_min(value, ts) AS fv,
         arg_max(value, ts) AS lv
  FROM s GROUP BY 1, 2, 3
), j AS (
  SELECT coalesce(a.metric, b.metric) AS metric,
         a.cnt AS a_cnt, b.cnt AS b_cnt,
         a.s AS a_s, b.s AS b_s, a.mn AS a_mn, b.mn AS b_mn,
         a.mx AS a_mx, b.mx AS b_mx, a.fv AS a_fv, b.fv AS b_fv,
         a.lv AS a_lv, b.lv AS b_lv
  FROM reagg a FULL OUTER JOIN direct b
    ON a.conv_id = b.conv_id AND a.metric = b.metric
   AND a.bucket_ts = b.bucket_ts
)
SELECT metric,
       count(*) AS n_buckets,
       cast(sum(cast(b_cnt IS NULL AS int)) AS bigint) AS n_only_reagg,
       cast(sum(cast(a_cnt IS NULL AS int)) AS bigint) AS n_only_direct,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND a_cnt <> b_cnt AS int)) AS bigint) AS n_cnt_diff,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND round(a_s, 6) <> round(b_s, 6) AS int))
            AS bigint) AS n_sum_diff,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND a_mn <> b_mn AS int)) AS bigint) AS n_min_diff,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND a_mx <> b_mx AS int)) AS bigint) AS n_max_diff,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND a_fv <> b_fv AS int)) AS bigint) AS n_first_diff,
       cast(sum(cast(a_cnt IS NOT NULL AND b_cnt IS NOT NULL
                     AND a_lv <> b_lv AS int)) AS bigint) AS n_last_diff
FROM j GROUP BY 1
""",
        "mad_outliers": """
WITH s AS (
  SELECT event_type AS metric, ts, event_id AS turn_idx, value,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), med AS (
  SELECT metric, quantile_cont(_v, 0.5) AS _med FROM s GROUP BY 1
), d AS (
  SELECT s.*, _med, abs(_v - _med) AS _dev
  FROM s JOIN med USING (metric)
), mad AS (
  SELECT metric, quantile_cont(_dev, 0.5) AS _mad FROM d GROUP BY 1
)
SELECT metric, ts, turn_idx, value,
       round(_med / 100, 6) AS med,
       round(_mad / 100, 6) AS mad,
       round(CASE WHEN _mad > 0 THEN _dev / _mad END, 6) AS score
FROM d JOIN mad USING (metric)
WHERE _dev > 3.0 * _mad
""",
        "cube_counts": """
WITH s AS (
  SELECT event_type, cast(dayofweek(ts) + 1 AS int) AS dow,
         cast(round(value * 100) AS bigint) AS cents
  FROM events
)
SELECT event_type, dow,
       cast(grouping(event_type, dow) AS bigint) AS gid,
       count(*) AS n,
       cast(sum(cents) AS bigint) AS sum_cents
FROM s GROUP BY CUBE (event_type, dow)
""",
        "spearman_pairs": """
WITH h AS (
  SELECT cast(user_id AS varchar) AS u, date_trunc('hour', ts) AS b,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.u AS ua, b.u AS ub, a.v AS va, b.v AS vb
  FROM h a JOIN h b ON a.b = b.b AND a.u < b.u
), r AS (
  SELECT ua, ub,
         rank() OVER (PARTITION BY ua, ub ORDER BY va ASC)
           + (count(*) OVER (PARTITION BY ua, ub, va) - 1) / 2.0 AS ra,
         rank() OVER (PARTITION BY ua, ub ORDER BY vb ASC)
           + (count(*) OVER (PARTITION BY ua, ub, vb) - 1) / 2.0 AS rb
  FROM p
), g AS (
  SELECT ua, ub, count(*) AS n, covar_pop(ra, rb) AS cov,
         stddev_pop(ra) AS sa, stddev_pop(rb) AS sb
  FROM r GROUP BY 1, 2
)
SELECT ua, ub, n,
       round(CASE WHEN sa > 0 AND sb > 0 THEN cov / (sa * sb) END, 6)
         AS rho_s
FROM g
WHERE n >= 12
  AND (CASE WHEN sa > 0 AND sb > 0 THEN cov / (sa * sb) END) IS NOT NULL
""",
        "trend_daily": """
WITH s AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         (epoch_us(ts) - epoch_us(date_trunc('day', ts))) // 1000000 AS x,
         cast(round(value * 100) AS bigint) AS y
  FROM events
), g AS (
  SELECT metric, day_ts, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM s GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n AS bigint) AS n,
       round(CASE WHEN cast(n * sxx - sx * sx AS double) > 0
             THEN cast(n * sxy - sx * sy AS double)
                  / cast(n * sxx - sx * sx AS double) * 36.0 END, 6)
         AS slope_per_hour,
       round(CASE WHEN cast(n * sxx - sx * sx AS double) > 0
             THEN (cast(sy AS double)
                   - (cast(n * sxy - sx * sy AS double)
                      / cast(n * sxx - sx * sx AS double))
                     * cast(sx AS double))
                  / cast(n AS double) / 100.0 END, 6) AS intercept_v
FROM g
""",
        "concurrency_1h": """
WITH d AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT conv_id, ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM d
), spans AS (
  SELECT min(ts) AS start_ts, max(ts) AS end_ts
  FROM s GROUP BY conv_id, sid
), deltas AS (
  SELECT ts_us, sum(dd) AS delta FROM (
    SELECT epoch_us(start_ts) AS ts_us, 1 AS dd FROM spans
    UNION ALL
    SELECT epoch_us(end_ts) + 1 AS ts_us, -1 AS dd FROM spans
  ) GROUP BY 1
), lv AS (
  SELECT ts_us, cast(delta AS bigint) AS delta,
         cast(sum(delta) OVER (ORDER BY ts_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint)
           AS level
  FROM deltas
)
SELECT date_trunc('hour', make_timestamp(ts_us)) AS bucket_ts,
       greatest(max(level), arg_min(level - delta, ts_us)) AS peak,
       count(*) AS n_changes
FROM lv GROUP BY 1
""",
        "chunk_dedup": """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), s AS (
  SELECT doc_id, t, len(t) AS n,
         unnest(generate_series(
           1, 1 + 40 * ((greatest(len(t) - 50, 0) + 39) // 40), 40))
           AS start
  FROM d WHERE len(t) > 0
), ch AS (
  SELECT doc_id,
         md5(array_to_string(t[start:start+49], ' ')) AS chunk_md5
  FROM s
), df AS (
  SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs
  FROM ch GROUP BY 1
)
SELECT doc_id,
       count(*) AS n_chunks,
       cast(sum(cast(n_docs > 1 AS int)) AS bigint) AS n_dup_chunks,
       round(sum(cast(n_docs > 1 AS int)) / cast(count(*) AS double), 6)
         AS dup_frac
FROM ch JOIN df USING (chunk_md5)
GROUP BY 1
""",
        "lttb_1h": """
WITH s AS (
  SELECT event_type AS metric, ts, event_id AS turn_idx, value,
         date_trunc('hour', ts) AS bucket_ts,
         (epoch_us(ts) - epoch_us(date_trunc('hour', ts))) // 1000000
           AS x,
         cast(round(value * 100) AS bigint) AS y
  FROM events
), g AS (
  SELECT metric, bucket_ts, count(*) AS bn, sum(x) AS bsx,
         sum(y) AS bsy
  FROM s GROUP BY 1, 2
), gg AS (
  SELECT metric, bucket_ts, bn,
         lag(bn) OVER w AS n1, lag(bsx) OVER w AS psx,
         lag(bsy) OVER w AS sy1, lag(bucket_ts) OVER w AS b1,
         lead(bn) OVER w AS n3, lead(bsx) OVER w AS nsx,
         lead(bsy) OVER w AS sy3, lead(bucket_ts) OVER w AS b3
  FROM g WINDOW w AS (PARTITION BY metric ORDER BY bucket_ts)
), j AS (
  SELECT s.metric, s.bucket_ts, s.ts, s.turn_idx, s.value, s.x, s.y,
         gg.bn, gg.n1, gg.sy1, gg.n3, gg.sy3,
         gg.psx + gg.n1
           * ((epoch_us(gg.b1) - epoch_us(s.bucket_ts)) // 1000000)
           AS sx1,
         gg.nsx + gg.n3
           * ((epoch_us(gg.b3) - epoch_us(s.bucket_ts)) // 1000000)
           AS sx3
  FROM s JOIN gg USING (metric, bucket_ts)
), sc AS (
  SELECT *,
         CASE WHEN n1 IS NOT NULL AND n3 IS NOT NULL THEN
           abs((sx1 * n3 - sx3 * n1) * (y * n1 - sy1)
               - (sx1 - x * n1) * (sy3 * n1 - sy1 * n3)) END AS score,
         (epoch_us(ts) - epoch_us(bucket_ts)) * 2147483648
           + least(turn_idx, 2147483647) AS pk
  FROM j
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY metric, bucket_ts
    ORDER BY score DESC NULLS LAST,
             CASE WHEN n1 IS NOT NULL AND n3 IS NULL
                  THEN -pk ELSE pk END ASC) AS rn
  FROM sc
)
SELECT metric, bucket_ts, bn AS n, ts, value FROM r WHERE rn = 1
""",
        "des_brown": """
WITH RECURSIVE s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(event_id AS INTEGER) AS turn_idx, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
), e AS (
  SELECT conv_id, metric, ts, turn_idx, value, rn,
         value AS y1, value AS y2
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.conv_id, s.metric, s.ts, s.turn_idx, s.value, s.rn,
         (1 - 0.3) * e.y1 + 0.3 * s.value,
         (1 - 0.3) * e.y2 + 0.3 * ((1 - 0.3) * e.y1 + 0.3 * s.value)
  FROM e JOIN s ON s.conv_id = e.conv_id AND s.metric = e.metric
              AND s.rn = e.rn + 1
)
SELECT conv_id, metric, ts, turn_idx, value,
       floor((2 * y1 - y2) * 1e6) / 1e6 AS level,
       floor(((0.3 / (1 - 0.3)) * (y1 - y2)) * 1e6) / 1e6 AS trend
FROM e
""",
        "heatmap_bins": """
WITH s AS (
  SELECT event_type AS metric, cast(hour(ts) AS int) AS hod,
         cast(round(value * 100) AS bigint) AS cents
  FROM events
), mm AS (
  SELECT metric, min(cents) AS mn, max(cents) AS mx FROM s GROUP BY 1
)
SELECT metric, hod,
       cast(CASE WHEN mx > mn THEN least(
              floor(cast(cents - mn AS double)
                    / (cast(mx - mn AS double) / 20.0)), 19)
            ELSE 0 END AS int) AS bin,
       count(*) AS n
FROM s JOIN mm USING (metric)
GROUP BY 1, 2, 3
""",
        "minmax_scale": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, cast(event_id AS int) AS turn_idx,
         cast(round(value * 100) AS bigint) AS cents
  FROM events
), mm AS (
  SELECT metric, min(cents) AS mn, max(cents) AS mx FROM s GROUP BY 1
)
SELECT conv_id, metric, ts, turn_idx,
       round(CASE WHEN mx > mn
             THEN cast(cents - mn AS double)
                  / cast(mx - mn AS double) END, 6) AS scaled
FROM s JOIN mm USING (metric)
""",
        "conv_digest": """
SELECT user_id, count(*) AS n_turns,
       md5(string_agg(coalesce(props, ''), chr(1)
           ORDER BY epoch_us(ts), event_id)) AS digest
FROM events GROUP BY 1
""",
        "asof_forward": """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), err AS (
  SELECT user_id, ts, arg_max(value, event_id) AS err_v
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
), j AS (
  SELECT c.event_id, c.user_id, e.err_v,
         epoch_us(e.ts) - epoch_us(c.ts) AS d
  FROM clicks c LEFT JOIN err e
    ON c.user_id = e.user_id AND e.ts >= c.ts
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d) AS rn
  FROM j
)
SELECT event_id, user_id, err_v AS err_v_asof FROM r WHERE rn = 1
""",
        "asof_nearest": """
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), err AS (
  SELECT user_id, ts, arg_max(value, event_id) AS err_v
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
), j AS (
  SELECT c.event_id, c.user_id, e.err_v,
         abs(epoch_us(e.ts) - epoch_us(c.ts)) AS d,
         epoch_us(e.ts) AS rts
  FROM clicks c LEFT JOIN err e ON c.user_id = e.user_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY d, rts) AS rn
  FROM j
)
SELECT event_id, user_id, err_v AS err_v_asof FROM r WHERE rn = 1
""",
        "tpch_q1": """
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         cast(l_quantity AS bigint) AS qty,
         cast(round(l_extendedprice * 100) AS bigint) AS base_c,
         cast(round(l_extendedprice * (1 - l_discount) * 100) AS bigint)
           AS disc_c,
         cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    * 100) AS bigint) AS charge_c,
         cast(round(l_discount * 10000) AS bigint) AS disc_bp
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
), g AS (
  SELECT l_returnflag, l_linestatus,
         cast(sum(qty) AS bigint) AS sum_qty,
         count(*) AS count_order,
         cast(sum(base_c) AS bigint) AS _b,
         cast(sum(disc_c) AS bigint) AS _d,
         cast(sum(charge_c) AS bigint) AS _c,
         cast(sum(disc_bp) AS bigint) AS _bp
  FROM s GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty, count_order,
       round(_b / 100.0, 2) AS sum_base_price,
       round(_d / 100.0, 2) AS sum_disc_price,
       round(_c / 100.0, 2) AS sum_charge,
       round(sum_qty / cast(count_order AS double), 6) AS avg_qty,
       round(_b / (count_order * 100.0), 6) AS avg_price,
       round(_bp / (count_order * 10000.0), 6) AS avg_disc
FROM g
""",
        "tpch_q3": """
WITH g AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                       AS bigint)) AS bigint) AS _rc
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15'
    AND l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY 1, 2, 3
)
SELECT o_orderkey, round(_rc / 100.0, 2) AS revenue,
       o_orderdate, o_orderpriority
FROM g ORDER BY _rc DESC, o_orderkey ASC LIMIT 10
""",
        "acf_hourly": _ACF_SQL,
        "ess_hourly": f"""
WITH spec AS ({_ACF_SQL}), t AS (
  SELECT metric,
         cast(max(n_pairs + lag_h) AS bigint) AS n_hours,
         cast(sum(cast(round(acf * 1e6) AS bigint)) AS bigint) AS su,
         cast(count(acf) AS bigint) AS used
  FROM spec GROUP BY 1
)
SELECT metric, n_hours, used AS n_lags_used,
       round(1.0 + 2.0 * (cast(su AS double) / 1e6), 6) AS tau,
       round(CASE WHEN 1.0 + 2.0 * (cast(su AS double) / 1e6) > 0
                  THEN cast(n_hours AS double)
                       / (1.0 + 2.0 * (cast(su AS double) / 1e6))
             END, 6) AS ess
FROM t
""",
        "dominant_period": f"""
WITH spec AS ({_ACF_SQL})
SELECT metric, lag_h AS period_h, acf FROM (
  SELECT metric, lag_h, acf,
         row_number() OVER (PARTITION BY metric
                            ORDER BY acf DESC, lag_h ASC) AS r
  FROM spec WHERE lag_h >= 2 AND acf IS NOT NULL
) WHERE r = 1
""",
        "sax_daily": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(extract(hour FROM ts) AS int) AS hour_idx,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), h AS (
  SELECT metric, day_ts, hour_idx, count(*) AS hn, sum(c) AS hsum,
         sum(c * c) AS hsxx
  FROM pt GROUP BY 1, 2, 3
), d AS (
  SELECT metric, day_ts, sum(hn) AS dn, sum(hsum) AS dsum,
         sum(hsxx) AS dsxx
  FROM h GROUP BY 1, 2
), z AS (
  SELECT h.metric, h.day_ts, hour_idx,
         cast(hsum AS double) / cast(hn AS double) AS hmean,
         cast(dsum AS double) / cast(dn AS double) AS dmean,
         dn * dsxx - dsum * dsum AS vnum,
         cast(dn * dsxx - dsum * dsum AS double)
           / cast(dn * dn AS double) AS dvar
  FROM h JOIN d USING (metric, day_ts)
), s AS (
  SELECT metric, day_ts, hour_idx, vnum > 0 AS var_ok,
         CASE WHEN vnum <= 0 THEN NULL
              WHEN (hmean - dmean) / sqrt(dvar) < -0.6745 THEN 'a'
              WHEN (hmean - dmean) / sqrt(dvar) < 0.0 THEN 'b'
              WHEN (hmean - dmean) / sqrt(dvar) < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM z
)
SELECT metric, day_ts, cast(count(*) AS bigint) AS n_hours,
       CASE WHEN bool_and(var_ok)
            THEN string_agg(sym, '' ORDER BY hour_idx) END AS sax_word
FROM s GROUP BY 1, 2
""",
        "bm25_search": f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), dl AS (
  SELECT doc_id, cast(len(t) AS bigint) AS dl FROM tok
), g AS (
  SELECT cast(count(*) AS bigint) AS n_docs,
         cast(sum(dl) AS bigint) AS sum_dl
  FROM dl
), tf AS (
  SELECT doc_id, tok AS term, cast(count(*) AS bigint) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM tok)
  WHERE tok IN ({", ".join("'" + t + "'" for t in BM25_TERMS)})
  GROUP BY 1, 2
), dfq AS (
  SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1
), sc AS (
  SELECT tf.doc_id,
         cast(round(
           ln(1.0 + (cast(n_docs - df AS double) + 0.5)
                    / (cast(df AS double) + 0.5))
           * ((cast(tf AS double) * 2.2)
              / (cast(tf AS double)
                 + 1.2 * (0.25 + 0.75 * (cast(dl AS double)
                          / (cast(sum_dl AS double)
                             / cast(n_docs AS double))))))
           * 1000000.0) AS bigint) AS cu
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
)
SELECT doc_id, cast(count(*) AS int) AS n_terms,
       cast(sum(cu) AS bigint) AS score_u
FROM sc GROUP BY 1
ORDER BY score_u DESC, doc_id ASC LIMIT 20
""",
        "dedup_prefix_jaccard": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), dfq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY 1
), pd AS (
  SELECT doc_id, list(shingle ORDER BY df, shingle) AS arr,
         cast(count(*) AS int) AS sz
  FROM sh JOIN dfq USING (shingle) GROUP BY doc_id
), pre AS (
  SELECT doc_id,
         unnest(list_slice(arr, 1, sz - ((7 * sz + 10 - 1) // 10) + 1))
           AS shingle
  FROM pd
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), v AS (
  SELECT id_a, id_b,
         cast(len(list_intersect(pa.arr, pb.arr)) AS int) AS inter_n,
         pa.sz + pb.sz AS szsum
  FROM cand
  JOIN pd pa ON id_a = pa.doc_id
  JOIN pd pb ON id_b = pb.doc_id
)
SELECT id_a, id_b, inter_n,
       cast(szsum - inter_n AS bigint) AS union_n
FROM v WHERE 10 * inter_n >= 7 * (szsum - inter_n)
""",
        "doc_surprisal": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), tk AS (
  SELECT doc_id, unnest(t) AS tok FROM tok
), vocab AS (
  SELECT tok, cast(count(*) AS bigint) AS c FROM tk GROUP BY 1
), tot AS (
  SELECT cast(sum(c) AS bigint) AS n_total FROM vocab
), pt AS (
  SELECT doc_id,
         cast(round(ln(cast(n_total AS double) / cast(c AS double))
                    * 1000000.0) AS bigint) AS su
  FROM tk JOIN vocab USING (tok) CROSS JOIN tot
)
SELECT doc_id, cast(count(*) AS bigint) AS n_toks,
       cast(floor(cast(sum(su) AS double) / cast(count(*) AS double))
            AS bigint) AS surprisal_u
FROM pt GROUP BY 1
""",
        "source_drift": """
WITH tok AS (
  SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), tk AS (
  SELECT source, unnest(t) AS tok FROM tok
), ps AS (
  SELECT source, tok, cast(count(*) AS bigint) AS cs FROM tk GROUP BY 1, 2
), vocab AS (
  SELECT tok, cast(sum(cs) AS bigint) AS c FROM ps GROUP BY 1
), st AS (
  SELECT source, cast(sum(cs) AS bigint) AS ns FROM ps GROUP BY 1
), tot AS (
  SELECT cast(sum(c) AS bigint) AS n_total FROM vocab
), terms AS (
  SELECT source, ns,
         cast(round(cast(cs AS double)
                    * ln(cast(cs::hugeint * n_total::hugeint AS double)
                         / cast(c::hugeint * ns::hugeint AS double))
                    * 1000000.0) AS bigint) AS tu
  FROM ps JOIN vocab USING (tok) JOIN st USING (source) CROSS JOIN tot
)
SELECT source, cast(max(ns) AS bigint) AS n_toks,
       cast(floor(cast(sum(tu) AS double) / cast(max(ns) AS double))
            AS bigint) AS kl_u
FROM terms GROUP BY source
""",
        "collocations_pmi": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), big AS (
  SELECT least(pr[1], pr[2]) AS tok_a, greatest(pr[1], pr[2]) AS tok_b
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> [t[i], t[i + 1]])) AS pr
    FROM tok
  )
), uni AS (
  SELECT tok, cast(count(*) AS bigint) AS c
  FROM (SELECT unnest(t) AS tok FROM tok) GROUP BY 1
), ntok AS (
  SELECT cast(sum(c) AS bigint) AS n_tok FROM uni
), pall AS (
  SELECT tok_a, tok_b, cast(count(*) AS bigint) AS pair_n
  FROM big GROUP BY 1, 2
), npair AS (
  SELECT cast(sum(pair_n) AS bigint) AS n_pair FROM pall
), p AS (
  SELECT * FROM pall WHERE pair_n >= 5
)
SELECT tok_a, tok_b, pair_n,
       cast(round(ln(
         cast(pair_n::hugeint * n_tok::hugeint * n_tok::hugeint AS double)
         / cast(n_pair::hugeint * ca.c::hugeint * cb.c::hugeint AS double))
         * 1000000.0) AS bigint) AS pmi_u
FROM p
JOIN uni ca ON p.tok_a = ca.tok
JOIN uni cb ON p.tok_b = cb.tok
CROSS JOIN ntok CROSS JOIN npair
""",
        "phrase_search": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), pos AS (
  SELECT doc_id, tok, cast(i AS bigint) AS pos FROM (
    SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS i
    FROM tok
  )
)
SELECT p0.doc_id, cast(count(*) AS bigint) AS n_hits
FROM pos p0
JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
JOIN pos p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
WHERE p0.tok = 'row' AND p1.tok = 'column' AND p2.tok = 'sort'
GROUP BY 1
""",
        "skew_report": """
WITH c AS (
  SELECT event_type AS metric, cast(user_id AS varchar) AS conv_id,
         cast(count(*) AS bigint) AS x
  FROM events GROUP BY 1, 2
), r AS (
  SELECT metric, x,
         row_number() OVER (PARTITION BY metric ORDER BY x, conv_id)
           AS i
  FROM c
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(x::hugeint) AS sx,
         sum(i::hugeint * x::hugeint) AS six,
         max(x) AS xmax
  FROM r GROUP BY 1
)
SELECT metric, cast(n AS bigint) AS n_keys, cast(sx AS bigint) AS n_rows,
       cast(floor(cast(2::hugeint * six - (n + 1::hugeint) * sx AS double)
                  * 1000000.0 / cast(n * sx AS double)) AS bigint)
         AS gini_u,
       cast(floor(cast(xmax AS double) * 1000000.0 / cast(sx AS double))
            AS bigint) AS top1_share_u
FROM g
""",
        "forecast_eval": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS a
  FROM events GROUP BY 1, 2
), j AS (
  SELECT h.metric, h.a, f.a AS fc
  FROM h JOIN h f
    ON f.metric = h.metric
   AND f.h_us + 24 * 3600000000 = h.h_us
), t AS (
  SELECT metric, abs(a - fc) AS ae,
         CASE WHEN abs(a) + abs(fc) = 0 THEN 0
              ELSE cast(round(cast(abs(a - fc) AS double) * 1000000.0
                             / cast(abs(a) + abs(fc) AS double))
                        AS bigint) END AS sm
  FROM j
)
SELECT metric, cast(count(*) AS bigint) AS n_eval,
       cast(sum(ae) AS bigint) AS sae_cents,
       cast(floor(cast(sum(ae) AS double) * 1000000.0
                  / (cast(count(*) AS double) * 100.0)) AS bigint)
         AS mae_u,
       cast(floor(cast(sum(sm) AS double) / cast(count(*) AS double))
            AS bigint) AS smape_u
FROM t GROUP BY 1
""",
        "pagerank_events": _pagerank_oracle(3),
        "hits_events": _hits_oracle(2),
        "pagerank_dangling": _pagerank_dangling_oracle(3),
        "dsir_weights": _dsir_oracle(4096),
        "textrank_keywords": _pagerank_unrolled_oracle(
            _TEXTRANK_EDGE_CTES, 3),
        "ppr_terms": _pagerank_unrolled_oracle(
            _TEXTRANK_EDGE_CTES, 3,
            teleport_cte=(
                "SELECT src AS node FROM ("
                "SELECT src, cast(sum(w) AS bigint) AS wd "
                "FROM e GROUP BY 1) "
                "QUALIFY row_number() OVER "
                "(ORDER BY wd DESC, src ASC) = 1"
            )),
        "seasonal_strength": """
WITH pt AS (
  SELECT event_type AS metric, dayofweek(ts) AS dow,
         cast(extract(hour FROM ts) AS int) AS hod,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), g AS (
  SELECT metric, dow, hod, cast(count(*) AS bigint) AS ng,
         cast(sum(c) AS hugeint) AS sg,
         cast(sum(c * c) AS hugeint) AS qg
  FROM pt GROUP BY 1, 2, 3
), ge AS (
  SELECT metric, ng, sg, qg,
         cast(round(cast(sg * sg AS double) / cast(ng AS double))
              AS hugeint) AS eg
  FROM g
), t AS (
  SELECT metric, cast(sum(ng) AS hugeint) AS n,
         cast(sum(sg) AS hugeint) AS s,
         cast(sum(qg) AS hugeint) AS q,
         cast(sum(eg) AS hugeint) AS e
  FROM ge GROUP BY 1
)
SELECT metric, cast(n AS bigint) AS n,
       CASE WHEN q * n - s * s > 0
            THEN cast(floor(cast(e * n - s * s AS double) * 1000000.0
                            / cast(q * n - s * s AS double)) AS bigint)
       END AS r2_u
FROM t
""",
        "hll_overlap": """
WITH e AS (
  SELECT event_type AS seg, cast(user_id AS varchar) AS item FROM events
), h AS (
  SELECT seg, ('0x' || substr(md5(item), 1, 15))::BIGINT AS hv FROM e
), r0 AS (
  SELECT seg, hv >> 50 AS reg,
         CASE WHEN (hv & 1125899906842623) = 0 THEN 51
              ELSE 51 - length(bin(hv & 1125899906842623)) END AS rho
  FROM h
), regs AS (
  SELECT seg, reg, max(rho) AS rho FROM r0 GROUP BY 1, 2
), segs AS (
  SELECT DISTINCT seg FROM regs
), pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b
  FROM segs a JOIN segs b ON a.seg < b.seg
), uregs AS (
  SELECT seg_a, seg_b, reg, max(rho) AS rho FROM (
    SELECT p.seg_a, p.seg_b, r.reg, r.rho
    FROM pairs p JOIN regs r ON r.seg = p.seg_a
    UNION ALL
    SELECT p.seg_a, p.seg_b, r.reg, r.rho
    FROM pairs p JOIN regs r ON r.seg = p.seg_b
  ) GROUP BY 1, 2, 3
), agg1 AS (
  SELECT seg, cast(sum(1::BIGINT << (51 - rho)) AS BIGINT) AS s,
         count(*) AS np
  FROM regs GROUP BY 1
), est1 AS (
  SELECT seg, round(CASE
    WHEN CAST(0.7205407583220416 AS DOUBLE) * 1048576.0 * 2251799813685248.0
         / cast(s + (1024 - np) * (1::BIGINT << 51) AS DOUBLE) <= 2560.0
         AND 1024 - np > 0
    THEN 1024.0 * ln(1024.0 / cast(1024 - np AS DOUBLE))
    ELSE CAST(0.7205407583220416 AS DOUBLE) * 1048576.0 * 2251799813685248.0
         / cast(s + (1024 - np) * (1::BIGINT << 51) AS DOUBLE)
    END, 6) AS est
  FROM agg1
), aggu AS (
  SELECT seg_a, seg_b,
         cast(sum(1::BIGINT << (51 - rho)) AS BIGINT) AS s,
         count(*) AS np
  FROM uregs GROUP BY 1, 2
), estu AS (
  SELECT seg_a, seg_b, round(CASE
    WHEN CAST(0.7205407583220416 AS DOUBLE) * 1048576.0 * 2251799813685248.0
         / cast(s + (1024 - np) * (1::BIGINT << 51) AS DOUBLE) <= 2560.0
         AND 1024 - np > 0
    THEN 1024.0 * ln(1024.0 / cast(1024 - np AS DOUBLE))
    ELSE CAST(0.7205407583220416 AS DOUBLE) * 1048576.0 * 2251799813685248.0
         / cast(s + (1024 - np) * (1::BIGINT << 51) AS DOUBLE)
    END, 6) AS est_union
  FROM aggu
)
SELECT seg_a, seg_b, ea.est AS est_a, eb.est AS est_b, est_union,
       round(greatest(0.0, ea.est + eb.est - est_union), 6)
         AS overlap_est
FROM estu
JOIN est1 ea ON ea.seg = seg_a
JOIN est1 eb ON eb.seg = seg_b
""",
        "km_survival": """
WITH ev AS (
  SELECT event_type AS metric, user_id AS conv,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, t1 - t0 AS dur,
         (fmax - t1) < 3600000000 AS censored
  FROM ev JOIN fr USING (metric)
), g AS (
  SELECT metric, dur, censored, cast(count(*) AS bigint) AS c
  FROM d GROUP BY 1, 2, 3
), r AS (
  SELECT metric, dur, censored, c,
         cast(sum(c) OVER (PARTITION BY metric ORDER BY dur DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS bigint)
           AS n_risk
  FROM g
), e AS (
  SELECT metric, dur, c AS d, n_risk FROM r WHERE NOT censored
), l AS (
  SELECT metric, dur, d, n_risk,
         CASE WHEN n_risk > d
              THEN cast(round(ln(cast(n_risk - d AS double)
                                 / cast(n_risk AS double))
                              * 1000000.0) AS bigint) END AS lnu
  FROM e
), cm AS (
  SELECT metric, dur, d, n_risk,
         sum(lnu) OVER (PARTITION BY metric ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
  FROM l
)
SELECT metric, dur AS t_us, n_risk, cast(d AS bigint) AS d_events,
       CASE WHEN n_risk > d THEN cast(cum AS bigint) END AS logsurv_u,
       CASE WHEN n_risk = d THEN 0.0
            ELSE round(exp(cast(cum AS double) / 1000000.0), 6)
       END AS surv
FROM cm
""",
        "mann_kendall": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS t_us, cast(event_id AS bigint) AS o,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), p AS (
  SELECT a.metric, a.day_ts, sign(b.c - a.c) AS sg
  FROM pt a JOIN pt b
    ON a.metric = b.metric AND a.day_ts = b.day_ts
   AND (a.t_us < b.t_us OR (a.t_us = b.t_us AND a.o < b.o))
), sg AS (
  SELECT metric, day_ts, cast(sum(sg) AS bigint) AS s_stat
  FROM p GROUP BY 1, 2
), tt AS (
  SELECT metric, day_ts, cast(sum(t) AS bigint) AS n,
         cast(sum(t * (t - 1) * (2 * t + 5)) AS bigint) AS tie_term
  FROM (
    SELECT metric, day_ts, c, cast(count(*) AS bigint) AS t
    FROM pt GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT sg.metric, sg.day_ts, n, s_stat,
       CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term <= 0 THEN NULL
            WHEN s_stat > 0
            THEN round(cast(s_stat - 1 AS double)
                       / sqrt(cast(n * (n - 1) * (2 * n + 5) - tie_term
                                   AS double) / 18.0), 6)
            WHEN s_stat < 0
            THEN round(cast(s_stat + 1 AS double)
                       / sqrt(cast(n * (n - 1) * (2 * n + 5) - tie_term
                                   AS double) / 18.0), 6)
            ELSE 0.0 END AS z
FROM sg JOIN tt USING (metric, day_ts)
WHERE n >= 8
""",
        "changepoint_daily": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts, ts,
         epoch_us(ts) AS t_us, cast(event_id AS bigint) AS o,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), cum AS (
  SELECT metric, day_ts, ts,
         row_number() OVER w AS k,
         sum(c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS sk,
         count(*) OVER (PARTITION BY metric, day_ts) AS n,
         sum(c) OVER (PARTITION BY metric, day_ts) AS sn
  FROM pt
  WINDOW w AS (PARTITION BY metric, day_ts ORDER BY t_us, o)
), cand AS (
  SELECT metric, day_ts, ts, k, sk, n, sn,
         cast(sk AS double) * cast(sk AS double) / cast(k AS double)
         + (cast(sn AS double) - cast(sk AS double))
           * (cast(sn AS double) - cast(sk AS double))
           / (cast(n AS double) - cast(k AS double))
         - cast(sn AS double) * cast(sn AS double) / cast(n AS double)
           AS gain
  FROM cum WHERE n >= 8 AND k < n
), mg AS (
  SELECT *, max(gain) OVER (PARTITION BY metric, day_ts) AS mg FROM cand
), best AS (
  SELECT metric, day_ts,
         arg_min(n, k) AS n, arg_min(ts, k) AS split_ts,
         arg_min(gain, k) AS gain, arg_min(sk, k) AS sk,
         min(k) AS k, arg_min(sn, k) AS sn
  FROM mg WHERE gain = mg GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n AS bigint) AS n, split_ts,
       round(gain / 10000.0, 6) AS gain_ss,
       round(cast(sk AS double) / cast(k AS double) / 100.0, 6)
         AS mean_left,
       round(cast(sn - sk AS double) / cast(n - k AS double) / 100.0, 6)
         AS mean_right
FROM best
""",
        "burst_hours": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(count(*) AS bigint) AS cnt
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, hour_ts, cnt,
         cast(coalesce(sum(cnt) OVER w, 0) AS bigint) AS trail_cnt,
         cast(count(*) OVER w AS bigint) AS n_trail
  FROM h
  WINDOW w AS (PARTITION BY metric ORDER BY epoch_us(hour_ts)
               ROWS BETWEEN 23 PRECEDING AND 1 PRECEDING)
)
SELECT metric, hour_ts, cnt, trail_cnt,
       (n_trail > 0 AND cnt >= 10
        AND cnt * 1 * n_trail > 3 * trail_cnt) AS burst
FROM g
""",
        "theil_sen": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS t_us,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), nd AS (
  SELECT metric, day_ts, cast(count(*) AS bigint) AS n
  FROM pt GROUP BY 1, 2
), p AS (
  SELECT a.metric, a.day_ts,
         cast((b.c - a.c) * 36000000 AS double)
         / cast(b.t_us - a.t_us AS double) AS slope
  FROM pt a JOIN pt b
    ON a.metric = b.metric AND a.day_ts = b.day_ts
   AND a.t_us < b.t_us
), sl AS (
  SELECT metric, day_ts, cast(count(*) AS bigint) AS n_pairs,
         quantile_cont(slope, 0.5) AS med
  FROM p GROUP BY 1, 2
)
SELECT nd.metric, nd.day_ts, n, n_pairs,
       round(med, 6) AS sen_slope_per_hour
FROM nd JOIN sl USING (metric, day_ts)
WHERE n >= 8
""",
        "corr_upsert": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         date_trunc('day', a.hour_ts) AS day_ts, a.y AS ya, b.y AS yb
  FROM h a JOIN h b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, day_ts, count(*) AS n,
         sum(ya) AS sa, sum(yb) AS sb,
         sum(ya * ya) AS saa, sum(yb * yb) AS sbb,
         sum(ya * yb) AS sab
  FROM p GROUP BY 1, 2, 3
)
SELECT metric_a, metric_b, day_ts, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                   AND cast(n * sbb - sb * sb AS double) > 0
             THEN cast(n * sab - sa * sb AS double)
                  / sqrt(cast(n * saa - sa * sa AS double))
                  / sqrt(cast(n * sbb - sb * sb AS double)) END, 6) AS r
FROM g WHERE n >= 4
""",
        "corr_matrix_daily": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         date_trunc('day', a.hour_ts) AS day_ts, a.y AS ya, b.y AS yb
  FROM h a JOIN h b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, day_ts, count(*) AS n,
         sum(ya) AS sa, sum(yb) AS sb,
         sum(ya * ya) AS saa, sum(yb * yb) AS sbb,
         sum(ya * yb) AS sab
  FROM p GROUP BY 1, 2, 3
)
SELECT metric_a, metric_b, day_ts, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                   AND cast(n * sbb - sb * sb AS double) > 0
             THEN cast(n * sab - sa * sb AS double)
                  / sqrt(cast(n * saa - sa * sa AS double))
                  / sqrt(cast(n * sbb - sb * sb AS double)) END, 6) AS r
FROM g WHERE n >= 4
""",
        "granger_gain": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), obs AS (
  SELECT x.metric AS metric_x, yt.metric AS metric_y,
         yt.y AS yt, yl.y AS y1, x.y AS x1
  FROM h yt
  JOIN h yl ON yl.metric = yt.metric
           AND yl.hour_ts + INTERVAL 1 HOUR = yt.hour_ts
  JOIN h x ON x.hour_ts + INTERVAL 1 HOUR = yt.hour_ts
          AND x.metric <> yt.metric
), g AS (
  SELECT metric_x, metric_y, count(*) AS n,
         sum(yt) AS sy, sum(y1) AS s1, sum(x1) AS s2,
         sum(yt * yt) AS syy, sum(y1 * y1) AS s11,
         sum(x1 * x1) AS s22, sum(y1 * yt) AS s1y,
         sum(x1 * yt) AS s2y, sum(y1 * x1) AS s12
  FROM obs GROUP BY 1, 2
), c AS (
  SELECT metric_x, metric_y, n,
         cast(n * syy - sy * sy AS double) AS cyy,
         cast(n * s11 - s1 * s1 AS double) AS c11,
         cast(n * s22 - s2 * s2 AS double) AS c22,
         cast(n * s1y - s1 * sy AS double) AS c1y,
         cast(n * s2y - s2 * sy AS double) AS c2y,
         cast(n * s12 - s1 * s2 AS double) AS c12
  FROM g WHERE n >= 24
)
SELECT metric_x, metric_y, cast(n AS bigint) AS n,
       round(CASE WHEN cyy > 0 AND c11 > 0
             THEN c1y * c1y / (cyy * c11) END, 6) AS r2_restricted,
       round(CASE WHEN cyy > 0 AND c11 * c22 - c12 * c12 > 0
             THEN (c1y * c1y * c22 + c2y * c2y * c11
                   - 2.0 * c1y * c2y * c12)
                  / (cyy * (c11 * c22 - c12 * c12)) END, 6) AS r2_full,
       round((CASE WHEN cyy > 0 AND c11 * c22 - c12 * c12 > 0
             THEN (c1y * c1y * c22 + c2y * c2y * c11
                   - 2.0 * c1y * c2y * c12)
                  / (cyy * (c11 * c22 - c12 * c12)) END)
             - (CASE WHEN cyy > 0 AND c11 > 0
                THEN c1y * c1y / (cyy * c11) END), 6) AS gain
FROM c
""",
        "mutual_info": """
WITH h AS (
  SELECT event_type AS m, date_trunc('hour', ts) AS hh,
         cast(count(*) AS bigint) AS n,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sc
  FROM events GROUP BY 1, 2
), bn AS (
  SELECT m, hh,
         ntile(4) OVER (PARTITION BY m
                        ORDER BY cast(sc AS double) / cast(n AS double),
                                 hh) AS b
  FROM h
), p AS (
  SELECT x.m AS mx, y.m AS my, x.b AS bx, y.b AS byy
  FROM bn x JOIN bn y ON x.hh = y.hh AND x.m < y.m
), joint AS (
  SELECT mx, my, bx, byy, cast(count(*) AS bigint) AS cxy
  FROM p GROUP BY 1, 2, 3, 4
), margx AS (
  SELECT mx, my, bx, cast(count(*) AS bigint) AS cx
  FROM p GROUP BY 1, 2, 3
), margy AS (
  SELECT mx, my, byy, cast(count(*) AS bigint) AS cy
  FROM p GROUP BY 1, 2, 3
), tot AS (
  SELECT mx, my, cast(count(*) AS bigint) AS nn
  FROM p GROUP BY 1, 2
), g AS (
  SELECT j.mx, j.my, t.nn,
         cast(round(cast(j.cxy AS double) / cast(t.nn AS double)
                    * ln(cast(j.cxy * t.nn AS double)
                         / cast(x.cx * y.cy AS double))
                    * 1000000) AS bigint) AS term_u
  FROM joint j
  JOIN margx x ON j.mx = x.mx AND j.my = x.my AND j.bx = x.bx
  JOIN margy y ON j.mx = y.mx AND j.my = y.my AND j.byy = y.byy
  JOIN tot t ON j.mx = t.mx AND j.my = t.my
)
SELECT mx AS metric_x, my AS metric_y,
       cast(max(nn) AS bigint) AS n_hours,
       cast(sum(term_u) AS bigint) AS mi_u,
       round(cast(sum(term_u) AS double) / 1000000.0, 6) AS mi_nats
FROM g GROUP BY 1, 2 HAVING max(nn) >= 24
""",
        "beta_daily": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT x.metric AS metric_x, y.metric AS metric_y,
         date_trunc('day', x.hour_ts) AS day_ts, x.y AS vx, y.y AS vy
  FROM h x JOIN h y
    ON x.hour_ts = y.hour_ts AND x.metric <> y.metric
), g AS (
  SELECT metric_x, metric_y, day_ts, count(*) AS n,
         sum(vx) AS sx, sum(vy) AS sy,
         sum(vx * vx) AS sxx, sum(vx * vy) AS sxy
  FROM p GROUP BY 1, 2, 3
  HAVING count(*) >= 6
)
SELECT metric_x, metric_y, day_ts, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * sxx - sx * sx AS double) > 0
             THEN cast(n * sxy - sx * sy AS double)
                  / cast(n * sxx - sx * sx AS double) END, 6) AS beta,
       round((cast(sy AS double)
              - (CASE WHEN cast(n * sxx - sx * sx AS double) > 0
                 THEN cast(n * sxy - sx * sy AS double)
                      / cast(n * sxx - sx * sx AS double) END)
                * cast(sx AS double))
             / cast(n AS double) / 100.0, 6) AS alpha
FROM g
""",
        "js_drift": """
WITH v AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), edges AS (
  SELECT metric, day_ts,
         quantile_cont(_v, [0.1, 0.2, 0.3, 0.4, 0.5,
                            0.6, 0.7, 0.8, 0.9]) AS e
  FROM v GROUP BY 1, 2
), curb AS (
  SELECT v.metric, v.day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric
   AND ed.day_ts + INTERVAL 1 DAY = v.day_ts
), cur AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_t
  FROM curb GROUP BY 1, 2, 3
), baseb AS (
  SELECT v.metric, v.day_ts + INTERVAL 1 DAY AS day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric AND ed.day_ts = v.day_ts
), base AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_b
  FROM baseb GROUP BY 1, 2, 3
), bb AS (
  SELECT coalesce(cur.metric, base.metric) AS metric,
         coalesce(cur.day_ts, base.day_ts) AS day_ts,
         coalesce(cur.bin, base.bin) AS bin,
         coalesce(c_t, 0) AS c_t, coalesce(c_b, 0) AS c_b
  FROM cur FULL OUTER JOIN base
    ON cur.metric = base.metric AND cur.day_ts = base.day_ts
   AND cur.bin = base.bin
), tot AS (
  SELECT metric, day_ts,
         cast(sum(c_t) AS bigint) AS n_t,
         cast(sum(c_b) AS bigint) AS n_b
  FROM bb GROUP BY 1, 2
), terms AS (
  SELECT b.metric, b.day_ts, n_t, n_b,
         cast(round((
             (CASE WHEN c_t > 0
               THEN cast(c_t AS double) / cast(n_t AS double)
                    * ln(cast(2 * c_t * n_b AS double)
                         / cast(c_t * n_b + c_b * n_t AS double))
               ELSE 0.0 END)
           + (CASE WHEN c_b > 0
               THEN cast(c_b AS double) / cast(n_b AS double)
                    * ln(cast(2 * c_b * n_t AS double)
                         / cast(c_t * n_b + c_b * n_t AS double))
               ELSE 0.0 END)
           ) / 2 * 1000000.0) AS bigint) AS tu
  FROM bb b JOIN tot USING (metric, day_ts)
  WHERE n_t > 0 AND n_b > 0
)
SELECT metric, day_ts, cast(sum(tu) AS bigint) AS js_u,
       max(n_t) AS n_today, max(n_b) AS n_base,
       round(cast(sum(tu) AS double) / 1000000.0, 6) AS js_nats
FROM terms GROUP BY 1, 2
""",
        "gini_daily": """
WITH pa AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS bucket_ts,
         user_id AS actor, cast(count(*) AS bigint) AS c
  FROM events GROUP BY 1, 2, 3
), r AS (
  SELECT metric, bucket_ts, c,
         cast(row_number() OVER (PARTITION BY metric, bucket_ts
                                 ORDER BY c, actor) AS bigint) AS i
  FROM pa
), g AS (
  SELECT metric, bucket_ts, cast(count(*) AS bigint) AS n,
         cast(sum(c) AS bigint) AS s,
         cast(sum(i * c) AS bigint) AS si
  FROM r GROUP BY 1, 2
)
SELECT metric, bucket_ts, n AS n_actors, s AS n_events,
       round(cast(2 * si - (n + 1) * s AS double)
             / cast(n * s AS double), 6) AS gini
FROM g
""",
        "lead_lag": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), lx AS (
  SELECT x.metric AS mx, x.y AS vx, l.lag_h,
         epoch_us(x.hour_ts) + l.lag_h * 3600000000 AS hj
  FROM h x CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3])
                       AS lag_h) l
), p AS (
  SELECT lx.mx, y.metric AS my, lx.lag_h, lx.vx, y.y AS vy
  FROM lx JOIN h y ON epoch_us(y.hour_ts) = lx.hj
  WHERE lx.mx < y.metric
), g AS (
  SELECT mx, my, lag_h, count(*) AS n,
         sum(vx) AS sx, sum(vy) AS sy,
         sum(vx * vx) AS sxx, sum(vy * vy) AS syy,
         sum(vx * vy) AS sxy
  FROM p GROUP BY 1, 2, 3
  HAVING count(*) >= 24
), r AS (
  SELECT mx, my, lag_h, cast(n AS bigint) AS n,
         round(cast(n * sxy - sx * sy AS double)
               / sqrt(cast(n * sxx - sx * sx AS double))
               / sqrt(cast(n * syy - sy * sy AS double)), 6) AS r
  FROM g
  WHERE cast(n * sxx - sx * sx AS double) > 0
    AND cast(n * syy - sy * sy AS double) > 0
), k AS (
  SELECT mx, my, lag_h, n, r,
         cast(round(abs(r) * 1000000) AS bigint) * 10000
         + (3 - abs(lag_h)) * 100 + (3 - lag_h) AS _k
  FROM r WHERE r IS NOT NULL
)
SELECT mx AS metric_x, my AS metric_y,
       cast(arg_max(lag_h, _k) AS int) AS best_lag_h,
       arg_max(n, _k) AS n, arg_max(r, _k) AS r
FROM k GROUP BY 1, 2
""",
        "error_wilson": """
WITH g AS (
  SELECT date_trunc('day', ts) AS bucket_ts,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS bigint) AS x
  FROM events GROUP BY 1
)
SELECT bucket_ts, n, x,
       round(cast(x AS double) / cast(n AS double), 6) AS p,
       round(greatest(0.0,
         (cast(x AS double) / cast(n AS double)
          + (1.959963984540054 * 1.959963984540054)
            / (2 * cast(n AS double)))
         / (1.0 + (1.959963984540054 * 1.959963984540054)
                  / cast(n AS double))
         - 1.959963984540054
           * sqrt(cast(x AS double) / cast(n AS double)
                  * (1.0 - cast(x AS double) / cast(n AS double))
                  / cast(n AS double)
                  + (1.959963984540054 * 1.959963984540054)
                    / (4 * cast(n AS double) * cast(n AS double)))
           / (1.0 + (1.959963984540054 * 1.959963984540054)
                    / cast(n AS double))), 6) AS ci_lo,
       round(least(1.0,
         (cast(x AS double) / cast(n AS double)
          + (1.959963984540054 * 1.959963984540054)
            / (2 * cast(n AS double)))
         / (1.0 + (1.959963984540054 * 1.959963984540054)
                  / cast(n AS double))
         + 1.959963984540054
           * sqrt(cast(x AS double) / cast(n AS double)
                  * (1.0 - cast(x AS double) / cast(n AS double))
                  / cast(n AS double)
                  + (1.959963984540054 * 1.959963984540054)
                    / (4 * cast(n AS double) * cast(n AS double)))
           / (1.0 + (1.959963984540054 * 1.959963984540054)
                    / cast(n AS double))), 6) AS ci_hi
FROM g
""",
        "dow_anova": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pg AS (
  SELECT metric, dayofweek(hour_ts) AS dow,
         cast(count(*) AS bigint) AS ng,
         cast(sum(y) AS bigint) AS sg,
         cast(sum(y * y) AS hugeint) AS sxxg
  FROM h GROUP BY 1, 2
), tg AS (
  SELECT metric, ng, sg, sxxg,
         cast(round(cast(cast(sg AS hugeint) * sg AS double)
                    / cast(ng AS double)) AS bigint) AS t
  FROM pg
), tot AS (
  SELECT metric, cast(sum(ng) AS bigint) AS n,
         cast(count(*) AS bigint) AS k,
         cast(sum(sg) AS bigint) AS s,
         cast(sum(sxxg) AS bigint) AS sxx,
         cast(sum(t) AS bigint) AS sum_tg
  FROM tg GROUP BY 1
), g AS (
  SELECT metric, n AS n_obs, k AS k_groups,
         sum_tg - cast(round(cast(cast(s AS hugeint) * s AS double)
                             / cast(n AS double)) AS bigint) AS ssb_u,
         sxx - sum_tg AS ssw_u
  FROM tot
)
SELECT metric, n_obs, k_groups,
       cast(ssb_u AS bigint) AS ssb_u, cast(ssw_u AS bigint) AS ssw_u,
       round(CASE WHEN k_groups >= 2 AND n_obs > k_groups
                   AND ssw_u > 0
             THEN (cast(ssb_u AS double) / cast(k_groups - 1 AS double))
                  / (cast(ssw_u AS double)
                     / cast(n_obs - k_groups AS double)) END, 6) AS f_stat
FROM g
""",
        "trimmed_mean": """
WITH v AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS bucket_ts,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), r AS (
  SELECT metric, bucket_ts, _v,
         cast(row_number() OVER (PARTITION BY metric, bucket_ts
                                 ORDER BY _v) AS bigint) AS i,
         cast(count(*) OVER (PARTITION BY metric, bucket_ts)
              AS bigint) AS n
  FROM v
), kept AS (
  SELECT metric, bucket_ts, _v, n
  FROM r
  WHERE i > cast(floor(n * 0.1) AS bigint)
    AND i <= n - cast(floor(n * 0.1) AS bigint)
)
SELECT metric, bucket_ts, max(n) AS n,
       cast(count(*) AS bigint) AS n_kept,
       round(cast(sum(_v) AS double) / cast(count(*) AS double)
             / 100.0, 6) AS mean_trimmed
FROM kept GROUP BY 1, 2
""",
        "peak_census": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS double)
           / cast(count(*) AS double) AS m
  FROM events GROUP BY 1, 2
), x AS (
  SELECT metric, hour_ts, m,
         lag(m) OVER w AS lo, lead(m) OVER w AS hi
  FROM h
  WINDOW w AS (PARTITION BY metric, date_trunc('day', hour_ts)
               ORDER BY hour_ts)
)
SELECT metric, hour_ts AS peak_ts,
       round(m / 100.0, 6) AS mean_v,
       round((m - greatest(lo, hi)) / 100.0, 6) AS drop
FROM x
WHERE lo IS NOT NULL AND hi IS NOT NULL AND m > lo AND m > hi
""",
        "vocab_growth": """
WITH tk AS (
  SELECT DISTINCT cast(floor(doc_id / 100) AS bigint) AS batch_id,
         tok
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> ''
), pb AS (
  SELECT batch_id, cast(count(*) AS bigint) AS batch_vocab
  FROM tk GROUP BY 1
), fs AS (
  SELECT tok, min(batch_id) AS batch_id FROM tk GROUP BY 1
), np AS (
  SELECT batch_id, cast(count(*) AS bigint) AS new_tokens
  FROM fs GROUP BY 1
), nd AS (
  SELECT cast(floor(doc_id / 100) AS bigint) AS batch_id,
         cast(count(*) AS bigint) AS n_docs
  FROM documents GROUP BY 1
)
SELECT nd.batch_id, n_docs,
       coalesce(batch_vocab, 0) AS batch_vocab,
       coalesce(new_tokens, 0) AS new_tokens,
       cast(sum(coalesce(new_tokens, 0))
            OVER (ORDER BY nd.batch_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS bigint) AS cum_vocab
FROM nd LEFT JOIN pb USING (batch_id) LEFT JOIN np USING (batch_id)
""",
        "na_hazard": """
WITH ev AS (
  SELECT event_type AS metric, user_id AS conv,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, t1 - t0 AS dur,
         (fmax - t1) < 3600000000 AS censored
  FROM ev JOIN fr USING (metric)
), g AS (
  SELECT metric, dur, censored, cast(count(*) AS bigint) AS c
  FROM d GROUP BY 1, 2, 3
), r AS (
  SELECT metric, dur, censored, c,
         cast(sum(c) OVER (PARTITION BY metric ORDER BY dur DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS bigint)
           AS n_risk
  FROM g
), e AS (
  SELECT metric, dur, c AS d, n_risk FROM r WHERE NOT censored
), l AS (
  SELECT metric, dur, d, n_risk,
         cast(round(cast(d AS double) / cast(n_risk AS double)
                    * 1000000.0) AS bigint) AS iu
  FROM e
), cm AS (
  SELECT metric, dur, d, n_risk,
         sum(iu) OVER (PARTITION BY metric ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
  FROM l
)
SELECT metric, dur AS t_us, n_risk, cast(d AS bigint) AS d_events,
       cast(cum AS bigint) AS cumhaz_u,
       round(cast(cum AS double) / 1000000.0, 6) AS cumhaz
FROM cm
""",
        "ks_drift": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), u AS (
  SELECT metric, day_ts, c, 1 AS is_b FROM pt
  UNION ALL
  SELECT metric, day_ts + INTERVAL 1 DAY, c, 0 FROM pt
), e AS (
  SELECT metric, day_ts,
         sum(1 - is_b) OVER wv AS cum_a,
         sum(is_b) OVER wv AS cum_b,
         sum(1 - is_b) OVER wa AS n_a,
         sum(is_b) OVER wa AS n_b
  FROM u
  WINDOW wv AS (PARTITION BY metric, day_ts ORDER BY c
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY metric, day_ts)
), g AS (
  SELECT metric, day_ts,
         max(abs(cum_a * n_b - cum_b * n_a)) AS d_num,
         max(n_a) AS n_prev, max(n_b) AS n_cur
  FROM e GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n_prev AS bigint) AS n_prev,
       cast(n_cur AS bigint) AS n_cur, cast(d_num AS bigint) AS d_num,
       round(cast(d_num AS double)
             / cast(n_prev * n_cur AS double), 6) AS d_stat
FROM g WHERE n_prev >= 8 AND n_cur >= 8
""",
        "entropy_daily": """
WITH cnt AS (
  SELECT date_trunc('day', ts) AS day_ts, event_type AS cat,
         cast(count(*) AS bigint) AS c
  FROM events GROUP BY 1, 2
), g AS (
  SELECT day_ts, cast(sum(c) AS bigint) AS n,
         cast(count(*) AS bigint) AS n_types,
         cast(sum(cast(round(cast(c AS double)
                             * ln(cast(c AS double))
                             * 1000000) AS bigint)) AS bigint) AS sum_u
  FROM cnt GROUP BY 1
)
SELECT day_ts, n, n_types,
       round(ln(cast(n AS double))
             - cast(sum_u AS double) / 1000000.0 / cast(n AS double), 6)
         AS entropy_nats
FROM g
""",
        "benford": """
WITH d AS (
  SELECT event_type AS metric,
         cast(substr(cast(cast(round(abs(value) * 100) AS bigint)
                          AS varchar), 1, 1) AS int) AS d
  FROM events
  WHERE cast(round(abs(value) * 100) AS bigint) > 0
), tot AS (
  SELECT metric, cast(count(*) AS bigint) AS n FROM d GROUP BY 1
), obs AS (
  SELECT metric, d, cast(count(*) AS bigint) AS o FROM d GROUP BY 1, 2
), dig AS (
  SELECT * FROM (VALUES
    (1, 0.3010299956639812), (2, 0.17609125905568124),
    (3, 0.12493873660829992), (4, 0.09691001300805642),
    (5, 0.07918124604762482), (6, 0.06694678963061322),
    (7, 0.05799194697768673), (8, 0.05115252244738129),
    (9, 0.04575749056067514)) AS t(d, p)
), grid AS (
  SELECT tot.metric, tot.n, dig.d, dig.p,
         coalesce(obs.o, 0) AS o
  FROM tot CROSS JOIN dig
  LEFT JOIN obs ON obs.metric = tot.metric AND obs.d = dig.d
)
SELECT metric, n,
       round(cast(sum(cast(round(
           (cast(o AS double) - cast(n AS double) * p)
           * (cast(o AS double) - cast(n AS double) * p)
           / (cast(n AS double) * p) * 1000000) AS bigint))
         AS bigint) / 1000000.0, 6) AS chi2
FROM grid GROUP BY 1, 2 HAVING n >= 50
""",
        "hybrid_search": f"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), dl AS (
  SELECT doc_id, cast(len(t) AS bigint) AS dl FROM tok
), g AS (
  SELECT cast(count(*) AS bigint) AS n_docs,
         cast(sum(dl) AS bigint) AS sum_dl
  FROM dl
), tf AS (
  SELECT doc_id, tok AS term, cast(count(*) AS bigint) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM tok)
  WHERE tok IN ({", ".join("'" + t + "'" for t in BM25_TERMS)})
  GROUP BY 1, 2
), dfq AS (
  SELECT term, cast(count(*) AS bigint) AS df FROM tf GROUP BY 1
), sc AS (
  SELECT tf.doc_id,
         cast(round(
           ln(1.0 + (cast(n_docs - df AS double) + 0.5)
                    / (cast(df AS double) + 0.5))
           * ((cast(tf AS double) * 2.2)
              / (cast(tf AS double)
                 + 1.2 * (0.25 + 0.75 * (cast(dl AS double)
                          / (cast(sum_dl AS double)
                             / cast(n_docs AS double))))))
           * 1000000.0) AS bigint) AS cu
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
), lexs AS (
  SELECT doc_id, cast(sum(cu) AS bigint) AS score_u FROM sc GROUP BY 1
), lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_u DESC, doc_id ASC) AS rank_lex
  FROM lexs
  QUALIFY rank_lex <= 50
), {_UV_CTE.strip()}, sem AS (
  SELECT nid AS doc_id, rank AS rank_sem FROM (
    SELECT c.vec_id AS nid,
           row_number() OVER (
             ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                      c.vec_id) AS rank
    FROM uv q JOIN uv c ON c.vec_id <> q.vec_id
    WHERE q.vec_id = 0
  ) WHERE rank <= 50
), fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         cast(coalesce(rank_lex, 0) AS int) AS rank_lex,
         cast(coalesce(rank_sem, 0) AS int) AS rank_sem,
         (CASE WHEN rank_lex IS NOT NULL
               THEN cast(round(1000000000.0
                    / cast(60 + rank_lex AS double)) AS bigint)
               ELSE 0 END
        + CASE WHEN rank_sem IS NOT NULL
               THEN cast(round(1000000000.0
                    / cast(60 + rank_sem AS double)) AS bigint)
               ELSE 0 END) AS rrf_u
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, cast(rrf_u AS bigint) AS rrf_u
FROM fused ORDER BY rrf_u DESC, doc_id ASC LIMIT 20
""",
        "trigram_paths": """
WITH d AS (
  SELECT lag(event_type, 2) OVER w AS e1,
         lag(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT e1, e2, e3, cast(count(*) AS bigint) AS n
FROM d WHERE e1 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3 LIMIT 50
""",
        "sliding_quota": """
WITH d AS (
  SELECT user_id, ts,
         cast(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
           AS bigint) AS win_cnt
  FROM events
)
SELECT user_id,
       cast(max(win_cnt) AS bigint) AS peak_1h,
       min(CASE WHEN win_cnt > 20 THEN ts END) AS first_breach_ts,
       (max(win_cnt) > 20) AS breached
FROM d GROUP BY 1
""",
        "quantile_transform": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts, ts,
         cast(event_id AS int) AS turn_idx, value,
         cast(round(value * 100) AS bigint) AS c
  FROM events
)
SELECT metric, day_ts, ts, turn_idx, value,
       round(percent_rank() OVER (PARTITION BY metric, day_ts
                                  ORDER BY c), 6) AS q
FROM pt
""",
        "assoc_rules": """
WITH ev AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day_ts,
         event_type AS item
  FROM events
), tot AS (
  SELECT cast(count(*) AS bigint) AS n_baskets
  FROM (SELECT DISTINCT user_id, day_ts FROM ev)
), it AS (
  SELECT item, cast(count(*) AS bigint) AS n_item FROM ev GROUP BY 1
), p AS (
  SELECT a.item AS a, b.item AS b, cast(count(*) AS bigint) AS n_ab
  FROM ev a JOIN ev b
    ON a.user_id = b.user_id AND a.day_ts = b.day_ts
   AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.a, p.b, n_ab,
       round(cast(n_ab AS double) / cast(n_baskets AS double), 6)
         AS support,
       round(cast(n_ab AS double) / cast(na.n_item AS double), 6)
         AS conf_a_to_b,
       round(cast(n_ab AS double) / cast(nb.n_item AS double), 6)
         AS conf_b_to_a,
       round(cast(n_ab AS double) * cast(n_baskets AS double)
             / cast(na.n_item * nb.n_item AS double), 6) AS lift
FROM p JOIN it na ON na.item = p.a JOIN it nb ON nb.item = p.b
CROSS JOIN tot
""",
        "bigram_surprisal": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), tk AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
  FROM tok
), bg0 AS (
  SELECT doc_id,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS a,
         tok AS b
  FROM tk
), bg AS (
  SELECT doc_id, a, b FROM bg0 WHERE a IS NOT NULL
), pair_n AS (
  SELECT a, b, cast(count(*) AS bigint) AS c_ab FROM bg GROUP BY 1, 2
), hist_n AS (
  SELECT a, cast(count(*) AS bigint) AS c_a FROM bg GROUP BY 1
), voc AS (
  SELECT cast(count(DISTINCT tok) AS bigint) AS v FROM tk
), pb AS (
  SELECT doc_id,
         cast(round(ln(cast(c_a + v AS double)
                       / cast(c_ab + 1 AS double))
                    * 1000000.0) AS bigint) AS su
  FROM bg JOIN pair_n USING (a, b) JOIN hist_n USING (a) CROSS JOIN voc
)
SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
       cast(floor(cast(sum(su) AS double) / cast(count(*) AS double))
            AS bigint) AS surprisal2_u
FROM pb GROUP BY 1
""",
        "activity_islands": """
WITH sp AS (
  SELECT user_id, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS s_us, epoch_us(ts) + 300000000 AS e_us
  FROM events
), f AS (
  SELECT user_id, day_ts, s_us, e_us,
         CASE WHEN s_us > coalesce(
                max(e_us) OVER (
                  PARTITION BY user_id, day_ts ORDER BY s_us, e_us
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -9223372036854775808)
              THEN 1 ELSE 0 END AS nw
  FROM sp
), isl AS (
  SELECT user_id, day_ts, s_us, e_us,
         sum(nw) OVER (
           PARTITION BY user_id, day_ts ORDER BY s_us, e_us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
), pi AS (
  SELECT user_id, day_ts, island,
         min(s_us) AS s0, max(e_us) AS e1,
         cast(count(*) AS bigint) AS n
  FROM isl GROUP BY 1, 2, 3
)
SELECT user_id, day_ts,
       cast(sum(n) AS bigint) AS n_spans,
       cast(count(*) AS bigint) AS n_islands,
       cast(sum(e1 - s0) AS bigint) AS covered_us,
       cast(max(e1 - s0) AS bigint) AS longest_us
FROM pi GROUP BY 1, 2
""",
        "rfm_features": """
WITH ref AS (
  SELECT max(o_orderdate) AS _ref FROM orders
), base AS (
  SELECT o_custkey AS custkey,
         cast(date_diff('day', max(o_orderdate),
                        (SELECT _ref FROM ref)) AS bigint)
           AS recency_days,
         cast(count(*) AS bigint) AS frequency,
         cast(sum(cast(round(o_totalprice * 100) AS bigint)) AS bigint)
           AS monetary_c
  FROM orders GROUP BY 1
), t AS (
  SELECT *,
         ntile(5) OVER (ORDER BY recency_days, custkey) AS rt,
         ntile(5) OVER (ORDER BY frequency DESC, custkey) AS ft,
         ntile(5) OVER (ORDER BY monetary_c DESC, custkey) AS mt
  FROM base
)
SELECT custkey, recency_days, frequency, monetary_c,
       cast(6 - rt AS int) AS r_score,
       cast(6 - ft AS int) AS f_score,
       cast(6 - mt AS int) AS m_score,
       cast((6 - rt) * 100 + (6 - ft) * 10 + (6 - mt) AS int) AS rfm_code
FROM t
""",
        "seasonal_mad": """
WITH s AS (
  SELECT event_type AS metric,
         cast(dayofweek(ts) + 1 AS int) AS dow,
         cast(hour(ts) AS int) AS hod,
         ts, event_id AS turn_idx, value,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), med AS (
  SELECT metric, dow, hod, quantile_cont(_v, 0.5) AS _med
  FROM s GROUP BY 1, 2, 3
), d AS (
  SELECT s.*, _med, abs(_v - _med) AS _dev
  FROM s JOIN med USING (metric, dow, hod)
), mad AS (
  SELECT metric, dow, hod, quantile_cont(_dev, 0.5) AS _mad
  FROM d GROUP BY 1, 2, 3
)
SELECT metric, dow, hod, ts, turn_idx, value,
       round(_med / 100, 6) AS med,
       round(_mad / 100, 6) AS mad,
       round(CASE WHEN _mad > 0 THEN _dev / _mad END, 6) AS score
FROM d JOIN mad USING (metric, dow, hod)
WHERE _dev > 3.0 * _mad
""",
        "hll_rolling_7d": """
WITH e AS (
  SELECT event_type, date_trunc('day', ts) AS day_ts,
         cast(user_id AS varchar) AS item, user_id
  FROM events
), h AS (
  SELECT event_type, day_ts, user_id,
         ('0x' || substr(md5(item), 1, 15))::BIGINT AS hv
  FROM e
), r0 AS (
  SELECT event_type, day_ts,
         hv >> 50 AS reg,
         CASE WHEN (hv & 1125899906842623) = 0 THEN 51
              ELSE 51 - length(bin(hv & 1125899906842623)) END AS rho
  FROM h
), rd AS (
  SELECT event_type, day_ts, reg, max(rho) AS rho
  FROM r0 GROUP BY 1, 2, 3
), days AS (
  SELECT DISTINCT event_type, day_ts FROM e
), tgt AS (
  SELECT event_type,
         unnest(generate_series(day_ts, day_ts + INTERVAL 6 DAY,
                                INTERVAL 1 DAY)) AS bucket_ts,
         reg, rho
  FROM rd
), rw AS (
  SELECT t.event_type, t.bucket_ts, t.reg, max(t.rho) AS rho
  FROM tgt t JOIN days d
    ON d.event_type = t.event_type AND d.day_ts = t.bucket_ts
  GROUP BY 1, 2, 3
), agg AS (
  SELECT event_type, bucket_ts,
         cast(sum(1::BIGINT << (51 - rho)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM rw GROUP BY 1, 2
), est AS (
  SELECT event_type, bucket_ts,
         1024 - n_present AS v,
         CAST(0.7205407583220416 AS DOUBLE) * 1048576.0
           * 2251799813685248.0
           / cast(s_present
                  + (1024 - n_present) * (1::BIGINT << 51) AS DOUBLE)
           AS e_raw
  FROM agg
), fin AS (
  SELECT event_type, bucket_ts,
         CASE WHEN e_raw <= 2560.0 AND v > 0
              THEN 1024.0 * ln(1024.0 / cast(v AS DOUBLE))
              ELSE e_raw END AS est
  FROM est
), etgt AS (
  SELECT event_type, user_id,
         unnest(generate_series(day_ts, day_ts + INTERVAL 6 DAY,
                                INTERVAL 1 DAY)) AS bucket_ts
  FROM e
), ex AS (
  SELECT t.event_type, t.bucket_ts,
         count(DISTINCT t.user_id) AS exact_distinct7
  FROM etgt t JOIN days d
    ON d.event_type = t.event_type AND d.day_ts = t.bucket_ts
  GROUP BY 1, 2
)
SELECT fin.event_type, fin.bucket_ts, exact_distinct7,
       round(est, 6) AS hll_est7,
       round((round(est, 6) - exact_distinct7) * 100.0
             / exact_distinct7, 6) AS rel_err_pct
FROM fin JOIN ex USING (event_type, bucket_ts)
""",
        "scd2_state": """
WITH s AS (
  SELECT user_id, ts, event_id, event_type AS state FROM events
), f AS (
  SELECT user_id, ts, event_id, state,
         CASE WHEN row_number() OVER w = 1
                   OR state IS DISTINCT FROM lag(state) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM s
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), v AS (
  SELECT user_id, ts, state,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS _ver
  FROM f
), runs AS (
  SELECT user_id, _ver, state, min(ts) AS valid_from,
         cast(count(*) AS bigint) AS n_rows
  FROM v GROUP BY 1, 2, 3
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_rows
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY _ver)
""",
        "weighted_sample": """
WITH d AS (
  SELECT lang, doc_id, n_chars,
         ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))::BIGINT
           AS h
  FROM documents WHERE n_chars > 0
), k AS (
  SELECT lang, doc_id,
         cast(round(ln(cast(h + 1 AS double) / 1152921504606846977.0)
                    / cast(n_chars AS double) * 1e9) AS bigint)
           AS es_key_n
  FROM d
), r AS (
  SELECT lang, doc_id, es_key_n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY es_key_n DESC, doc_id) AS rk
  FROM k
)
SELECT lang, doc_id, cast(rk AS int) AS draw_rank, es_key_n
FROM r WHERE rk <= 20
""",
        "seq_packing": """
WITH d AS (
  SELECT source AS grp, doc_id,
         len(regexp_split_to_array(lower(text), '\\s+')) AS nt
  FROM documents
), o AS (
  SELECT grp, doc_id, nt,
         cast(floor(coalesce(sum(nt) OVER (
             PARTITION BY grp ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 2048.0) AS bigint) AS pack_id
  FROM d
)
SELECT grp, pack_id, cast(count(*) AS bigint) AS n_docs,
       cast(sum(nt) AS bigint) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM o GROUP BY 1, 2
""",
        "psi_daily": """
WITH v AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), edges AS (
  SELECT metric, day_ts,
         quantile_cont(_v, [0.1, 0.2, 0.3, 0.4, 0.5,
                            0.6, 0.7, 0.8, 0.9]) AS e
  FROM v GROUP BY 1, 2
), curb AS (
  SELECT v.metric, v.day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric
   AND ed.day_ts + INTERVAL 1 DAY = v.day_ts
), cur AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_t
  FROM curb GROUP BY 1, 2, 3
), baseb AS (
  SELECT v.metric, v.day_ts + INTERVAL 1 DAY AS day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric AND ed.day_ts = v.day_ts
), base AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_b
  FROM baseb GROUP BY 1, 2, 3
), bb AS (
  SELECT coalesce(cur.metric, base.metric) AS metric,
         coalesce(cur.day_ts, base.day_ts) AS day_ts,
         coalesce(cur.bin, base.bin) AS bin,
         coalesce(c_t, 0) AS c_t, coalesce(c_b, 0) AS c_b
  FROM cur FULL OUTER JOIN base
    ON cur.metric = base.metric AND cur.day_ts = base.day_ts
   AND cur.bin = base.bin
), tot AS (
  SELECT metric, day_ts,
         cast(sum(c_t) AS bigint) AS n_t,
         cast(sum(c_b) AS bigint) AS n_b
  FROM bb GROUP BY 1, 2
), terms AS (
  SELECT b.metric, b.day_ts, n_t, n_b,
         cast(round((
             (c_t + 1) / cast(n_t + 10 AS double)
             - (c_b + 1) / cast(n_b + 10 AS double)
           ) * ln(cast((c_t + 1) * (n_b + 10) AS double)
                  / cast((c_b + 1) * (n_t + 10) AS double))
           * 1000000.0) AS bigint) AS tu
  FROM bb b JOIN tot USING (metric, day_ts)
  WHERE n_t > 0 AND n_b > 0
)
SELECT metric, day_ts, cast(sum(tu) AS bigint) AS psi_u,
       max(n_t) AS n_today, max(n_b) AS n_base
FROM terms GROUP BY 1, 2
""",
        "dedup_canonical": """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter_n * 5 >= sa.sz + sb.sz - inter_n
), sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
), lbl AS (
  SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY 1
), alld AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(lbl.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN lbl USING (doc_id)
)
SELECT doc_id, cluster, n_chars,
       row_number() OVER (PARTITION BY cluster
                          ORDER BY n_chars DESC, doc_id) = 1 AS keep
FROM alld
""",
        "funnel_timed": """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t1
  FROM events WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > t1
    AND epoch_us(e.ts) <= t1 + 21600000000
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > t2
    AND epoch_us(e.ts) <= t2 + 21600000000
  GROUP BY 1
)
SELECT s1.user_id,
       cast(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS int)
         AS stage_reached,
       round((t2 - t1) / 1e6, 6) AS lag12_s,
       round((t3 - t2) / 1e6, 6) AS lag23_s
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""",
        "dedup_triangles": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
), edges AS (
  SELECT id_a AS a, id_b AS b FROM inter
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
  WHERE inter_n * 5 >= sa.sz + sb.sz - inter_n
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, cast(count(*) AS bigint) AS n_triangles
FROM corners GROUP BY 1
""",
            "dq_report": """
WITH agg AS (
  SELECT cast(count(*) AS bigint) AS total,
         cast(count(ts) AS bigint) AS c0,
         cast(count(user_id) AS bigint) AS c1,
         cast(count(props) AS bigint) AS c2,
         cast(count(DISTINCT event_id) AS bigint) AS c3,
         cast(sum(CASE WHEN value IS NOT NULL
                        AND value >= -1000000000.0
                        AND value <= 1000000000.0
                   THEN 1 ELSE 0 END) AS bigint) AS c4,
         cast(sum(CASE WHEN event_type IN
                       ('signup','click','purchase','view','error',
                        'api_call')
                   THEN 1 ELSE 0 END) AS bigint) AS c5,
         cast(sum(CASE WHEN props IS NOT NULL
                        AND regexp_matches(props, '^\\{')
                   THEN 1 ELSE 0 END) AS bigint) AS c6
  FROM events
), checks(check_name, col_name, observed, expected_ppm) AS (
  SELECT 'not_null:ts', 'ts', c0, 1000000 FROM agg
  UNION ALL SELECT 'not_null:user_id', 'user_id', c1, 1000000 FROM agg
  UNION ALL SELECT 'not_null:props', 'props', c2, 500000 FROM agg
  UNION ALL SELECT 'unique:event_id', 'event_id', c3, 1000000 FROM agg
  UNION ALL SELECT 'range:value', 'value', c4, 1000000 FROM agg
  UNION ALL SELECT 'in_set:event_type', 'event_type', c5, 1000000 FROM agg
  UNION ALL SELECT 'matches:props', 'props', c6, 1000000 FROM agg
), base AS (
  SELECT check_name AS "check", col_name AS col, observed,
         (SELECT total FROM agg) AS total, expected_ppm
  FROM checks
), ref AS (
  SELECT 'ref:user_id' AS "check", 'user_id' AS col,
         cast((SELECT count(*) FROM events e
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = e.user_id))
              AS bigint) AS observed,
         (SELECT total FROM agg) AS total,
         0 AS expected_ppm
)
SELECT "check", col, observed, total,
       round(cast(observed AS double) / cast(total AS double), 6) AS frac,
       round(cast(expected_ppm AS double) / 1e6, 6) AS expected_frac,
       CASE WHEN "check" = 'ref:user_id' THEN observed = 0
            ELSE observed * 1000000 >= expected_ppm * total END AS passed
FROM (SELECT * FROM base UNION ALL SELECT * FROM ref)
""",
        "ab_readout": """
WITH pu AS (
  SELECT user_id AS unit,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY 1
), asg AS (
  SELECT unit, converted,
         CASE WHEN ('0x' || substr(md5(cast(unit AS varchar)), 1, 4))
                     ::BIGINT < 32768
              THEN 'B' ELSE 'A' END AS arm
  FROM pu
), arms AS (
  SELECT arm, cast(count(*) AS bigint) AS n,
         cast(sum(converted) AS bigint) AS x
  FROM asg GROUP BY 1
), a AS (SELECT n AS n_a, x AS x_a FROM arms WHERE arm = 'A'),
   b AS (SELECT n AS n_b, x AS x_b FROM arms WHERE arm = 'B'),
   j AS (SELECT * FROM a CROSS JOIN b),
   m AS (
  SELECT *,
         cast(x_a AS double) / cast(n_a AS double) AS pa,
         cast(x_b AS double) / cast(n_b AS double) AS pb,
         cast(x_a + x_b AS double) / cast(n_a + n_b AS double) AS pool
  FROM j
), m2 AS (
  SELECT *,
         sqrt(pool * (1.0 - pool)
              * (1.0 / cast(n_a AS double)
                 + 1.0 / cast(n_b AS double))) AS sev
  FROM m
)
SELECT n_a, x_a, n_b, x_b,
       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
       round(pb - pa, 6) AS lift, round(sev, 6) AS se,
       round(CASE WHEN sev > 0 THEN (pb - pa) / sev END, 6) AS z
FROM m2
""",
        "stl_lite": f"""
WITH {_STL_CTES}
SELECT metric, bucket_ts, mean_v, trend, seasonal, resid FROM stl
""",
        "trailing_active_24h": """
WITH p AS (
  SELECT DISTINCT event_type AS metric, user_id,
         date_trunc('hour', ts) AS h
  FROM events
), mx AS (
  SELECT max(date_trunc('hour', ts)) AS mh FROM events
), e AS (
  SELECT metric, user_id,
         unnest(generate_series(
           h, least(h + INTERVAL 23 HOUR, (SELECT mh FROM mx)),
           INTERVAL 1 HOUR)) AS bucket_ts
  FROM p
)
SELECT metric, bucket_ts,
       cast(count(DISTINCT user_id) AS bigint) AS n_active
FROM e GROUP BY 1, 2
""",
        "burstiness_daily": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, event_id AS turn_idx
  FROM events
), g AS (
  SELECT metric, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY conv_id, metric
           ORDER BY epoch_us(ts), turn_idx) AS gap_us
  FROM s
), a AS (
  SELECT metric, day_ts, cast(count(*) AS bigint) AS n_gaps,
         cast(sum(gap_us) AS hugeint) AS sg,
         sum(cast(gap_us AS hugeint) * gap_us) AS sgg
  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2
), m AS (
  SELECT metric, day_ts, n_gaps,
         cast(sg AS double) / cast(n_gaps AS double) AS mu,
         sqrt(cast(n_gaps * sgg - sg * sg AS double)
              / cast(n_gaps * n_gaps AS double)) AS sigma
  FROM a
)
SELECT metric, day_ts, n_gaps,
       round(mu / 1e6, 6) AS mean_gap_s,
       CASE WHEN sigma + mu > 0
            THEN round((sigma - mu) / (sigma + mu), 6) END AS burstiness,
       CASE WHEN mu > 0 THEN round(sigma / mu, 6) END AS cv
FROM m
""",
        "weighted_median": """
WITH conv AS (
  SELECT event_type AS metric, cast(user_id AS varchar) AS conv_id,
         cast(count(*) AS bigint) AS w,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sc
  FROM events GROUP BY 1, 2
), m AS (
  SELECT metric, conv_id, w,
         cast(sc AS double) / cast(w * 100 AS double) AS mean_v
  FROM conv
), r AS (
  SELECT metric, conv_id, mean_v, w,
         cast(sum(w) OVER (PARTITION BY metric ORDER BY mean_v, conv_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS bigint) AS cumw,
         cast(sum(w) OVER (PARTITION BY metric) AS bigint) AS total_w,
         cast(count(*) OVER (PARTITION BY metric) AS bigint) AS n_items,
         row_number() OVER (PARTITION BY metric
                            ORDER BY mean_v, conv_id) AS rn
  FROM m
), h AS (
  SELECT metric, n_items, total_w, mean_v,
         row_number() OVER (PARTITION BY metric ORDER BY rn) AS pick
  FROM r WHERE 2 * cumw >= total_w
)
SELECT metric, n_items, total_w, round(mean_v, 6) AS w_median
FROM h WHERE pick = 1
""",
        "sax_motifs": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(extract(hour FROM ts) AS int) // 4 AS hour_idx,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), h AS (
  SELECT metric, day_ts, hour_idx, count(*) AS hn, sum(c) AS hsum,
         sum(c * c) AS hsxx
  FROM pt GROUP BY 1, 2, 3
), d AS (
  SELECT metric, day_ts, sum(hn) AS dn, sum(hsum) AS dsum,
         sum(hsxx) AS dsxx
  FROM h GROUP BY 1, 2
), z AS (
  SELECT h.metric, h.day_ts, hour_idx,
         cast(hsum AS double) / cast(hn AS double) AS hmean,
         cast(dsum AS double) / cast(dn AS double) AS dmean,
         dn * dsxx - dsum * dsum AS vnum,
         cast(dn * dsxx - dsum * dsum AS double)
           / cast(dn * dn AS double) AS dvar
  FROM h JOIN d USING (metric, day_ts)
), s AS (
  SELECT metric, day_ts, hour_idx, vnum > 0 AS var_ok,
         CASE WHEN vnum <= 0 THEN NULL
              WHEN (hmean - dmean) / sqrt(dvar) < -0.6745 THEN 'a'
              WHEN (hmean - dmean) / sqrt(dvar) < 0.0 THEN 'b'
              WHEN (hmean - dmean) / sqrt(dvar) < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM z
), words AS (
  SELECT metric, day_ts, cast(count(*) AS bigint) AS n_hours,
         CASE WHEN bool_and(var_ok)
              THEN string_agg(sym, '' ORDER BY hour_idx) END AS sax_word
  FROM s GROUP BY 1, 2
)
SELECT sax_word, cast(count(*) AS bigint) AS n_occ,
       cast(count(DISTINCT metric) AS bigint) AS n_series,
       min(day_ts) AS first_day, max(day_ts) AS last_day
FROM words
WHERE sax_word IS NOT NULL AND n_hours >= 6
GROUP BY 1 HAVING count(*) >= 2
""",
        "decayed_topk": """
WITH s AS (
  SELECT event_type AS metric, cast(user_id AS varchar) AS series,
         epoch_us(ts) AS us, cast(round(value * 100) AS bigint) AS c
  FROM events
), mx AS (
  SELECT max(epoch_us(ts)) AS now_us FROM events
), per AS (
  SELECT metric, series,
         cast(sum(cast(round(cast(c AS double)
           * pow(2.0, cast(us - (SELECT now_us FROM mx) AS double)
                       / 86400000000.0)
           * 100.0) AS bigint)) AS bigint) AS score_cc
  FROM s GROUP BY 1, 2
), r AS (
  SELECT metric, series, score_cc,
         row_number() OVER (PARTITION BY metric
                            ORDER BY score_cc DESC, series) AS rank
  FROM per
)
SELECT metric, rank, series,
       round(cast(score_cc AS double) / 10000.0, 4) AS score
FROM r WHERE rank <= 10
""",
        "kanon_report": """
WITH g AS (
  SELECT lang, source, n_chars // 100 AS nb,
         cast(count(*) AS bigint) AS gn
  FROM documents GROUP BY 1, 2, 3
), per_k AS (
  SELECT gn, unnest([2, 5, 10]) AS k FROM g
)
SELECT cast(k AS int) AS k, cast(count(*) AS bigint) AS n_groups,
       cast(sum(CASE WHEN gn < k THEN 1 ELSE 0 END) AS bigint)
         AS n_groups_below,
       cast(sum(CASE WHEN gn < k THEN gn ELSE 0 END) AS bigint)
         AS n_rows_below,
       round(cast(sum(CASE WHEN gn < k THEN gn ELSE 0 END) AS double)
             / cast(sum(gn) AS double), 6) AS pct_rows_below
FROM per_k GROUP BY 1
""",
        "dq_sequence": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS tp, ts,
         cast(event_id AS int) AS idx
  FROM events
), l AS (
  SELECT conv_id, tp, ts, idx,
         lag(tp)  OVER w AS ptp,
         lag(ts)  OVER w AS pts,
         lag(idx) OVER w AS pidx
  FROM s WINDOW w AS (PARTITION BY conv_id ORDER BY ts, idx)
), agg AS (
  SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
         cast(sum(CASE WHEN tp = ptp THEN 1 ELSE 0 END) AS bigint)
           AS n_same_adjacent,
         cast(sum(CASE WHEN ts = pts THEN 1 ELSE 0 END) AS bigint)
           AS n_time_ties,
         cast(sum(CASE WHEN ts > pts AND idx < pidx THEN 1 ELSE 0 END)
              AS bigint) AS n_idx_inversions
  FROM l GROUP BY 1
)
SELECT *, (n_same_adjacent + n_time_ties + n_idx_inversions) = 0
         AS is_clean
FROM agg
""",
        "clustering_coeff": """
WITH active AS (
  SELECT DISTINCT cast(user_id AS bigint) AS u,
         date_trunc('hour', ts) AS b
  FROM events
), capped AS (
  SELECT u, b FROM (
    SELECT u, b, row_number() OVER (PARTITION BY b ORDER BY u) AS r
    FROM active
  ) WHERE r <= 24
), e AS (
  SELECT DISTINCT x.u AS u, y.u AS v
  FROM capped x JOIN capped y USING (b) WHERE x.u < y.u
), adj AS (
  SELECT u, v AS w FROM e UNION ALL SELECT v AS u, u AS w FROM e
), deg AS (
  SELECT u, cast(count(*) AS bigint) AS d FROM adj GROUP BY 1
), com AS (
  SELECT e.u, e.v, cast(count(*) AS bigint) AS c
  FROM e JOIN adj a ON a.u = e.u
  WHERE EXISTS (SELECT 1 FROM adj t WHERE t.u = e.v AND t.w = a.w)
  GROUP BY 1, 2
), ec AS (
  SELECT e.u, e.v, coalesce(c, 0) AS common FROM e LEFT JOIN com USING (u, v)
), st AS (
  SELECT u AS node, common FROM ec
  UNION ALL SELECT v AS node, common FROM ec
), agg AS (
  SELECT node, cast(sum(common) AS bigint) AS s2 FROM st GROUP BY 1
)
SELECT d.u AS node, d.d AS deg,
       cast(coalesce(a.s2, 0) // 2 AS bigint) AS n_triangles,
       CASE WHEN d.d >= 2
            THEN round(cast(coalesce(a.s2, 0) AS double)
                       / cast(d.d * (d.d - 1) AS double), 6)
       END AS coeff
FROM deg d LEFT JOIN agg a ON a.node = d.u
""",
        "markov_calibration": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, cast(event_id AS int) AS turn_idx
  FROM events
), tr AS (
  SELECT lag(metric) OVER (PARTITION BY conv_id
                           ORDER BY epoch_us(ts), turn_idx) AS prev,
         metric AS nxt, ts
  FROM s
), b AS (
  SELECT date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1
  FROM s
), sp AS (
  SELECT d0 + (cast((date_diff('day', d0, d1) * 3) // 5 AS int)
               * INTERVAL 1 DAY) AS split_ts
  FROM b
), trn AS (
  SELECT prev, nxt FROM tr, sp
  WHERE prev IS NOT NULL AND ts < split_ts
), cnts AS (
  SELECT prev, nxt AS cls, cast(count(*) AS bigint) AS cnt
  FROM trn GROUP BY 1, 2
), tot AS (
  SELECT prev, cast(sum(cnt) AS bigint) AS tot FROM cnts GROUP BY 1
), classes AS (
  SELECT DISTINCT nxt AS cls FROM trn
), prob AS (
  SELECT t.prev, c.cls, coalesce(n.cnt, 0) AS cnt, t.tot
  FROM tot t CROSS JOIN classes c
  LEFT JOIN cnts n ON n.prev = t.prev AND n.cls = c.cls
), ev AS (
  SELECT prev, nxt FROM tr, sp
  WHERE prev IS NOT NULL AND ts >= split_ts
), pairs AS (
  SELECT least(9, (10 * p.cnt) // p.tot) AS bin,
         (1000000 * p.cnt) // p.tot AS p_u,
         CASE WHEN p.cls = ev.nxt THEN 1 ELSE 0 END AS y
  FROM ev JOIN prob p ON ev.prev = p.prev
)
SELECT cast(bin AS bigint) AS bin,
       cast(count(*) AS bigint) AS n_pairs,
       cast(sum(y) AS bigint) AS n_pos,
       round(cast(sum(p_u) AS double) / (1e6 * count(*)), 6)
         AS mean_pred,
       round(cast(sum(y) AS double) / count(*), 6) AS frac_obs
FROM pairs GROUP BY 1
""",
        "fdr_anomalies": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS bigint) AS n,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sc
  FROM events GROUP BY 1, 2
), j AS (
  SELECT a.metric, a.day_ts,
         cast(count(*) AS bigint) AS n_prior,
         cast(sum(CASE WHEN b.sc * a.n >= a.sc * b.n
                       THEN 1 ELSE 0 END) AS bigint) AS n_ge
  FROM d a JOIN d b
    ON a.metric = b.metric
   AND date_diff('day', b.day_ts, a.day_ts) BETWEEN 1 AND 28
  GROUP BY 1, 2
), pv AS (
  SELECT d.metric, d.day_ts,
         cast(coalesce(j.n_prior, 0) AS bigint) AS n_prior,
         cast(1 + coalesce(j.n_ge, 0) AS bigint) AS p_num,
         cast(coalesce(j.n_prior, 0) + 1 AS bigint) AS p_den
  FROM d LEFT JOIN j USING (metric, day_ts)
), ranked AS (
  SELECT *,
         cast(row_number() OVER (
           PARTITION BY metric
           ORDER BY cast(p_num AS double) / cast(p_den AS double),
                    day_ts) AS bigint) AS rank_i,
         cast(count(*) OVER (PARTITION BY metric) AS bigint) AS m
  FROM pv
), flagged AS (
  SELECT *, CASE WHEN p_num * 4 * m <= rank_i * p_den
                 THEN rank_i END AS pass_rank
  FROM ranked
)
SELECT metric, day_ts, n_prior,
       round(cast(p_num AS double) / cast(p_den AS double), 6)
         AS p_value,
       rank_i, m,
       rank_i <= coalesce(max(pass_rank)
                          OVER (PARTITION BY metric), 0) AS rejected
FROM flagged
""",
        "conformal_pvalue": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS bigint) AS n,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sc
  FROM events GROUP BY 1, 2
), j AS (
  SELECT a.metric, a.day_ts,
         cast(count(*) AS bigint) AS n_prior,
         cast(sum(CASE WHEN b.sc * a.n >= a.sc * b.n
                       THEN 1 ELSE 0 END) AS bigint) AS n_ge
  FROM d a JOIN d b
    ON a.metric = b.metric
   AND date_diff('day', b.day_ts, a.day_ts) BETWEEN 1 AND 28
  GROUP BY 1, 2
)
SELECT d.metric, d.day_ts,
       cast(coalesce(j.n_prior, 0) AS bigint) AS n_prior,
       round(cast(1 + coalesce(j.n_ge, 0) AS double)
             / cast(coalesce(j.n_prior, 0) + 1 AS double), 6) AS p_value,
       round(cast(1 + coalesce(j.n_ge, 0) AS double)
             / cast(coalesce(j.n_prior, 0) + 1 AS double), 6) <= 0.05
         AS is_anomalous
FROM d LEFT JOIN j USING (metric, day_ts)
""",
        "centroid_drift": """
WITH pd AS (
  SELECT b, dim, cast(count(*) AS bigint) AS n,
         cast(sum(c) AS bigint) AS s
  FROM (
    SELECT vec_id // 100 AS b,
           generate_subscripts(embedding, 1) AS dim,
           cast(round(unnest(embedding::DOUBLE[]) * 1000000.0)
             AS bigint) AS c
    FROM embeddings)
  GROUP BY 1, 2
), j AS (
  SELECT cur.b, max(cur.n) AS n_vecs,
         sum((cast(cur.s AS double) / cast(cur.n AS double))
             * (cast(prv.s AS double) / cast(prv.n AS double))) AS dot,
         sum((cast(cur.s AS double) / cast(cur.n AS double))
             * (cast(cur.s AS double) / cast(cur.n AS double))) AS nn_c,
         sum((cast(prv.s AS double) / cast(prv.n AS double))
             * (cast(prv.s AS double) / cast(prv.n AS double))) AS nn_p
  FROM pd cur JOIN pd prv ON prv.b = cur.b - 1 AND prv.dim = cur.dim
  GROUP BY 1
)
SELECT b AS batch, cast(n_vecs AS bigint) AS n_vecs,
       round(dot / (sqrt(nn_c) * sqrt(nn_p)), 6) AS cos_prev,
       round(1 - dot / (sqrt(nn_c) * sqrt(nn_p)), 6) AS drift
FROM j
""",
        "ann_dim_ablation": f"""
WITH {_UV_CTE},
tv AS (
  SELECT vec_id, (embedding::DOUBLE[])[1:32] AS t FROM embeddings
), ut AS (
  SELECT vec_id,
         list_transform(t, x -> x / sqrt(list_dot_product(t, t))) AS v
  FROM tv
), fullk AS (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM uv q JOIN uv c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 5
  ) WHERE r <= 10
), partk AS (
  SELECT qid, nid FROM (
    SELECT q.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM ut q JOIN ut c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 5
  ) WHERE r <= 10
), hits AS (
  SELECT f.qid, cast(count(*) AS bigint) AS n_overlap
  FROM fullk f JOIN partk p ON f.qid = p.qid AND f.nid = p.nid
  GROUP BY 1
)
SELECT b.qid, cast(10 AS int) AS k,
       cast(coalesce(h.n_overlap, 0) AS bigint) AS n_overlap,
       round(cast(coalesce(h.n_overlap, 0) AS double) / 10.0, 6)
         AS overlap_frac
FROM (SELECT DISTINCT qid FROM fullk) b LEFT JOIN hits h USING (qid)
""",
        "expanding_zscore": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric, ts,
         cast(event_id AS INTEGER) AS turn_idx, value,
         cast(round(value * 100) AS BIGINT) AS v
  FROM events
), w AS (
  SELECT conv_id, metric, ts, turn_idx, value, v,
         count(v) OVER pre AS cn,
         sum(v) OVER pre AS cs,
         sum(v * v) OVER pre AS css
  FROM s
  WINDOW pre AS (PARTITION BY conv_id, metric
                 ORDER BY epoch_us(ts), turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT conv_id, metric, ts, turn_idx, value,
       cast(coalesce(cn, 0) AS bigint) AS n_prior,
       CASE WHEN cn >= 3 AND cn * css - cs * cs > 0
            THEN floor(cast(v * cn - cs AS DOUBLE)
                       / sqrt(cast(cn * css - cs * cs AS DOUBLE))
                       * 1e6) / 1e6
       END AS z
FROM w
""",
        "growth_accounting": """
WITH ud AS (
  SELECT DISTINCT cast(user_id AS varchar) AS a,
         date_trunc('day', ts) AS day_ts
  FROM events
), fl AS (
  SELECT day_ts,
         CASE WHEN prev IS NULL THEN 'new'
              WHEN prev = day_ts - INTERVAL 1 DAY THEN 'retained'
              ELSE 'resurrected' END AS st
  FROM (SELECT a, day_ts,
               lag(day_ts) OVER (PARTITION BY a ORDER BY day_ts) AS prev
        FROM ud)
), d AS (
  SELECT day_ts, count(*) AS n_active,
         cast(sum(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS bigint)
           AS n_new,
         cast(sum(CASE WHEN st = 'retained' THEN 1 ELSE 0 END) AS bigint)
           AS n_retained,
         cast(sum(CASE WHEN st = 'resurrected' THEN 1 ELSE 0 END)
              AS bigint) AS n_resurrected
  FROM fl GROUP BY 1
)
SELECT d.day_ts, d.n_active, d.n_new, d.n_retained, d.n_resurrected,
       cast(coalesce(p.n_active, 0) - d.n_retained AS bigint) AS n_churned
FROM d LEFT JOIN d p ON p.day_ts = d.day_ts - INTERVAL 1 DAY
""",
        "ann_int8": f"""
WITH {_UV_CTE},
qz AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS s,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(v, x ->
                round(x * 127.0 / list_max(list_transform(v, y -> abs(y)))))
              ELSE list_transform(v, x -> x * 0.0)
         END AS q
  FROM uv
), exact AS (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), approx AS (
  SELECT qid, nid FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.q, c.q) * a.s * c.s
                            / (127.0 * 127.0), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), hits AS (
  SELECT e.qid, cast(count(*) AS bigint) AS n_overlap
  FROM exact e JOIN approx p ON e.qid = p.qid AND e.nid = p.nid
  GROUP BY 1
)
SELECT b.qid, cast(10 AS int) AS k,
       cast(coalesce(h.n_overlap, 0) AS bigint) AS n_overlap,
       round(cast(coalesce(h.n_overlap, 0) AS double) / 10.0, 6) AS recall
FROM (SELECT DISTINCT qid FROM exact) b LEFT JOIN hits h USING (qid)
""",
        # constants are repr() of the Python-derived values: 1.0-0.3
        # is NOT the double literal 0.7, and the recursion amplifies a
        # one-ulp constant difference into visible divergence
        "holt_winters": f"""
WITH RECURSIVE h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS bucket_ts,
         cast(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT metric, bucket_ts, v,
         row_number() OVER (PARTITION BY metric ORDER BY bucket_ts)
           AS rn
  FROM h
), r AS (
  SELECT metric, bucket_ts, v, rn,
         v AS lvl, cast(0.0 AS DOUBLE) AS trd,
         [cast(0.0 AS DOUBLE)] AS seas,
         cast(NULL AS DOUBLE) AS fitted, cast(NULL AS DOUBLE) AS season
  FROM s WHERE rn = 1
  UNION ALL
  SELECT metric, bucket_ts, v, rn, lvl, trd,
         CASE WHEN rn <= 24 THEN list_append(seas0, v - lvl)
              ELSE list_append(seas0[2:], snew) END AS seas,
         fitted,
         CASE WHEN rn <= 24 THEN cast(NULL AS DOUBLE) ELSE snew END
           AS season
  FROM (
    SELECT *,
           {0.1!r} * (lvl - lp) + {1.0 - 0.1!r} * bp AS trd,
           CASE WHEN rn <= 24 THEN cast(NULL AS DOUBLE)
                ELSE {0.2!r} * (v - lp - bp) + {1.0 - 0.2!r} * sold
           END AS snew
    FROM (
      SELECT s.metric AS metric, s.bucket_ts AS bucket_ts, s.v AS v,
             s.rn AS rn, r.lvl AS lp, r.trd AS bp, r.seas AS seas0,
             r.seas[1] AS sold,
             CASE WHEN s.rn <= 24
                  THEN {0.3!r} * s.v + {1.0 - 0.3!r} * (r.lvl + r.trd)
                  ELSE {0.3!r} * (s.v - r.seas[1])
                       + {1.0 - 0.3!r} * (r.lvl + r.trd)
             END AS lvl,
             CASE WHEN s.rn <= 24 THEN cast(NULL AS DOUBLE)
                  ELSE r.lvl + r.trd + r.seas[1] END AS fitted
      FROM r JOIN s ON s.metric = r.metric AND s.rn = r.rn + 1
    )
  )
)
SELECT metric, bucket_ts AS ts, v AS value,
       floor(fitted * 1e6) / 1e6 AS fitted,
       CASE WHEN rn > 24 THEN floor(lvl * 1e6) / 1e6 END AS level,
       CASE WHEN rn > 24 THEN floor(trd * 1e6) / 1e6 END AS trend,
       floor(season * 1e6) / 1e6 AS season
FROM r
""",
        "tpch_q5": """
SELECT n_name,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS bigint)) AS bigint)
             / 100.0, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
             AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY 1
""",
        "tpch_q6": """
SELECT count(*) AS n_items,
       round(cast(sum(cast(round(l_extendedprice * l_discount * 100)
                           AS bigint)) AS bigint) / 100.0, 2) AS revenue
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_quantity < 24
  AND cast(round(l_discount * 10000) AS bigint) BETWEEN 500 AND 700
""",
        "tpch_q18": """
WITH big AS (
  SELECT l_orderkey,
         cast(sum(cast(l_quantity AS bigint)) AS bigint) AS total_qty
  FROM lineitem GROUP BY 1 HAVING total_qty > 300
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS o_totalprice, total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
        "current_pctile": """
WITH hourly AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS v
  FROM events GROUP BY 1, 2
), last AS (
  SELECT metric, max(bucket_ts) AS last_ts,
         arg_max(v, bucket_ts) AS last_v
  FROM hourly GROUP BY 1
)
SELECT h.metric,
       any_value(l.last_ts) AS last_ts,
       cast(any_value(l.last_v) AS bigint) AS last_value,
       count(*) AS n_hist,
       round((sum(CASE WHEN h.v < l.last_v THEN 1 ELSE 0 END)
              + sum(CASE WHEN h.v = l.last_v THEN 1 ELSE 0 END) * 0.5)
             / count(*), 6) AS pctile
FROM hourly h JOIN last l USING (metric)
GROUP BY 1
""",
        "drawdown_daily": """
WITH s AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         ts, event_id,
         cast(round(value * 100) AS bigint) AS v,
         sum(cast(round(value * 100) AS bigint)) OVER w AS cum
  FROM events
  WINDOW w AS (PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT metric, day_ts, v, cum,
         max(cum) OVER (PARTITION BY metric, day_ts
                        ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM s
)
SELECT metric, day_ts, count(*) AS n,
       round(cast(max(peak - cum) AS bigint) / 100.0, 2)
         AS max_drawdown,
       round(cast(max(peak) AS bigint) / 100.0, 2) AS peak,
       round(cast(sum(v) AS bigint) / 100.0, 2) AS final
FROM p GROUP BY 1, 2
""",
        "corr_clusters": f"""
WITH RECURSIVE h AS (
  SELECT user_id, date_trunc('hour', ts) AS b, avg(value) AS v
  FROM events GROUP BY 1, 2
), r AS (
  SELECT cast(user_id AS varchar) AS sid, v,
         row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM h
), x AS (
  SELECT sid, rn, v FROM r WHERE rn <= {_CORR_M} AND n >= {_CORR_M}
), e AS (
  SELECT a.sid AS id_a, b.sid AS id_b
  FROM x a JOIN x b ON a.rn = b.rn AND a.sid < b.sid
  GROUP BY 1, 2
  HAVING corr(a.v, b.v) >= {_CORR_THETA}
), sym AS (
  SELECT id_a AS a, id_b AS b FROM e
  UNION
  SELECT id_b, id_a FROM e
), reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
)
SELECT n AS conv_id, min(m) AS cluster FROM reach GROUP BY 1
""",
        "attribution": """
WITH t AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN ts END IGNORE NULLS) OVER w AS touch_ts,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS) OVER w
           AS touch_type
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT date_trunc('day', ts) AS day_ts,
       CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_type
            ELSE 'unattributed' END AS touch,
       count(*) AS n_purchases
FROM t WHERE event_type = 'purchase'
GROUP BY 1, 2
""",
        "ab_cuped": """
WITH mid AS (
  SELECT cast((min(epoch_us(ts)) + max(epoch_us(ts))) / 2 AS bigint)
    AS m
  FROM events
), pu AS (
  SELECT cast(user_id % 2 AS int) AS variant, user_id,
         cast(sum(CASE WHEN epoch_us(ts) < m
                       THEN cast(round(value * 100) AS bigint)
                       ELSE 0 END) AS bigint) AS pre_c,
         cast(sum(CASE WHEN epoch_us(ts) >= m
                       THEN cast(round(value * 100) AS bigint)
                       ELSE 0 END) AS bigint) AS post_c
  FROM events, mid GROUP BY 1, 2
), pooled AS (
  SELECT count(*) AS n,
         cast(sum(pre_c) AS bigint) AS sx,
         cast(sum(post_c) AS bigint) AS sy,
         cast(sum(pre_c * pre_c) AS bigint) AS sxx,
         cast(sum(post_c * post_c) AS bigint) AS syy,
         cast(sum(pre_c * post_c) AS bigint) AS sxy
  FROM pu
), cf AS (
  SELECT cast(n * sxy - sx * sy AS double)
           / cast(n * sxx - sx * sx AS double) AS theta,
         cast(sx AS double) / cast(n AS double) AS mean_pre_all,
         cast(n * sxy - sx * sy AS double)
           * cast(n * sxy - sx * sy AS double)
           / cast(n * sxx - sx * sx AS double)
           / cast(n * syy - sy * sy AS double) AS rho2
  FROM pooled
), pv AS (
  SELECT variant, count(*) AS n_users,
         cast(sum(post_c) AS bigint) AS spost,
         cast(sum(pre_c) AS bigint) AS spre
  FROM pu GROUP BY 1
)
SELECT variant, n_users,
       round(cast(spost AS double) / (cast(n_users AS double) * 100.0),
             6) AS mean_post,
       round(cast(spost AS double) / (cast(n_users AS double) * 100.0)
             - theta * (cast(spre AS double)
                        / (cast(n_users AS double) * 100.0)
                        - mean_pre_all / 100.0), 6) AS mean_cuped,
       round(1.0 - rho2, 6) AS var_ratio
FROM pv, cf
""",
        "mm_audio": """
WITH idx AS (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) // 2 - 1)) AS i
  FROM documents
), samp AS (
  SELECT doc_id, i,
         ascii(substr(text, cast(2 * i + 1 AS int), 1))
         + 256 * ascii(substr(text, cast(2 * i + 2 AS int), 1)) AS raw
  FROM idx
), s AS (
  SELECT doc_id, i,
         CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
  FROM samp
), fl AS (
  SELECT doc_id, i, v, cast(i // 64 AS int) AS frame_idx, i % 64 AS k,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id, frame_idx, cast(count(*) AS int) AS n_samples,
       floor(sqrt(cast(sum(v * v) AS double) / count(*)) * 1e6) / 1e6
         AS rms,
       cast(sum(CASE WHEN k > 0 AND ((v < 0) <> (pv < 0))
                     THEN 1 ELSE 0 END) AS int) AS zcr
FROM fl GROUP BY 1, 2
""",
        "sessions_capped": """
WITH e AS (
  SELECT cast(user_id AS varchar) AS conv_id, ts FROM events
), fl AS (
  SELECT conv_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts))
), isl AS (
  SELECT conv_id, ts,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY epoch_us(ts)
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS island
  FROM fl
), sl AS (
  SELECT conv_id, ts, island,
         (epoch_us(ts) - min(epoch_us(ts))
            OVER (PARTITION BY conv_id, island)) // 3600000000 AS slice
  FROM isl
)
SELECT conv_id, min(ts) AS session_start, max(ts) AS session_end_ts,
       count(*) AS n_events,
       (any_value(slice) > 0) AS capped
FROM sl GROUP BY conv_id, island, slice
""",
        "pattern_matches": """
WITH RECURSIVE e AS (
  SELECT cast(user_id AS varchar) AS k, event_type AS et,
         epoch_us(ts) AS ep, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
  WHERE event_type IN ('click', 'view', 'purchase')
), r AS (
  SELECT k, rn, ts, ep,
         CASE WHEN et = 'click' THEN 1 ELSE 0 END AS stage,
         CASE WHEN et = 'click' THEN ep ELSE cast(0 AS bigint) END
           AS t0,
         false AS emit, cast(0 AS bigint) AS em_start
  FROM e WHERE rn = 1
  UNION ALL
  SELECT k, rn, ts, ep,
         CASE WHEN advance AND eff = 2 THEN 0
              WHEN advance THEN eff + 1 ELSE eff END AS stage,
         CASE WHEN advance AND eff = 0 THEN ep ELSE pt0 END AS t0,
         (advance AND eff = 2) AS emit,
         pt0 AS em_start
  FROM (
    SELECT s.k AS k, s.rn AS rn, s.ts AS ts, s.ep AS ep, s.et AS et,
           r.t0 AS pt0,
           CASE WHEN r.stage > 0 AND s.ep - r.t0 > 86400000000
                THEN 0 ELSE r.stage END AS eff,
           s.et = (['click', 'view', 'purchase'])[
             (CASE WHEN r.stage > 0 AND s.ep - r.t0 > 86400000000
                   THEN 0 ELSE r.stage END) + 1] AS advance
    FROM r JOIN e s ON s.k = r.k AND s.rn = r.rn + 1
  )
)
SELECT k AS conv_id, make_timestamp(em_start) AS start_ts,
       ts AS end_ts,
       (ep - em_start) / 1e6 AS duration_s
FROM r WHERE emit
""",
        # independent as-of formulation — NOT the scd2+interval-join
        # the Spark side composes; agreement cross-checks both
        "scd2_enrich": """
WITH st AS (
  SELECT user_id, epoch_us(ts) AS ep, event_id,
         event_type AS status
  FROM events WHERE event_type IN ('signup', 'purchase')
), c AS (
  SELECT user_id, epoch_us(ts) AS ep
  FROM events WHERE event_type = 'click'
), lookedup AS (
  SELECT c.user_id,
         (SELECT s.status FROM st s
          WHERE s.user_id = c.user_id AND s.ep <= c.ep
          ORDER BY s.ep DESC, s.event_id DESC LIMIT 1) AS status
  FROM c
)
SELECT status, count(*) AS n_clicks,
       count(DISTINCT user_id) AS n_users
FROM lookedup WHERE status IS NOT NULL GROUP BY 1
""",
        "fk_orphans": """
SELECT 'lineitem->orders' AS relation,
       count(*) AS n_orphan_rows,
       count(DISTINCT l_orderkey) AS n_orphan_keys
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'lineitem->part',
       count(*), count(DISTINCT l_partkey)
FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
UNION ALL
SELECT 'orders->customer',
       count(*), count(DISTINCT o_custkey)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
""",
        "bfs_reach": """
WITH RECURSIVE act AS (
  SELECT DISTINCT user_id AS u, date_trunc('hour', ts) AS b FROM events
), actc AS (
  SELECT u, b FROM act
  QUALIFY row_number() OVER (PARTITION BY b ORDER BY u) <= 24
), ed AS (
  SELECT DISTINCT x.u AS a, y.u AS b2
  FROM actc x JOIN actc y ON x.b = y.b AND x.u <> y.u
), seed AS (
  SELECT min(user_id) AS s FROM events
), reach(node, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.b2, r.d + 1
  FROM reach r JOIN ed e ON e.a = r.node
  WHERE r.d < 10
)
SELECT cast(node AS bigint) AS conv_id, cast(min(d) AS int) AS depth
FROM reach GROUP BY 1
""",
        "emd_drift": """
WITH v AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS _v
  FROM events
), edges AS (
  SELECT metric, day_ts,
         quantile_cont(_v, [0.1, 0.2, 0.3, 0.4, 0.5,
                            0.6, 0.7, 0.8, 0.9]) AS e
  FROM v GROUP BY 1, 2
), curb AS (
  SELECT v.metric, v.day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric
   AND ed.day_ts + INTERVAL 1 DAY = v.day_ts
), cur AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_t
  FROM curb GROUP BY 1, 2, 3
), baseb AS (
  SELECT v.metric, v.day_ts + INTERVAL 1 DAY AS day_ts,
         cast(1 + list_sum(list_transform(ed.e,
             x -> CASE WHEN v._v > x THEN 1 ELSE 0 END)) AS int) AS bin
  FROM v JOIN edges ed
    ON ed.metric = v.metric AND ed.day_ts = v.day_ts
), base AS (
  SELECT metric, day_ts, bin, cast(count(*) AS bigint) AS c_b
  FROM baseb GROUP BY 1, 2, 3
), bb AS (
  SELECT coalesce(cur.metric, base.metric) AS metric,
         coalesce(cur.day_ts, base.day_ts) AS day_ts,
         coalesce(cur.bin, base.bin) AS bin,
         coalesce(c_t, 0) AS c_t, coalesce(c_b, 0) AS c_b
  FROM cur FULL OUTER JOIN base
    ON cur.metric = base.metric AND cur.day_ts = base.day_ts
   AND cur.bin = base.bin
), tot AS (
  SELECT metric, day_ts,
         cast(sum(c_t) AS bigint) AS n_t,
         cast(sum(c_b) AS bigint) AS n_b
  FROM bb GROUP BY 1, 2
), grid AS (
  SELECT metric, day_ts, n_t, n_b,
         unnest(generate_series(1, 10)) AS bin
  FROM tot WHERE n_t > 0 AND n_b > 0
), dense AS (
  SELECT g.metric, g.day_ts, g.bin, g.n_t, g.n_b,
         coalesce(bb.c_t, 0) AS c_t, coalesce(bb.c_b, 0) AS c_b
  FROM grid g LEFT JOIN bb
    ON bb.metric = g.metric AND bb.day_ts = g.day_ts
   AND bb.bin = g.bin
), cums AS (
  SELECT metric, day_ts, bin, n_t, n_b,
         abs(sum(c_t) OVER w * n_b - sum(c_b) OVER w * n_t) AS num
  FROM dense
  WINDOW w AS (PARTITION BY metric, day_ts ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT metric, day_ts,
       round(cast(sum(CASE WHEN bin < 10 THEN num ELSE 0 END)
                  AS double)
             / cast(max(n_t) * max(n_b) * 10 AS double), 6) AS emd,
       max(n_t) AS n_today, max(n_b) AS n_base
FROM cums GROUP BY 1, 2
""",
        "tpch_q4": """
SELECT o_orderpriority, cast(count(*) AS bigint) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1998-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY 1
""",
        "tpch_q10": """
WITH g AS (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                       AS bigint)) AS bigint) AS _rc
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-10-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2, 3, 4
)
SELECT c_custkey, c_name, round(_rc / 100.0, 2) AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name
FROM g ORDER BY _rc DESC, c_custkey ASC LIMIT 20
""",
        "tpch_q14": """
SELECT round(100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
           THEN cast(round(l_extendedprice * (1 - l_discount) * 100)
                     AS bigint) ELSE 0 END) AS double)
       / cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                       AS bigint)) AS double), 6) AS promo_revenue_pct,
       cast(count(*) AS bigint) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
""",
        "tpch_q19": """
SELECT round(cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS bigint)) AS bigint)
             / 100.0, 2) AS revenue,
       cast(count(*) AS bigint) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
        "ols_multi": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), j AS (
  SELECT hy.hour_ts, hy.y AS vy, h1.y AS v1, h2.y AS v2
  FROM h hy
  JOIN h h1 ON h1.hour_ts = hy.hour_ts
  JOIN h h2 ON h2.hour_ts = hy.hour_ts
  WHERE hy.metric = 'purchase' AND h1.metric = 'click'
    AND h2.metric = 'view'
), g AS (
  SELECT date_trunc('day', hour_ts) AS day_ts,
         cast(count(*) AS hugeint) AS n,
         sum(cast(v1 AS hugeint)) AS s1,
         sum(cast(v2 AS hugeint)) AS s2,
         sum(cast(vy AS hugeint)) AS sy,
         sum(cast(v1 AS hugeint) * v1) AS s11,
         sum(cast(v2 AS hugeint) * v2) AS s22,
         sum(cast(v1 AS hugeint) * v2) AS s12,
         sum(cast(v1 AS hugeint) * vy) AS s1y,
         sum(cast(v2 AS hugeint) * vy) AS s2y,
         sum(cast(vy AS hugeint) * vy) AS syy
  FROM j GROUP BY 1 HAVING count(*) >= 4
), m AS (
  SELECT day_ts, cast(n AS bigint) AS n_hours,
         cast(n AS double) AS nd,
         cast(s1 AS double) AS s1d, cast(s2 AS double) AS s2d,
         cast(sy AS double) AS syd,
         cast(n * s11 - s1 * s1 AS double) AS S11,
         cast(n * s22 - s2 * s2 AS double) AS S22,
         cast(n * s12 - s1 * s2 AS double) AS S12,
         cast(n * s1y - s1 * sy AS double) AS S1y,
         cast(n * s2y - s2 * sy AS double) AS S2y,
         cast(n * syy - sy * sy AS double) AS Syy
  FROM g
), sol AS (
  SELECT day_ts, n_hours, nd, s1d, s2d, syd, S1y, S2y, Syy,
         S11 * S22 - S12 * S12 AS det,
         CASE WHEN S11 * S22 - S12 * S12 > 0
              THEN (S22 * S1y - S12 * S2y) / (S11 * S22 - S12 * S12)
         END AS b1,
         CASE WHEN S11 * S22 - S12 * S12 > 0
              THEN (S11 * S2y - S12 * S1y) / (S11 * S22 - S12 * S12)
         END AS b2
  FROM m
)
SELECT day_ts, n_hours,
       round((syd - b1 * s1d - b2 * s2d) / nd / 100.0, 6) AS b0,
       round(b1, 6) AS b1,
       round(b2, 6) AS b2,
       round(CASE WHEN det > 0 AND Syy > 0
                  THEN (b1 * S1y + b2 * S2y) / Syy END, 6) AS r2
FROM sol
""",
        "edge_similarity": """
WITH active AS (
  SELECT DISTINCT cast(user_id AS bigint) AS u,
         date_trunc('hour', ts) AS b
  FROM events
), capped AS (
  SELECT u, b FROM (
    SELECT u, b, row_number() OVER (PARTITION BY b ORDER BY u) AS r
    FROM active
  ) WHERE r <= 24
), e AS (
  SELECT DISTINCT x.u AS u, y.u AS v
  FROM capped x JOIN capped y USING (b) WHERE x.u < y.u
), adj AS (
  SELECT u, v AS w FROM e UNION ALL SELECT v AS u, u AS w FROM e
), deg AS (
  SELECT u, cast(count(*) AS bigint) AS d FROM adj GROUP BY 1
), com AS (
  SELECT e.u, e.v, cast(count(*) AS bigint) AS c
  FROM e JOIN adj a ON a.u = e.u
  WHERE EXISTS (SELECT 1 FROM adj t WHERE t.u = e.v AND t.w = a.w)
  GROUP BY 1, 2
)
SELECT e.u, e.v, coalesce(c, 0) AS common,
       du.d AS deg_u, dv.d AS deg_v,
       round(coalesce(c, 0)
             / cast(du.d + dv.d - coalesce(c, 0) AS double), 6)
         AS jaccard
FROM e
LEFT JOIN com USING (u, v)
JOIN deg du ON du.u = e.u
JOIN deg dv ON dv.u = e.v
""",
        "rolling_slope_24h": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, hour_ts, y,
         epoch_us(hour_ts) // 3600000000 AS tt
  FROM h
), m AS (
  SELECT metric, hour_ts, y,
         cast(count(*) OVER w AS bigint) AS n,
         cast(sum(tt) OVER w AS bigint) AS st,
         cast(sum(y) OVER w AS bigint) AS sy,
         cast(sum(tt * tt) OVER w AS bigint) AS stt,
         cast(sum(tt * y) OVER w AS bigint) AS sty
  FROM t
  WINDOW w AS (PARTITION BY metric ORDER BY tt
               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT metric, hour_ts, y, n AS slope_n,
       round(CASE WHEN n * stt - st * st > 0
                  THEN cast(n * sty - st * sy AS double)
                       / cast(n * stt - st * st AS double) / 100.0
             END, 6) AS slope
FROM m
""",
        "hill_tail": """
WITH e AS (
  SELECT event_type AS metric, event_id,
         cast(round(value * 100) AS bigint) AS c
  FROM events
  WHERE cast(round(value * 100) AS bigint) > 0
), top AS (
  SELECT metric, c,
         row_number() OVER (PARTITION BY metric
                            ORDER BY c DESC, event_id) AS r
  FROM e
), xk1 AS (
  SELECT metric, c AS c_k1 FROM top WHERE r = 101
), s AS (
  SELECT t.metric, x.c_k1,
         cast(sum(cast(round(ln(cast(t.c AS double)
                              / cast(x.c_k1 AS double)) * 1000000)
                       AS bigint)) AS bigint) AS sum_u,
         cast(count(*) AS bigint) AS k
  FROM top t JOIN xk1 x ON t.metric = x.metric
  WHERE t.r <= 100
  GROUP BY 1, 2
)
SELECT metric, k, round(c_k1 / 100.0, 2) AS x_k1,
       round(k * 1000000.0 / sum_u, 6) AS alpha
FROM s
""",
        "bitmap_retention": """
WITH act AS (
  SELECT DISTINCT date_trunc('day', ts) AS day_ts,
         cast(user_id AS bigint) // 32 AS bkt,
         cast(cast(user_id AS bigint) % 32 AS int) AS bit
  FROM events
), words AS (
  SELECT day_ts, bkt, bit_or(1::BIGINT << bit) AS w
  FROM act GROUP BY 1, 2
), tot AS (
  SELECT day_ts, cast(sum(bit_count(w)) AS bigint) AS active
  FROM words GROUP BY 1
), ret AS (
  SELECT b.day_ts,
         cast(sum(bit_count(a.w & b.w)) AS bigint) AS retained
  FROM words b
  JOIN words a ON a.bkt = b.bkt
              AND b.day_ts = a.day_ts + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT t.day_ts, t.active, p.active AS active_prev,
       coalesce(r.retained, 0) AS retained,
       t.active - coalesce(r.retained, 0) AS new_actors,
       p.active - coalesce(r.retained, 0) AS churned,
       round(coalesce(r.retained, 0) / cast(p.active AS double), 6)
         AS retention_rate
FROM tot t
JOIN tot p ON t.day_ts = p.day_ts + INTERVAL 1 DAY
LEFT JOIN ret r ON r.day_ts = t.day_ts
""",
        "triplet_mining": f"""
WITH {_UV_CTE}, lab AS (
  SELECT vec_id, label FROM embeddings
), q AS (
  SELECT u.vec_id AS qid, u.v AS qv, l.label AS q_label
  FROM uv u JOIN lab l USING (vec_id) WHERE u.vec_id < 20
), scored AS (
  SELECT q.qid, q.q_label, c.vec_id AS nid, l.label AS n_label,
         round(list_dot_product(q.qv, c.v), 6) AS cos
  FROM q JOIN uv c ON c.vec_id <> q.qid
  JOIN lab l ON l.vec_id = c.vec_id
), pos AS (
  SELECT qid, nid AS pos_id, cos AS cos_pos FROM (
    SELECT qid, nid, cos,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid) AS r
    FROM scored WHERE n_label = q_label
  ) WHERE r = 1
), neg AS (
  SELECT qid, rank, nid AS neg_id, cos AS cos_neg FROM (
    SELECT qid, nid, cos,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid) AS rank
    FROM scored WHERE n_label <> q_label
  ) WHERE rank <= 10
)
SELECT n.qid, n.rank, p.pos_id, p.cos_pos, n.neg_id, n.cos_neg,
       round(p.cos_pos - n.cos_neg, 6) AS margin
FROM neg n JOIN pos p USING (qid)
""",
        "emb_cov": """
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         cast(round(unnest(embedding)::DOUBLE * 1000000) AS bigint)
           AS xu
  FROM embeddings
), g AS (
  SELECT a.dim AS i, b.dim AS j,
         cast(count(*) AS hugeint) AS n,
         sum(cast(a.xu AS hugeint)) AS sa,
         sum(cast(b.xu AS hugeint)) AS sb,
         sum(cast(a.xu AS hugeint) * b.xu) AS sab
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY 1, 2
)
SELECT i, j, cast(n AS bigint) AS n,
       round(cast(n * sab - sa * sb AS double)
             / cast(n * n AS double) / 1e12, 6) AS cov
FROM g
""",
        "fleet_coverage": """
WITH sp AS (
  SELECT epoch_us(ts) AS s_us, epoch_us(ts) + 300000000 AS e_us
  FROM events
), pieces AS (
  SELECT b,
         greatest(s_us, b * 86400000000) AS ps,
         least(e_us, (b + 1) * 86400000000) AS pe
  FROM sp,
       unnest(generate_series(s_us // 86400000000,
                              greatest(e_us - 1, s_us) // 86400000000))
         AS t(b)
), flagged AS (
  SELECT b, ps, pe,
         CASE WHEN max(pe) OVER (PARTITION BY b ORDER BY ps, pe
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) IS NULL
                OR ps > max(pe) OVER (PARTITION BY b ORDER BY ps, pe
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM pieces
), isl AS (
  SELECT b, ps, pe,
         cast(sum(new_island) OVER (PARTITION BY b ORDER BY ps, pe
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
              AS bigint) AS island
  FROM flagged
), per_island AS (
  SELECT b, island, min(ps) AS s0, max(pe) AS e1,
         cast(count(*) AS bigint) AS n
  FROM isl GROUP BY 1, 2
)
SELECT make_timestamp(b * 86400000000) AS day_ts,
       cast(sum(n) AS bigint) AS n_spans,
       cast(count(*) AS bigint) AS n_islands,
       cast(sum(e1 - s0) AS bigint) AS covered_us,
       cast(max(e1 - s0) AS bigint) AS longest_us,
       round(cast(sum(e1 - s0) AS bigint) / 86400000000.0, 6)
         AS utilization
FROM per_island GROUP BY 1
""",
        "tpch_q2": f"""
WITH {_TPCH_PS_CTES}, sn AS (
  SELECT s_suppkey, s_name, n_name,
         cast(round(s_acctbal * 100) AS bigint) AS bal_c
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), j AS (
  SELECT ps.p_partkey, ps.ps_cost_c, sn.s_name, sn.n_name, sn.bal_c,
         sn.s_suppkey,
         min(ps.ps_cost_c) OVER (PARTITION BY ps.p_partkey) AS mn
  FROM ps
  JOIN part ON ps.p_partkey = part.p_partkey
           AND p_size = 3 AND p_type = 'LARGE'
  JOIN sn ON ps.ps_suppkey = sn.s_suppkey
)
SELECT round(bal_c / 100.0, 2) AS s_acctbal, s_name, n_name, p_partkey,
       round(ps_cost_c / 100.0, 2) AS ps_supplycost
FROM j WHERE ps_cost_c = mn
ORDER BY bal_c DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
""",
        "tpch_q11": f"""
WITH {_TPCH_PS_CTES}, j AS (
  SELECT p_partkey, cast(ps_cost_c * ps_availqty AS bigint) AS v_c
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_5'
), per AS (
  SELECT p_partkey, cast(sum(v_c) AS bigint) AS val_c
  FROM j GROUP BY 1
), tot AS (
  SELECT cast(sum(val_c) AS bigint) AS tot_c FROM per
)
SELECT p_partkey, round(val_c / 100.0, 2) AS value
FROM per, tot WHERE val_c * 1000 > tot_c
""",
        "tpch_q12": f"""
WITH {_TPCH_LID_CTES}, lm AS (
  SELECT l_orderkey,
         ['MAIL', 'SHIP', 'AIR', 'RAIL', 'TRUCK', 'REG AIR',
          'FOB'][(l_orderkey + l_linenumber) % 7 + 1] AS shipmode,
         ship_day, commit_day, receipt_day
  FROM lid
)
SELECT shipmode,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS bigint) AS high_line_count,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS bigint) AS low_line_count
FROM lm JOIN orders ON lm.l_orderkey = o_orderkey
WHERE shipmode IN ('MAIL', 'SHIP')
  AND commit_day < receipt_day AND ship_day < commit_day
  AND receipt_day >= 9496 AND receipt_day < 9862
GROUP BY 1
""",
        "tpch_q16": f"""
WITH {_TPCH_PS_CTES}
SELECT p_brand, p_type, p_size,
       cast(count(DISTINCT ps_suppkey) AS bigint) AS supplier_cnt
FROM ps
JOIN part ON ps.p_partkey = part.p_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0)
GROUP BY 1, 2, 3
""",
        "tpch_q20": f"""
WITH {_TPCH_PS_CTES}, shipped AS (
  SELECT l_partkey, l_suppkey,
         cast(sum(cast(l_quantity AS bigint)) AS bigint) AS qty
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  GROUP BY 1, 2
), excess AS (
  SELECT DISTINCT ps_suppkey
  FROM ps
  JOIN part ON ps.p_partkey = part.p_partkey
           AND p_name LIKE 'small%'
  JOIN shipped ON ps.p_partkey = shipped.l_partkey
              AND ps.ps_suppkey = shipped.l_suppkey
  WHERE 2 * ps_availqty > qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_7'
  AND s_suppkey IN (SELECT ps_suppkey FROM excess)
""",
        "tpch_q21": f"""
WITH {_TPCH_LID_CTES}, lo AS (
  SELECT l_orderkey, l_suppkey,
         receipt_day > commit_day AS late
  FROM lid
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         cast(count(DISTINCT l_suppkey) AS bigint) AS n_supp,
         cast(count(DISTINCT CASE WHEN late THEN l_suppkey END)
              AS bigint) AS n_late_supp
  FROM lo GROUP BY 1
)
SELECT s_name, cast(count(*) AS bigint) AS numwait
FROM lo
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE lo.late AND n_supp >= 2 AND n_late_supp = 1
  AND n_name = 'NATION_2'
GROUP BY 1
""",
        "tpch_q7": """
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       cast(year(l_shipdate) AS int) AS l_year,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS bigint)) AS bigint)
             / 100.0, 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
  AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
       OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
""",
        "tpch_q8": """
SELECT cast(year(o_orderdate) AS int) AS o_year,
       round(cast(sum(CASE WHEN n2.n_name = 'NATION_3'
                           THEN cast(round(l_extendedprice
                                           * (1 - l_discount) * 100)
                                     AS bigint)
                           ELSE 0 END) AS double)
             / cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                   * 100) AS bigint)) AS double),
             6) AS mkt_share,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS bigint)) AS bigint)
             / 100.0, 2) AS total_revenue
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY 1
""",
        "tpch_q9": """
SELECT n_name AS nation, cast(year(o_orderdate) AS int) AS o_year,
       round(cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                 * 100) AS bigint)) AS bigint)
             / 100.0, 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
        "tpch_q13": """
WITH per_cust AS (
  SELECT c_custkey, cast(count(o_orderkey) AS bigint) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, cast(count(*) AS bigint) AS custdist
FROM per_cust GROUP BY 1
""",
        "tpch_q15": """
WITH rev AS (
  SELECT l_suppkey,
         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                       AS bigint)) AS bigint) AS rev_c
  FROM lineitem
  WHERE l_shipdate >= '1996-10-01' AND l_shipdate < '1997-01-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, round(rev_c / 100.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT max(rev_c) FROM rev)
""",
        "tpch_q17": """
WITH j AS (
  SELECT l_partkey, cast(l_quantity AS bigint) AS qty_i,
         cast(round(l_extendedprice * (1 - l_discount) * 100)
              AS bigint) AS rev_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
), flt AS (
  SELECT rev_c FROM (
    SELECT rev_c, qty_i,
           cast(sum(qty_i) OVER (PARTITION BY l_partkey) AS bigint)
             AS sum_qty,
           cast(count(*) OVER (PARTITION BY l_partkey) AS bigint)
             AS cnt_qty
    FROM j
  ) WHERE 5 * qty_i * cnt_qty < sum_qty
)
SELECT round(cast(sum(rev_c) AS bigint) / 700.0, 2) AS avg_yearly,
       cast(count(*) AS bigint) AS n_items
FROM flt
""",
        "tpch_q22": """
WITH c AS (
  SELECT c_custkey, c_nationkey,
         cast(round(c_acctbal * 100) AS bigint) AS bal_c
  FROM customer WHERE c_nationkey IN (3, 8, 13, 18, 23)
), thr AS (
  SELECT cast(sum(bal_c) AS bigint) AS sum_pos_c,
         cast(count(*) AS bigint) AS n_pos
  FROM c WHERE bal_c > 0
)
SELECT c_nationkey AS cntrycode, cast(count(*) AS bigint) AS numcust,
       round(cast(sum(bal_c) AS bigint) / 100.0, 2) AS totacctbal
FROM c, thr
WHERE bal_c * n_pos > sum_pos_c
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= '1999-01-01')
GROUP BY 1
""",
        "mix_weights": """
WITH per AS (
  SELECT source, cast(count(*) AS bigint) AS n_docs,
         cast(sum(cast(n_chars AS bigint)) AS bigint) AS mass,
         cast(floor(pow(cast(sum(cast(n_chars AS bigint)) AS double),
                        0.5) * 1e6) AS bigint) AS _w
  FROM documents GROUP BY 1
), tot AS (
  SELECT cast(sum(mass) AS bigint) AS _m_tot,
         cast(sum(_w) AS bigint) AS _w_tot
  FROM per
)
SELECT source, n_docs, mass,
       round(cast(mass AS double) / _m_tot, 6) AS natural_share,
       round(cast(_w AS double) / _w_tot, 6) AS mix_weight,
       round((cast(_w AS double) / _w_tot)
             * cast(_m_tot AS double) / mass, 6) AS epochs_at_budget
FROM per, tot
""",
        "markov_entropy": """
WITH tr AS (
  SELECT date_trunc('day', ts) AS day_ts,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         event_type AS nxt
  FROM events
), tr2 AS (
  SELECT * FROM tr WHERE prev IS NOT NULL
), cell AS (
  SELECT day_ts, prev, nxt, cast(count(*) AS bigint) AS c
  FROM tr2 GROUP BY 1, 2, 3
), cells AS (
  SELECT day_ts,
         cast(sum(cast(round(c * ln(c) * 1e6) AS bigint)) AS bigint)
           AS u_cell,
         cast(sum(c) AS bigint) AS n
  FROM cell GROUP BY 1
), prevm AS (
  SELECT day_ts,
         cast(sum(cast(round(ni * ln(ni) * 1e6) AS bigint)) AS bigint)
           AS u_prev
  FROM (SELECT day_ts, prev, cast(sum(c) AS bigint) AS ni
        FROM cell GROUP BY 1, 2) GROUP BY 1
), nxtm AS (
  SELECT day_ts,
         cast(sum(cast(round(nj * ln(nj) * 1e6) AS bigint)) AS bigint)
           AS u_next
  FROM (SELECT day_ts, nxt, cast(sum(c) AS bigint) AS nj
        FROM cell GROUP BY 1, 2) GROUP BY 1
)
SELECT cells.day_ts, n AS n_transitions,
       round(ln(n) - cast(u_next AS double) / 1e6 / n, 6)
         AS h_next_nats,
       round((cast(u_prev AS double) - cast(u_cell AS double))
             / 1e6 / n, 6) AS h_cond_nats,
       round((ln(n) - cast(u_next AS double) / 1e6 / n)
             - (cast(u_prev AS double) - cast(u_cell AS double))
               / 1e6 / n, 6) AS info_gain_nats
FROM cells
JOIN prevm ON prevm.day_ts = cells.day_ts
JOIN nxtm ON nxtm.day_ts = cells.day_ts
""",
        "periodogram": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), d2 AS (
  SELECT metric, y,
         cast((h_us - min(h_us) OVER (PARTITION BY metric))
              / 3600000000 AS bigint) AS t,
         cast(count(*) OVER (PARTITION BY metric) AS bigint) AS n,
         cast(sum(y) OVER (PARTITION BY metric) AS bigint) AS s
  FROM g
), ex AS (
  SELECT metric, y, t, n, s,
         unnest([6, 8, 12, 24, 48, 84, 168]) AS period_h
  FROM d2
), fl AS (
  SELECT *, cast(n * y - s AS double) AS a,
         6.283185307179586 * (t % period_h) / period_h AS theta
  FROM ex WHERE n >= 2 * period_h
), gg AS (
  SELECT metric, period_h,
         cast(sum(cast(round(a * cos(theta) / n * 1e6) AS bigint))
              AS bigint) AS _sc,
         cast(sum(cast(round(a * sin(theta) / n * 1e6) AS bigint))
              AS bigint) AS _ss,
         cast(max(n) AS bigint) AS n_hours
  FROM fl GROUP BY 1, 2
)
SELECT metric, cast(period_h AS int) AS period_h, n_hours,
       round(2.0 * sqrt(cast(_sc AS double) * cast(_sc AS double)
                        + cast(_ss AS double) * cast(_ss AS double))
             / 1e6 / cast(n_hours AS double), 6) AS amp
FROM gg
""",
        "fano_factor": """
WITH hc AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         extract(hour FROM ts) AS _h, cast(count(*) AS bigint) AS c
  FROM events GROUP BY 1, 2, 3
)
SELECT metric, day_ts,
       cast(sum(c) AS bigint) AS n_events,
       cast(count(*) AS bigint) AS nonzero_hours,
       round(cast(24 * sum(c * c) - sum(c) * sum(c) AS double)
             / cast(24 * sum(c) AS double), 6) AS fano
FROM hc GROUP BY 1, 2
""",
        "cluster_terms": """
WITH RECURSIVE
uv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> x::DOUBLE / sqrt(list_dot_product(embedding::DOUBLE[],
                                                  embedding::DOUBLE[]))) AS v
  FROM embeddings
), prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM uv a JOIN uv b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v), 6) >= 0.35
), sym AS (
  SELECT id_a AS a, id_b AS b FROM prs
  UNION
  SELECT id_b, id_a FROM prs
), reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
), lbl AS (
  SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY 1
), tf AS (
  SELECT cluster, term, cast(count(*) AS bigint) AS tf
  FROM (
    SELECT l.cluster,
           unnest(regexp_split_to_array(lower(d.text), '\\s+')) AS term
    FROM documents d JOIN lbl l USING (doc_id)
  ) GROUP BY 1, 2
), ft AS (
  SELECT term, cast(sum(tf) AS bigint) AS f_all FROM tf GROUP BY 1
), tot AS (SELECT cast(sum(f_all) AS bigint) AS t_all FROM ft)
SELECT cluster, rank, term, tf, f_all, score FROM (
  SELECT tf.cluster, tf.term, tf.tf, ft.f_all,
         round(cast(tf.tf * tot.t_all AS double)
               / cast(ft.f_all AS double), 6) AS score,
         cast(row_number() OVER (
           PARTITION BY tf.cluster
           ORDER BY round(cast(tf.tf * tot.t_all AS double)
                          / cast(ft.f_all AS double), 6) DESC,
                    tf.term ASC
         ) AS int) AS rank
  FROM tf JOIN ft USING (term) CROSS JOIN tot
) WHERE rank <= 5
""",
        "moments": """
WITH g AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS hugeint) AS n,
         cast(sum(cast(round(value * 100) AS hugeint)) AS hugeint) AS s1,
         cast(sum(cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)) AS hugeint) AS s2,
         cast(sum(cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)) AS hugeint) AS s3,
         cast(sum(cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)
                  * cast(round(value * 100) AS hugeint)) AS hugeint) AS s4
  FROM events GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n AS bigint) AS n,
       round(cast(s1 AS double) / cast(n AS double) / 100, 6) AS mean,
       round(sqrt(cast(n * s2 - s1 * s1 AS double))
             / cast(n AS double) / 100, 6) AS std,
       CASE WHEN n * s2 - s1 * s1 > 0 THEN
         round(cast(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
                    AS double)
               / (cast(n * s2 - s1 * s1 AS double)
                  * sqrt(cast(n * s2 - s1 * s1 AS double))), 6)
       END AS skew_g1,
       CASE WHEN n * s2 - s1 * s1 > 0 THEN
         round(cast(n * n * n * s4 - 4 * n * n * s1 * s3
                    + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1
                    AS double)
               / (cast(n * s2 - s1 * s1 AS double)
                  * cast(n * s2 - s1 * s1 AS double)) - 3.0, 6)
       END AS kurt_excess
FROM g
""",
        "partial_corr": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         date_trunc('day', a.hour_ts) AS day_ts, a.y AS ya, b.y AS yb
  FROM h a JOIN h b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, day_ts, count(*) AS n,
         sum(ya) AS sa, sum(yb) AS sb,
         sum(ya * ya) AS saa, sum(yb * yb) AS sbb,
         sum(ya * yb) AS sab
  FROM p GROUP BY 1, 2, 3
), mm AS (
  SELECT metric_a, metric_b, day_ts,
         round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                     AND cast(n * sbb - sb * sb AS double) > 0
               THEN cast(n * sab - sa * sb AS double)
                    / sqrt(cast(n * saa - sa * sa AS double))
                    / sqrt(cast(n * sbb - sb * sb AS double)) END, 6) AS r
  FROM g WHERE n >= 4
), m2 AS (
  SELECT * FROM mm WHERE r IS NOT NULL
), sym AS (
  SELECT metric_a AS x, metric_b AS y, day_ts, r FROM m2
  UNION ALL
  SELECT metric_b, metric_a, day_ts, r FROM m2
)
SELECT xy.x AS metric_a, xy.y AS metric_b, xz.z AS control,
       xy.day_ts, xy.r_xy,
       CASE WHEN (1 - xz.r_xz * xz.r_xz) * (1 - yz.r_yz * yz.r_yz) > 0
            THEN round((xy.r_xy - xz.r_xz * yz.r_yz)
                       / sqrt((1 - xz.r_xz * xz.r_xz)
                              * (1 - yz.r_yz * yz.r_yz)), 6)
       END AS r_partial
FROM (SELECT metric_a AS x, metric_b AS y, day_ts, r AS r_xy FROM m2) xy
JOIN (SELECT x, y AS z, day_ts, r AS r_xz FROM sym) xz
  ON xz.day_ts = xy.day_ts AND xz.x = xy.x
JOIN (SELECT x AS y, y AS z, day_ts, r AS r_yz FROM sym) yz
  ON yz.day_ts = xy.day_ts AND yz.y = xy.y AND yz.z = xz.z
WHERE xz.z <> xy.y
""",
        "hurst": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), d2 AS (
  SELECT metric, y,
         cast((h_us - min(h_us) OVER (PARTITION BY metric))
              / 3600000000 AS bigint) AS t
  FROM g
), ex AS (
  SELECT metric, y, t, unnest([16, 32, 64, 128]) AS w FROM d2
), ex2 AS (
  SELECT metric, w, y, t, t // w AS blk, t % w + 1 AS k FROM ex
), z AS (
  SELECT metric, w, blk, k, y,
         cast(count(*) OVER wb AS bigint) AS _n,
         cast(sum(y) OVER wb AS bigint) AS s,
         cast(sum(y * y) OVER wb AS bigint) AS q,
         cast(sum(y) OVER (PARTITION BY metric, w, blk ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS bigint) AS cum
  FROM ex2
  WINDOW wb AS (PARTITION BY metric, w, blk)
), z2 AS (
  SELECT metric, w, blk, s, q, w * cum - k * s AS wz
  FROM z WHERE _n = w
), blk AS (
  SELECT metric, w, blk,
         w * max(q) - max(s) * max(s) AS s2,
         max(wz) - min(wz) AS rng
  FROM z2 GROUP BY 1, 2, 3
), per_w AS (
  SELECT metric, w, cast(count(*) AS bigint) AS nb,
         cast(sum(cast(round(ln(cast(rng AS double)
                                / sqrt(cast(s2 AS double))) * 1e6)
                       AS bigint)) AS bigint) AS su
  FROM blk WHERE s2 > 0 AND rng > 0 GROUP BY 1, 2
), pw2 AS (
  SELECT metric, w, nb,
         cast(su AS double) / 1e6 / cast(nb AS double) AS ybar
  FROM per_w
), piv AS (
  SELECT metric,
         max(CASE WHEN w = 16 THEN ybar END) AS y16,
         max(CASE WHEN w = 32 THEN ybar END) AS y32,
         max(CASE WHEN w = 64 THEN ybar END) AS y64,
         max(CASE WHEN w = 128 THEN ybar END) AS y128,
         cast(sum(nb) AS bigint) AS n_blocks
  FROM pw2 GROUP BY 1
)
SELECT metric, n_blocks,
       round(y16, 6) AS ln_rs_16, round(y32, 6) AS ln_rs_32,
       round(y64, 6) AS ln_rs_64, round(y128, 6) AS ln_rs_128,
       CASE WHEN y16 IS NOT NULL AND y32 IS NOT NULL
             AND y64 IS NOT NULL AND y128 IS NOT NULL THEN
         round(-0.432808512266689 * y16
               + -0.14426950408889622 * y32
               + 0.14426950408889638 * y64
               + 0.43280851226668915 * y128, 6)
       END AS hurst
FROM piv
""",
        "cusum_fixed": """
WITH base AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, cast(event_id AS int) AS turn_idx, value,
         cast(round(value * 100) AS bigint) - 5000 AS dev
  FROM events
), cum AS (
  SELECT conv_id, metric, ts, turn_idx, value,
         cast(sum(dev) OVER pre AS bigint) AS p
  FROM base
  WINDOW pre AS (PARTITION BY conv_id, metric ORDER BY ts, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), w AS (
  SELECT conv_id, metric, ts, turn_idx, value, p,
         least(cast(0 AS bigint), cast(min(p) OVER pre AS bigint)) AS lo,
         greatest(cast(0 AS bigint),
                  cast(max(p) OVER pre AS bigint)) AS hi
  FROM cum
  WINDOW pre AS (PARTITION BY conv_id, metric ORDER BY ts, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT conv_id, metric, ts, turn_idx, value,
       cast(p - lo AS double) / 100 AS s_plus,
       cast(hi - p AS double) / 100 AS s_minus,
       (cast(p - lo AS double) > 35000.0
        OR cast(hi - p AS double) > 35000.0) AS alert
FROM w
""",
        "zipf_fit": """
WITH tf AS (
  SELECT tok, cast(count(*) AS bigint) AS f FROM (
    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY 1
), tot AS (
  SELECT cast(count(*) AS bigint) AS vocab,
         cast(sum(f) AS bigint) AS n_tokens
  FROM tf
), ranked AS (
  SELECT tok, f,
         cast(row_number() OVER (ORDER BY f DESC, tok ASC) AS bigint) AS r
  FROM tf ORDER BY f DESC, tok ASC LIMIT 100
), m AS (
  SELECT cast(count(*) AS double) AS n,
         cast(sum(cast(round(ln(cast(r AS double)) * 1e6) AS bigint))
              AS double) AS sx,
         cast(sum(cast(round(ln(cast(r AS double))
                             * ln(cast(r AS double)) * 1e6) AS bigint))
              AS double) AS sxx,
         cast(sum(cast(round(ln(cast(f AS double)) * 1e6) AS bigint))
              AS double) AS sy,
         cast(sum(cast(round(ln(cast(f AS double))
                             * ln(cast(f AS double)) * 1e6) AS bigint))
              AS double) AS syy,
         cast(sum(cast(round(ln(cast(r AS double))
                             * ln(cast(f AS double)) * 1e6) AS bigint))
              AS double) AS sxy,
         min(CASE WHEN r = 1 THEN tok END) AS top_token
  FROM ranked
)
SELECT vocab, n_tokens,
       round((n * sxy * 1e6 - sx * sy)
             / (n * sxx * 1e6 - sx * sx), 6) AS zipf_alpha,
       round((n * sxy * 1e6 - sx * sy) * (n * sxy * 1e6 - sx * sy)
             / ((n * sxx * 1e6 - sx * sx)
                * (n * syy * 1e6 - sy * sy)), 6) AS r2,
       top_token
FROM m, tot
""",
        "dedup_cross_source": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), dfq AS (
  SELECT shingle, count(*) AS df FROM sh GROUP BY 1
), pd AS (
  SELECT doc_id, list(shingle ORDER BY df, shingle) AS arr,
         cast(count(*) AS int) AS sz
  FROM sh JOIN dfq USING (shingle) GROUP BY doc_id
), pre AS (
  SELECT doc_id,
         unnest(list_slice(arr, 1, sz - ((7 * sz + 10 - 1) // 10) + 1))
           AS shingle
  FROM pd
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pre a JOIN pre b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), v AS (
  SELECT id_a, id_b,
         cast(len(list_intersect(pa.arr, pb.arr)) AS int) AS inter_n,
         pa.sz + pb.sz AS szsum
  FROM cand
  JOIN pd pa ON id_a = pa.doc_id
  JOIN pd pb ON id_b = pb.doc_id
), ok AS (
  SELECT id_a, id_b FROM v
  WHERE 10 * inter_n >= 7 * (szsum - inter_n)
)
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       cast(count(*) AS bigint) AS n_pairs,
       least(da.source, db.source) <> greatest(da.source, db.source)
         AS cross
FROM ok
JOIN documents da ON ok.id_a = da.doc_id
JOIN documents db ON ok.id_b = db.doc_id
GROUP BY 1, 2, 4
""",
        "source_scorecard": """
WITH base AS (
  SELECT source, doc_id, md5(text) AS _h, length(text) AS n_chars,
         lower(text) AS lt,
         regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), ints AS (
  SELECT source, doc_id, _h, n_chars,
         cast(len(t) AS bigint) AS nt,
         cast(len(list_distinct(t)) AS bigint) AS nu,
         cast(len(list_filter(t, x -> x IN
           ('the','a','of','and','to','in','is','it'))) AS bigint) AS sc,
         cast(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
              AS bigint) AS bc
  FROM base
), hc AS (
  SELECT _h, count(*) AS _dn FROM ints GROUP BY 1
), per AS (
  SELECT source, cast(count(*) AS bigint) AS n_docs,
         cast(sum(CASE WHEN _dn > 1 THEN 1 ELSE 0 END) AS bigint)
           AS n_dup_docs,
         cast(sum(n_chars) AS bigint) AS schars,
         cast(sum(nt) AS bigint) AS st, cast(sum(nu) AS bigint) AS su,
         cast(sum(sc) AS bigint) AS ss, cast(sum(bc) AS bigint) AS sb
  FROM ints JOIN hc USING (_h) GROUP BY 1
), lid AS (
  SELECT doc_id, source,
         CASE WHEN len(regexp_extract_all(lower(text), '[a-z]')) > 0
              THEN cast(len(regexp_extract_all(lower(text), '[aeiou]'))
                        AS double)
                   / len(regexp_extract_all(lower(text), '[a-z]'))
              ELSE 0.0 END AS ratio
  FROM documents
), lmode AS (
  SELECT source,
         CASE WHEN ratio >= 0.46 THEN 'fi'
              WHEN ratio >= 0.42 THEN 'es'
              WHEN ratio >= 0.38 THEN 'en'
              WHEN ratio >= 0.34 THEN 'fr'
              ELSE 'de' END AS pred_lang,
         cast(count(*) AS bigint) AS lc
  FROM lid GROUP BY 1, 2
), top_lang AS (
  SELECT source, pred_lang AS top_lang, lc FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY lc DESC, pred_lang ASC) AS _r
    FROM lmode
  ) WHERE _r = 1
)
SELECT per.source, n_docs, n_dup_docs, schars AS total_chars,
       round(cast(st AS double) / n_docs, 6) AS tok_per_doc,
       round(cast(su AS double) / st, 6) AS uniq_ratio,
       round(cast(ss AS double) / st, 6) AS stop_ratio,
       round(cast(sb AS double) / schars, 6) AS bpe_per_char,
       top_lang,
       round(cast(lc AS double) / n_docs, 6) AS lang_share
FROM per JOIN top_lang ON top_lang.source = per.source
""",
        "assortativity": """
WITH active AS (
  SELECT DISTINCT cast(user_id AS bigint) AS u,
         date_trunc('hour', ts) AS b
  FROM events
), capped AS (
  SELECT u, b FROM active
  QUALIFY row_number() OVER (PARTITION BY b ORDER BY u) <= 24
), e AS (
  SELECT DISTINCT x.u AS a, y.u AS b
  FROM capped x JOIN capped y ON x.b = y.b AND x.u < y.u
), sym AS (
  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT a, cast(count(*) AS hugeint) AS d FROM sym GROUP BY 1
), j AS (
  SELECT d1.d AS da, d2.d AS db
  FROM sym JOIN deg d1 ON sym.a = d1.a JOIN deg d2 ON sym.b = d2.a
), m AS (
  SELECT cast(count(*) AS hugeint) AS n,
         sum(da) AS sx, sum(db) AS sy,
         sum(da * da) AS sxx, sum(db * db) AS syy,
         sum(da * db) AS sxy
  FROM j
), nodes AS (
  SELECT cast(count(*) AS bigint) AS n_nodes,
         cast(max(d) AS bigint) AS max_degree
  FROM deg
)
SELECT n_nodes, cast(n / 2 AS bigint) AS n_edges,
       round(cast(n AS double) / n_nodes, 6) AS mean_degree,
       max_degree,
       CASE WHEN cast(n * sxx - sx * sx AS double) > 0
             AND cast(n * syy - sy * sy AS double) > 0 THEN
         round(cast(n * sxy - sx * sy AS double)
               / (sqrt(cast(n * sxx - sx * sx AS double))
                  * sqrt(cast(n * syy - sy * sy AS double))), 6)
       END AS assortativity
FROM m, nodes
""",
        "psi_fixed": """
WITH hb AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         1 + (CASE WHEN cast(round(value * 100) AS bigint) > 500 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 1500 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 3000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 5000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 8000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 12000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 18000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 28000 THEN 1 ELSE 0 END) + (CASE WHEN cast(round(value * 100) AS bigint) > 40000 THEN 1 ELSE 0 END) AS bin,
         cast(count(*) AS bigint) AS c
  FROM events GROUP BY 1, 2, 3
), cums AS (
  SELECT metric, hour_ts,
         sum(CASE WHEN bin = 1 THEN c ELSE 0 END) OVER cw AS c1,
         sum(CASE WHEN bin = 2 THEN c ELSE 0 END) OVER cw AS c2,
         sum(CASE WHEN bin = 3 THEN c ELSE 0 END) OVER cw AS c3,
         sum(CASE WHEN bin = 4 THEN c ELSE 0 END) OVER cw AS c4,
         sum(CASE WHEN bin = 5 THEN c ELSE 0 END) OVER cw AS c5,
         sum(CASE WHEN bin = 6 THEN c ELSE 0 END) OVER cw AS c6,
         sum(CASE WHEN bin = 7 THEN c ELSE 0 END) OVER cw AS c7,
         sum(CASE WHEN bin = 8 THEN c ELSE 0 END) OVER cw AS c8,
         sum(CASE WHEN bin = 9 THEN c ELSE 0 END) OVER cw AS c9,
         sum(CASE WHEN bin = 10 THEN c ELSE 0 END) OVER cw AS c10
  FROM hb
  WINDOW cw AS (PARTITION BY metric ORDER BY hour_ts
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), per_hour AS (
  SELECT metric, hour_ts,
         cast(max(c1) AS bigint) AS c1,
         cast(max(c2) AS bigint) AS c2,
         cast(max(c3) AS bigint) AS c3,
         cast(max(c4) AS bigint) AS c4,
         cast(max(c5) AS bigint) AS c5,
         cast(max(c6) AS bigint) AS c6,
         cast(max(c7) AS bigint) AS c7,
         cast(max(c8) AS bigint) AS c8,
         cast(max(c9) AS bigint) AS c9,
         cast(max(c10) AS bigint) AS c10
  FROM cums GROUP BY 1, 2
), withn AS (
  SELECT *, c1 + c2 + c3 + c4 + c5 + c6 + c7 + c8 + c9 + c10 AS _n FROM per_hour
)
SELECT metric, hour_ts, cast(_n AS bigint) AS n_total,
       cast(cast(round(((10 * cast(greatest(c1, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c1, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c2, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c2, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c3, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c3, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c4, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c4, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c5, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c5, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c6, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c6, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c7, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c7, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c8, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c8, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c9, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c9, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) +
           cast(round(((10 * cast(greatest(c10, 1) AS double) - cast(_n AS double)) / (10 * cast(_n AS double))) * ln(10 * cast(greatest(c10, 1) AS double) / cast(_n AS double)) * 1e6) AS bigint) AS double) / 1e6 AS psi
FROM withn
""",
        "heavy_hitters_verified": """
WITH c AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS item,
         cast(count(*) AS bigint) AS n_item
  FROM events GROUP BY 1, 2
), t AS (
  SELECT conv_id, cast(sum(n_item) AS bigint) AS n_total
  FROM c GROUP BY 1
)
SELECT c.conv_id, item, n_item, n_total,
       round(cast(n_item AS double) / n_total, 6) AS share
FROM c JOIN t ON t.conv_id = c.conv_id
WHERE 8 * n_item >= n_total
""",
        "kcore_events": _kcore_oracle(10, 6),
        "adamic_adar": f"""
WITH {_MINUTE_COACT_CTES}, deg AS (
  SELECT a AS w, cast(count(*) AS bigint) AS d FROM und GROUP BY 1
), wd AS (
  SELECT w,
         1000000000000 // d AS ra_w,
         1000000000000
           // cast(floor(ln(cast(d AS double)) * 1000000.0) AS bigint)
           AS aa_w
  FROM deg WHERE d >= 2
), wedge AS (
  SELECT x.b AS u, y.b AS v, x.a AS w
  FROM und x JOIN und y ON x.a = y.a AND x.b < y.b
), sc AS (
  SELECT u, v, cast(count(*) AS bigint) AS common_n,
         cast(sum(ra_w) AS bigint) AS ra_p,
         cast(sum(aa_w) AS bigint) AS aa_p
  FROM wedge JOIN wd USING (w) GROUP BY 1, 2
)
SELECT u, v, common_n, ra_p, aa_p
FROM sc ORDER BY aa_p DESC, u, v LIMIT 100
""",
        "cvar_daily": """
WITH b AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), r AS (
  SELECT metric, day_ts, c,
         row_number() OVER (PARTITION BY metric, day_ts
                            ORDER BY c DESC) AS rn,
         count(*) OVER (PARTITION BY metric, day_ts) AS n
  FROM b
), k AS (
  SELECT *, (n + 19) // 20 AS kt FROM r
), t AS (
  SELECT metric, day_ts, n, kt,
         min(c) AS vc, cast(sum(c) AS bigint) AS tc
  FROM k WHERE rn <= kt GROUP BY 1, 2, 3, 4
)
SELECT metric, day_ts, cast(n AS bigint) AS n_points,
       cast(kt AS bigint) AS k_tail,
       round(cast(vc AS double) / 100.0, 6) AS var_amt,
       round(cast(tc AS double) / (100.0 * kt), 6) AS cvar_amt
FROM t
""",
        "conv_quality": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         epoch_us(ts) AS us, cast(round(value * 100) AS bigint) AS c
  FROM events
), per AS (
  SELECT conv_id, cast(count(*) AS bigint) AS n_turns,
         cast(count(DISTINCT metric) AS bigint) AS n_metrics,
         cast(max(us) - min(us) AS bigint) AS span_us,
         cast(sum(c) AS bigint) AS total_cents
  FROM s GROUP BY 1
)
SELECT conv_id, n_turns, n_metrics, span_us,
       CASE WHEN n_turns > 1
            THEN cast(span_us // (n_turns - 1) AS bigint) END
         AS mean_gap_us,
       total_cents,
       cast(10 * n_turns + 100 * n_metrics
            + least(span_us // 1000000, 3600) AS bigint) AS score_u
FROM per
""",
        "dedup_containment": f"""
WITH {_SHINGLE_CTES}, sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT id_a, id_b, cast(inter_n AS int) AS inter_n,
       cast(sa.sz AS bigint) AS sz_a, cast(sb.sz AS bigint) AS sz_b,
       round(cast(inter_n AS double) / sa.sz, 6) AS cont_a,
       round(cast(inter_n AS double) / sb.sz, 6) AS cont_b
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE inter_n * 100 >= 80 * least(sa.sz, sb.sz)
""",
        "label_prop": _lpa_oracle(4),
        "modularity_lpa": _modularity_oracle(4),
        "kmv_overlap": _kmv_oracle(64),
        "emb_auc": """
WITH base AS (
  SELECT vec_id AS vid, label AS lab,
         generate_subscripts(embedding, 1) AS dim,
         cast(round(unnest(embedding::DOUBLE[]) * 1e6) AS bigint) AS xu
  FROM embeddings
), cent AS (
  SELECT lab AS L, dim, cast(sum(xu) AS bigint) AS s
  FROM base WHERE vid % 2 = 0 GROUP BY 1, 2
), ncn AS (
  SELECT L, cast(sum(s * s) AS bigint) AS nc FROM cent GROUP BY 1
), dots AS (
  SELECT b.vid, b.lab, c.L,
         cast(sum(b.xu * c.s) AS bigint) AS dot,
         cast(sum(b.xu * b.xu) AS bigint) AS nv
  FROM base b JOIN cent c USING (dim)
  WHERE b.vid % 2 = 1
  GROUP BY 1, 2, 3
), scored AS (
  SELECT d.L,
         CASE WHEN d.lab = d.L THEN 1 ELSE 0 END AS y,
         cast(round(cast(dot AS double)
              / (sqrt(cast(nv AS double)) * sqrt(cast(n.nc AS double)))
              * 1e6) AS bigint) AS score_u
  FROM dots d JOIN ncn n USING (L)
), g AS (
  SELECT L, score_u, cast(sum(y) AS bigint) AS np,
         cast(sum(1 - y) AS bigint) AS nn
  FROM scored GROUP BY 1, 2
), cum AS (
  SELECT *, cast(coalesce(sum(nn) OVER (
           PARTITION BY L ORDER BY score_u
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS bigint) AS cumnn
  FROM g
), per AS (
  SELECT L AS label, cast(sum(np) AS bigint) AS n_pos,
         cast(sum(nn) AS bigint) AS n_neg,
         cast(sum(np * (2 * cumnn + nn)) AS bigint) AS u2
  FROM cum GROUP BY 1
)
SELECT label, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         round(cast(u2 AS double) / (2.0 * n_pos * n_neg), 6)
       END AS auc
FROM per
""",
        "bootstrap_ci": f"""
WITH s AS (
  SELECT event_type AS metric,
         cast(round(value * 100) AS bigint) AS c,
         cast(event_id AS bigint) AS eid
  FROM events
), reps AS (
  SELECT metric, c, eid, b
  FROM s CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS b) bs
), wtab AS (
  SELECT metric, c, b,
         {" + ".join(
             f"(CASE WHEN ('0x' || substr(md5(cast(eid AS varchar)"
             f" || ':' || cast(b AS varchar)), 1, 15))::BIGINT"
             f" >= {t} THEN 1 ELSE 0 END)"
             for t in [424136118829305344, 848272237658610688,
                       1060340297073263360, 1131029650211480960,
                       1148701988496035328, 1152236456152946176,
                       1152825534095764608, 1152909688087595776]
         )} AS w
  FROM reps
), rep AS (
  SELECT metric, b, cast(sum(w) AS bigint) AS sw,
         cast(sum(w * c) AS bigint) AS swc
  FROM wtab GROUP BY 1, 2
), mb AS (
  SELECT metric, b, cast(swc AS double) / cast(sw AS double) AS mean_b
  FROM rep WHERE sw > 0
), rk AS (
  SELECT metric, mean_b,
         row_number() OVER (PARTITION BY metric
                            ORDER BY mean_b, b) AS rk
  FROM mb
), ci AS (
  SELECT metric, max(CASE WHEN rk = 2 THEN mean_b END) AS lo_c,
         max(CASE WHEN rk = 31 THEN mean_b END) AS hi_c
  FROM rk GROUP BY 1
), pt AS (
  SELECT metric, cast(count(*) AS bigint) AS n_points,
         cast(sum(c) AS bigint) AS sc
  FROM s GROUP BY 1
)
SELECT pt.metric, n_points,
       round(cast(sc AS double) / (100.0 * n_points), 6) AS mean_amt,
       round(lo_c / 100.0, 6) AS boot_lo,
       round(hi_c / 100.0, 6) AS boot_hi
FROM pt JOIN ci USING (metric)
""",
        "markov_accuracy": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS conv_id, event_type AS metric,
         ts, cast(event_id AS int) AS turn_idx
  FROM events
), tr AS (
  SELECT lag(metric) OVER (PARTITION BY conv_id
                           ORDER BY epoch_us(ts), turn_idx) AS prev,
         metric AS nxt, ts
  FROM s
), b AS (
  SELECT date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1
  FROM s
), sp AS (
  SELECT d0 + (cast((date_diff('day', d0, d1) * 3) // 5 AS int)
               * INTERVAL 1 DAY) AS split_ts
  FROM b
), trn AS (
  SELECT prev, nxt FROM tr, sp
  WHERE prev IS NOT NULL AND ts < split_ts
), model AS (
  SELECT prev, nxt AS pred FROM (
    SELECT prev, nxt, count(*) AS cnt,
           row_number() OVER (PARTITION BY prev
                              ORDER BY count(*) DESC, nxt) AS r
    FROM trn GROUP BY 1, 2
  ) WHERE r = 1
), ev AS (
  SELECT prev, nxt FROM tr, sp
  WHERE prev IS NOT NULL AND ts >= split_ts
)
SELECT ev.prev, pred,
       cast(count(*) AS bigint) AS n_eval,
       cast(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS bigint)
         AS n_hit,
       round(cast(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END)
                  AS double) / count(*), 6) AS accuracy
FROM ev JOIN model ON ev.prev = model.prev
GROUP BY 1, 2
""",
        "stl_anomaly": f"""
WITH {_STL_CTES}, base AS (
  SELECT metric, bucket_ts, mean_v, resid,
         cast(round(resid * 1e6) AS bigint) AS ru
  FROM stl
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY metric
                               ORDER BY ru, bucket_ts) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM base
), qs AS (
  SELECT metric,
         max(CASE WHEN rn = (n + 3) // 4 THEN ru END) AS q1,
         max(CASE WHEN rn = (3 * n + 3) // 4 THEN ru END) AS q3
  FROM ranked GROUP BY 1
), f AS (
  SELECT metric, q1 - 3 * (q3 - q1) AS lo, q3 + 3 * (q3 - q1) AS hi
  FROM qs
)
SELECT b.metric, bucket_ts, mean_v, resid,
       round(cast(lo AS double) / 1e6, 6) AS fence_lo,
       round(cast(hi AS double) / 1e6, 6) AS fence_hi,
       CASE WHEN ru > hi THEN 'high' ELSE 'low' END AS side
FROM base b JOIN f ON b.metric = f.metric
WHERE ru < lo OR ru > hi
""",
        "ndcg_int8": f"""
WITH {_UV_CTE},
qz AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS s,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(v, x ->
                round(x * 127.0 / list_max(list_transform(v, y -> abs(y)))))
              ELSE list_transform(v, x -> x * 0.0)
         END AS q
  FROM uv
), exact AS (
  SELECT qid, nid, 11 - r AS rel FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), approx AS (
  SELECT qid, nid,
         ([1000000, 630930, 500000, 430677, 386853, 356207,
           333333, 315465, 301030, 289065])[r] AS wp
  FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.q, c.q) * a.s * c.s
                            / (127.0 * 127.0), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), per AS (
  SELECT p.qid,
         cast(sum(coalesce(e.rel, 0) * p.wp) AS bigint) AS dcg_u
  FROM approx p LEFT JOIN exact e ON e.qid = p.qid AND e.nid = p.nid
  GROUP BY 1
)
SELECT qid, cast(10 AS int) AS k, dcg_u,
       round(cast(dcg_u AS double) / 29966114.0, 6) AS ndcg
FROM per
""",
        "did_readout": """
WITH s AS (
  SELECT cast(user_id AS varchar) AS unit, ts,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), bnd AS (
  SELECT date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1
  FROM events
), sp AS (
  SELECT d0 + (cast((date_diff('day', d0, d1) * 3) // 5 AS int)
               * INTERVAL 1 DAY) AS split_ts
  FROM bnd
), per AS (
  SELECT unit,
         CASE WHEN ts < split_ts THEN 'pre' ELSE 'post' END AS period,
         cast((sum(c) * 10000) // count(*) AS bigint) AS mu
  FROM s, sp GROUP BY 1, 2
), asg AS (
  SELECT unit, period, mu,
         CASE WHEN ('0x' || substr(md5(unit), 1, 4))::BIGINT < 32768
              THEN 'B' ELSE 'A' END AS arm
  FROM per
), cells AS (
  SELECT
    cast(sum(CASE WHEN arm = 'A' AND period = 'pre' THEN 1 ELSE 0 END) AS bigint) AS n_a_pre,
    cast(sum(CASE WHEN arm = 'A' AND period = 'pre' THEN mu ELSE 0 END) AS bigint) AS sx_a_pre,
    cast(sum(CASE WHEN arm = 'A' AND period = 'pre' THEN mu * mu ELSE 0 END) AS bigint) AS sxx_a_pre,
    cast(sum(CASE WHEN arm = 'A' AND period = 'post' THEN 1 ELSE 0 END) AS bigint) AS n_a_post,
    cast(sum(CASE WHEN arm = 'A' AND period = 'post' THEN mu ELSE 0 END) AS bigint) AS sx_a_post,
    cast(sum(CASE WHEN arm = 'A' AND period = 'post' THEN mu * mu ELSE 0 END) AS bigint) AS sxx_a_post,
    cast(sum(CASE WHEN arm = 'B' AND period = 'pre' THEN 1 ELSE 0 END) AS bigint) AS n_b_pre,
    cast(sum(CASE WHEN arm = 'B' AND period = 'pre' THEN mu ELSE 0 END) AS bigint) AS sx_b_pre,
    cast(sum(CASE WHEN arm = 'B' AND period = 'pre' THEN mu * mu ELSE 0 END) AS bigint) AS sxx_b_pre,
    cast(sum(CASE WHEN arm = 'B' AND period = 'post' THEN 1 ELSE 0 END) AS bigint) AS n_b_post,
    cast(sum(CASE WHEN arm = 'B' AND period = 'post' THEN mu ELSE 0 END) AS bigint) AS sx_b_post,
    cast(sum(CASE WHEN arm = 'B' AND period = 'post' THEN mu * mu ELSE 0 END) AS bigint) AS sxx_b_post
  FROM asg
)
SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
  round((cast(sx_a_pre AS double) / n_a_pre) / 1e6, 6) AS mean_a_pre,
  round((cast(sx_a_post AS double) / n_a_post) / 1e6, 6) AS mean_a_post,
  round((cast(sx_b_pre AS double) / n_b_pre) / 1e6, 6) AS mean_b_pre,
  round((cast(sx_b_post AS double) / n_b_post) / 1e6, 6) AS mean_b_post,
  round(((cast(sx_b_post AS double) / n_b_post
          - cast(sx_b_pre AS double) / n_b_pre)
         - (cast(sx_a_post AS double) / n_a_post
            - cast(sx_a_pre AS double) / n_a_pre)) / 1e6, 6) AS did,
  round(sqrt(
      (n_a_pre * cast(sxx_a_pre AS double) - cast(sx_a_pre AS double) * cast(sx_a_pre AS double))
        / (cast(n_a_pre AS double) * n_a_pre * (n_a_pre - 1))
    + (n_a_post * cast(sxx_a_post AS double) - cast(sx_a_post AS double) * cast(sx_a_post AS double))
        / (cast(n_a_post AS double) * n_a_post * (n_a_post - 1))
    + (n_b_pre * cast(sxx_b_pre AS double) - cast(sx_b_pre AS double) * cast(sx_b_pre AS double))
        / (cast(n_b_pre AS double) * n_b_pre * (n_b_pre - 1))
    + (n_b_post * cast(sxx_b_post AS double) - cast(sx_b_post AS double) * cast(sx_b_post AS double))
        / (cast(n_b_post AS double) * n_b_post * (n_b_post - 1))
  ) / 1e6, 6) AS se,
  round((((cast(sx_b_post AS double) / n_b_post
           - cast(sx_b_pre AS double) / n_b_pre)
          - (cast(sx_a_post AS double) / n_a_post
             - cast(sx_a_pre AS double) / n_a_pre)))
        / sqrt(
      (n_a_pre * cast(sxx_a_pre AS double) - cast(sx_a_pre AS double) * cast(sx_a_pre AS double))
        / (cast(n_a_pre AS double) * n_a_pre * (n_a_pre - 1))
    + (n_a_post * cast(sxx_a_post AS double) - cast(sx_a_post AS double) * cast(sx_a_post AS double))
        / (cast(n_a_post AS double) * n_a_post * (n_a_post - 1))
    + (n_b_pre * cast(sxx_b_pre AS double) - cast(sx_b_pre AS double) * cast(sx_b_pre AS double))
        / (cast(n_b_pre AS double) * n_b_pre * (n_b_pre - 1))
    + (n_b_post * cast(sxx_b_post AS double) - cast(sx_b_post AS double) * cast(sx_b_post AS double))
        / (cast(n_b_post AS double) * n_b_post * (n_b_post - 1))
  ), 6) AS z
FROM cells
""",
        "rate_decomposition": """
WITH b AS (
  SELECT date_trunc('day', min(ts)) AS d0,
         date_trunc('day', max(ts)) AS d1
  FROM events
), sp AS (
  SELECT d0 + (cast((date_diff('day', d0, d1) * 1) // 2 AS int)
               * INTERVAL 1 DAY) AS split_ts
  FROM b
), rows_t AS (
  SELECT ('0x' || substr(md5(cast(user_id AS varchar)), 1, 4))::INT % 4
           AS segment,
         ts < split_ts AS is_a,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e
  FROM events, sp
), cells AS (
  SELECT segment,
         cast(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS bigint) AS n_a,
         cast(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS bigint) AS n_b,
         cast(coalesce(sum(CASE WHEN is_a THEN e END), 0) AS bigint)
           AS err_a,
         cast(coalesce(sum(CASE WHEN is_a THEN NULL ELSE e END), 0)
              AS bigint) AS err_b
  FROM rows_t GROUP BY 1
), tot AS (
  SELECT cast(sum(n_a) AS bigint) AS tn_a,
         cast(sum(n_b) AS bigint) AS tn_b
  FROM cells
)
SELECT segment, n_a, n_b, err_a, err_b,
       round(cast(n_a AS double) / tn_a, 6) AS w_a,
       round(cast(n_b AS double) / tn_b, 6) AS w_b,
       CASE WHEN n_a > 0
            THEN round(cast(err_a AS double) / n_a, 6) END AS rate_a,
       CASE WHEN n_b > 0
            THEN round(cast(err_b AS double) / n_b, 6) END AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round((cast(n_b AS double) / tn_b - cast(n_a AS double) / tn_a)
               * (cast(err_a AS double) / n_a), 6) END AS mix_effect,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round((cast(n_b AS double) / tn_b)
               * (cast(err_b AS double) / n_b
                  - cast(err_a AS double) / n_a), 6) END AS rate_effect
FROM cells CROSS JOIN tot
""",
        "croston": """
WITH RECURSIVE h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(count(*) AS bigint) AS demand
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, hour_ts, demand,
         coalesce(
           epoch_us(hour_ts) // 3600000000
           - lag(epoch_us(hour_ts) // 3600000000)
             OVER (PARTITION BY metric ORDER BY hour_ts),
           1) AS gap,
         row_number() OVER (PARTITION BY metric
                            ORDER BY hour_ts) AS rn
  FROM h
), r AS (
  SELECT metric, hour_ts, demand, gap, rn,
         demand * 1000000 AS z_u, gap * 1000000 AS p_u
  FROM g WHERE rn = 1
  UNION ALL
  SELECT g.metric, g.hour_ts, g.demand, g.gap, g.rn,
         (7 * r.z_u + 3 * g.demand * 1000000) // 10,
         (7 * r.p_u + 3 * g.gap * 1000000) // 10
  FROM r JOIN g ON g.metric = r.metric AND g.rn = r.rn + 1
)
SELECT metric, hour_ts, demand, cast(gap AS bigint) AS gap,
       cast(z_u AS bigint) AS z_u, cast(p_u AS bigint) AS p_u,
       cast(z_u * 1000000 // p_u AS bigint) AS forecast_u,
       cast(z_u * 1000000 // p_u AS double) / 1e6 AS forecast
FROM r
""",
        "mrr_int8": f"""
WITH {_UV_CTE},
qz AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS s,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(v, x ->
                round(x * 127.0 / list_max(list_transform(v, y -> abs(y)))))
              ELSE list_transform(v, x -> x * 0.0)
         END AS q
  FROM uv
), top1 AS (
  SELECT qid, nid AS exact_top1 FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r = 1
), approx AS (
  SELECT qid, nid, r AS pb FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.q, c.q) * a.s * c.s
                            / (127.0 * 127.0), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
)
SELECT t.qid, cast(10 AS int) AS k, t.exact_top1,
       cast(p.pb AS bigint) AS int8_pos,
       cast(coalesce(2520 // p.pb, 0) AS bigint) AS rr_u,
       round(cast(coalesce(2520 // p.pb, 0) AS double) / 2520.0, 6)
         AS rr
FROM top1 t
LEFT JOIN approx p ON p.qid = t.qid AND p.nid = t.exact_top1
""",
        "rbo_int8": f"""
WITH {_UV_CTE},
qz AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS s,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
              THEN list_transform(v, x ->
                round(x * 127.0 / list_max(list_transform(v, y -> abs(y)))))
              ELSE list_transform(v, x -> x * 0.0)
         END AS q
  FROM uv
), exact AS (
  SELECT qid, nid, r AS pa FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.v, c.v), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), approx AS (
  SELECT qid, nid, r AS pb FROM (
    SELECT a.vec_id AS qid, c.vec_id AS nid,
           row_number() OVER (PARTITION BY a.vec_id
             ORDER BY round(list_dot_product(a.q, c.q) * a.s * c.s
                            / (127.0 * 127.0), 6) DESC,
                      c.vec_id) AS r
    FROM qz a JOIN qz c ON c.vec_id <> a.vec_id
    WHERE a.vec_id < 5
  ) WHERE r <= 10
), common AS (
  SELECT e.qid,
         ([5932493265528, 3412493265528, 2278493265528, 1598093265528,
           1138823265528, 808148865528, 560143065528, 368824305528,
           218160782028, 97629963228])[greatest(pa, pb)] AS contrib
  FROM exact e JOIN approx p ON e.qid = p.qid AND e.nid = p.nid
), per AS (
  SELECT qid, cast(count(*) AS bigint) AS n_common,
         cast(sum(contrib) AS bigint) AS rbo_u
  FROM common GROUP BY 1
)
SELECT q.qid, cast(10 AS int) AS k,
       cast(coalesce(n_common, 0) AS bigint) AS n_common,
       cast(coalesce(rbo_u, 0) AS bigint) AS rbo_u,
       round(cast(coalesce(rbo_u, 0) AS double) / 16413303309480.0, 6)
         AS rbo
FROM (SELECT DISTINCT qid FROM exact) q LEFT JOIN per USING (qid)
""",
        "slo_burn": """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_ts,
         cast(count(*) AS bigint) AS n_total,
         cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS bigint) AS n_err
  FROM events GROUP BY 1
), fan AS (
  SELECT n_total, n_err,
         unnest(generate_series(epoch_us(hour_ts) // 3600000000,
                                epoch_us(hour_ts) // 3600000000 + 5))
           AS hw
  FROM hourly
), s6 AS (
  SELECT hw, cast(sum(n_total) AS bigint) AS t6,
         cast(sum(n_err) AS bigint) AS e6
  FROM fan GROUP BY 1
)
SELECT hour_ts, n_total, n_err, t6 AS n_total_6h, e6 AS n_err_6h,
       round(100.0 * n_err / n_total, 6) AS burn_1h,
       round(100.0 * e6 / t6, 6) AS burn_6h,
       (500 * n_err > 72 * n_total AND 50 * e6 > 3 * t6) AS page
FROM hourly JOIN s6 ON epoch_us(hour_ts) // 3600000000 = s6.hw
""",
        "ar2_forecast": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts, hour_ts, y,
         lag(y, 1) OVER (PARTITION BY metric, date_trunc('day', hour_ts)
                         ORDER BY hour_ts) AS y1,
         lag(y, 2) OVER (PARTITION BY metric, date_trunc('day', hour_ts)
                         ORDER BY hour_ts) AS y2
  FROM h
), g AS (
  SELECT metric, day_ts, cast(count(*) AS hugeint) AS n,
         sum(y) AS s,
         sum(y * y) AS p0, sum(y * y1) AS p1, sum(y * y2) AS p2,
         sum(y1) AS a1,
         sum(CASE WHEN y1 IS NOT NULL THEN y END) AS b1,
         sum(y2) AS a2,
         sum(CASE WHEN y2 IS NOT NULL THEN y END) AS b2,
         max_by(y, hour_ts) AS xn, max_by(y1, hour_ts) AS xn1
  FROM l GROUP BY 1, 2 HAVING count(*) >= 8
), c AS (
  SELECT metric, day_ts, n, s, xn, xn1,
         cast(n * n * p0 - n * s * (s + s) + n * s * s AS double) AS c0,
         cast(n * n * p1 - n * s * (a1 + b1) + (n - 1) * s * s
              AS double) AS c1,
         cast(n * n * p2 - n * s * (a2 + b2) + (n - 2) * s * s
              AS double) AS c2
  FROM g
), ph AS (
  SELECT metric, day_ts, n, s, xn, xn1, c0, c1, c2,
         CASE WHEN c0 * c0 - c1 * c1 <> 0
              THEN c1 * (c0 - c2) / (c0 * c0 - c1 * c1) END AS phi1,
         CASE WHEN c0 * c0 - c1 * c1 <> 0
              THEN (c2 * c0 - c1 * c1) / (c0 * c0 - c1 * c1) END AS phi2
  FROM c WHERE c0 > 0
)
SELECT metric, day_ts, cast(n AS bigint) AS n_hours,
       round(c1 / c0, 6) AS r1, round(c2 / c0, 6) AS r2,
       round(phi1, 6) AS phi1, round(phi2, 6) AS phi2,
       round((cast(s AS double) / cast(n AS double)
              + phi1 * (cast(xn AS double)
                        - cast(s AS double) / cast(n AS double))
              + phi2 * (cast(xn1 AS double)
                        - cast(s AS double) / cast(n AS double)))
             / 100.0, 6) AS forecast
FROM ph
""",
        "variance_ratio": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         y - lag(y, 1) OVER (PARTITION BY metric,
                             date_trunc('day', hour_ts)
                             ORDER BY hour_ts) AS d1,
         y - lag(y, 4) OVER (PARTITION BY metric,
                             date_trunc('day', hour_ts)
                             ORDER BY hour_ts) AS dq
  FROM h
), g AS (
  SELECT metric, day_ts,
         cast(count(d1) AS hugeint) AS n1, sum(d1) AS s1,
         sum(d1 * d1) AS s11,
         cast(count(dq) AS hugeint) AS nq, sum(dq) AS sq,
         sum(dq * dq) AS sqq
  FROM l GROUP BY 1, 2
  HAVING count(d1) + 1 >= 10 AND count(dq) >= 2
), v AS (
  SELECT metric, day_ts, n1, nq,
         cast(n1 * s11 - s1 * s1 AS double) AS var1,
         cast(nq * sqq - sq * sq AS double) AS varq
  FROM g
)
SELECT metric, day_ts, cast(4 AS int) AS q,
       cast(n1 AS bigint) AS n1, cast(nq AS bigint) AS nq,
       round(varq * cast(n1 AS double) * cast(n1 AS double)
             / (4.0 * cast(nq AS double) * cast(nq AS double) * var1),
             6) AS vr
FROM v WHERE var1 > 0
""",
        "runs_test": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), d AS (
  SELECT * FROM (
    SELECT metric, date_trunc('day', hour_ts) AS day_ts, hour_ts,
           y - lag(y, 1) OVER (PARTITION BY metric,
                               date_trunc('day', hour_ts)
                               ORDER BY hour_ts) AS d
    FROM h
  ) WHERE d IS NOT NULL AND d <> 0
), sg AS (
  SELECT metric, day_ts,
         CASE WHEN d > 0 THEN 1 ELSE 0 END AS s,
         lag(CASE WHEN d > 0 THEN 1 ELSE 0 END, 1)
           OVER (PARTITION BY metric, day_ts ORDER BY hour_ts) AS sp
  FROM d
), g AS (
  SELECT metric, day_ts,
         cast(sum(s) AS bigint) AS pos,
         cast(sum(1 - s) AS bigint) AS neg,
         cast(1 + sum(CASE WHEN sp IS NOT NULL AND s <> sp
                           THEN 1 ELSE 0 END) AS bigint) AS runs
  FROM sg GROUP BY 1, 2
  HAVING sum(s) > 0 AND sum(1 - s) > 0 AND count(*) >= 8
)
SELECT metric, day_ts, pos, neg, runs,
       round(CASE WHEN 2.0 * pos * neg
                       * (2.0 * pos * neg - (cast(pos AS double)
                                             + cast(neg AS double)))
                       / ((cast(pos AS double) + cast(neg AS double))
                          * (cast(pos AS double) + cast(neg AS double))
                          * (cast(pos AS double) + cast(neg AS double)
                             - 1.0)) > 0
             THEN (cast(runs AS double)
                   - (2.0 * pos * neg / (cast(pos AS double)
                                         + cast(neg AS double)) + 1.0))
                  / sqrt(2.0 * pos * neg
                         * (2.0 * pos * neg - (cast(pos AS double)
                                               + cast(neg AS double)))
                         / ((cast(pos AS double) + cast(neg AS double))
                            * (cast(pos AS double)
                               + cast(neg AS double))
                            * (cast(pos AS double)
                               + cast(neg AS double) - 1.0)))
             END, 6) AS z
FROM g
""",
        "turning_points": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), d AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         y - lag(y, 1) OVER (PARTITION BY metric,
                             date_trunc('day', hour_ts)
                             ORDER BY hour_ts) AS db,
         lead(y, 1) OVER (PARTITION BY metric,
                          date_trunc('day', hour_ts)
                          ORDER BY hour_ts) - y AS df
  FROM h
), g AS (
  SELECT metric, day_ts, cast(count(*) AS bigint) AS n_hours,
         cast(sum(CASE WHEN (db > 0 AND df < 0)
                         OR (db < 0 AND df > 0)
                       THEN 1 ELSE 0 END) AS bigint) AS tp
  FROM d GROUP BY 1, 2 HAVING count(*) >= 8
)
SELECT metric, day_ts, n_hours, tp,
       round((cast(tp AS double)
              - 2.0 * (cast(n_hours AS double) - 2.0) / 3.0)
             / sqrt((16.0 * cast(n_hours AS double) - 29.0) / 90.0),
             6) AS z
FROM g
""",
        "allan_variance": """
WITH h AS (
  SELECT event_type AS metric,
         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
),
b1 AS (SELECT metric, hidx AS bkt, sum(y) AS sb
       FROM h GROUP BY 1, 2 HAVING count(*) = 1),
d1 AS (SELECT metric,
              bkt - lag(bkt) OVER (PARTITION BY metric ORDER BY bkt)
                AS gap,
              sb - lag(sb) OVER (PARTITION BY metric ORDER BY bkt)
                AS dd
       FROM b1),
g1 AS (SELECT metric, cast(count(*) AS bigint) AS m_pairs,
              sum(dd * dd) AS num
       FROM d1 WHERE gap = 1 GROUP BY 1 HAVING count(*) >= 2),
b2 AS (SELECT metric, hidx // 2 AS bkt, sum(y) AS sb
       FROM h GROUP BY 1, 2 HAVING count(*) = 2),
d2 AS (SELECT metric,
              bkt - lag(bkt) OVER (PARTITION BY metric ORDER BY bkt)
                AS gap,
              sb - lag(sb) OVER (PARTITION BY metric ORDER BY bkt)
                AS dd
       FROM b2),
g2 AS (SELECT metric, cast(count(*) AS bigint) AS m_pairs,
              sum(dd * dd) AS num
       FROM d2 WHERE gap = 1 GROUP BY 1 HAVING count(*) >= 2),
b4 AS (SELECT metric, hidx // 4 AS bkt, sum(y) AS sb
       FROM h GROUP BY 1, 2 HAVING count(*) = 4),
d4 AS (SELECT metric,
              bkt - lag(bkt) OVER (PARTITION BY metric ORDER BY bkt)
                AS gap,
              sb - lag(sb) OVER (PARTITION BY metric ORDER BY bkt)
                AS dd
       FROM b4),
g4 AS (SELECT metric, cast(count(*) AS bigint) AS m_pairs,
              sum(dd * dd) AS num
       FROM d4 WHERE gap = 1 GROUP BY 1 HAVING count(*) >= 2)
SELECT metric, cast(1 AS int) AS tau_h, m_pairs,
       cast(num AS double) AS avar_num,
       round(cast(num AS double)
             / (2.0 * cast(m_pairs AS double) * 10000.0), 6) AS avar
FROM g1
UNION ALL
SELECT metric, cast(2 AS int) AS tau_h, m_pairs,
       cast(num AS double) AS avar_num,
       round(cast(num AS double)
             / (2.0 * cast(m_pairs AS double) * 40000.0), 6) AS avar
FROM g2
UNION ALL
SELECT metric, cast(4 AS int) AS tau_h, m_pairs,
       cast(num AS double) AS avar_num,
       round(cast(num AS double)
             / (2.0 * cast(m_pairs AS double) * 160000.0), 6) AS avar
FROM g4
""",
        "page_hinkley": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT metric, sum(y) AS s_all,
         cast(count(*) AS hugeint) AS n_all
  FROM h GROUP BY 1
), cum AS (
  SELECT h.metric, h.hour_ts, t.n_all,
         t.n_all * sum(h.y) OVER (PARTITION BY h.metric
                                  ORDER BY h.hour_ts
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
         - cast(count(*) OVER (PARTITION BY h.metric
                               ORDER BY h.hour_ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS hugeint) * t.s_all
           AS mprime
  FROM h JOIN tot t ON h.metric = t.metric
), exc AS (
  SELECT metric, hour_ts, n_all,
         mprime - min(mprime) OVER (PARTITION BY metric
                                    ORDER BY hour_ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS exc
  FROM cum
), best AS (
  SELECT metric, cast(max(n_all) AS bigint) AS n_hours,
         max(exc) AS ph_raw, max(n_all) AS n0
  FROM exc GROUP BY 1
), hit AS (
  SELECT e.metric, min(e.hour_ts) AS ph_hour_ts
  FROM exc e JOIN best b ON e.metric = b.metric AND e.exc = b.ph_raw
  GROUP BY 1
)
SELECT b.metric, b.n_hours,
       round(cast(b.ph_raw AS double)
             / (cast(b.n0 AS double) * 100.0), 6) AS ph_max,
       t.ph_hour_ts
FROM best b JOIN hit t ON b.metric = t.metric
""",
        "chi2_independence": """
WITH cells AS (
  SELECT event_type AS rv, dayofweek(ts) AS cv,
         cast(count(*) AS bigint) AS o
  FROM events GROUP BY 1, 2
), rt AS (SELECT rv, cast(sum(o) AS hugeint) AS r FROM cells GROUP BY 1),
ct AS (SELECT cv, cast(sum(o) AS hugeint) AS c FROM cells GROUP BY 1),
tt AS (SELECT cast(sum(o) AS hugeint) AS nn FROM cells),
full_g AS (
  SELECT rt.rv, ct.cv, tt.nn, rt.r, ct.c,
         cast(coalesce(cells.o, 0) AS hugeint) AS o
  FROM rt CROSS JOIN ct CROSS JOIN tt
  LEFT JOIN cells ON cells.rv = rt.rv AND cells.cv = ct.cv
), t AS (
  SELECT rv, cv, nn,
         cast(round(cast((nn * o - r * c) * (nn * o - r * c) AS double)
                    / cast(nn * r * c AS double) * 1000000.0)
              AS bigint) AS t_u
  FROM full_g
)
SELECT cast(max(nn) AS bigint) AS n_events,
       cast(count(DISTINCT rv) AS bigint) AS n_rows,
       cast(count(DISTINCT cv) AS bigint) AS n_cols,
       cast((count(DISTINCT rv) - 1) * (count(DISTINCT cv) - 1)
            AS bigint) AS df,
       round(cast(sum(t_u) AS double) / 1000000.0, 6) AS chi2
FROM t
""",
        "kruskal_wallis": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), r AS (
  SELECT metric, dayofweek(hour_ts) AS dow, y,
         2 * rank() OVER (PARTITION BY metric ORDER BY y)
           + count(*) OVER (PARTITION BY metric, y) - 1 AS r2
  FROM h
), pg AS (
  SELECT metric, dow, cast(count(*) AS hugeint) AS ng,
         cast(sum(r2) AS hugeint) AS r2g
  FROM r GROUP BY 1, 2
), pm AS (
  SELECT metric, cast(sum(ng) AS hugeint) AS n,
         cast(count(*) AS bigint) AS k_groups,
         sum((r2g * r2g * 250000) // ng) AS s_u
  FROM pg GROUP BY 1
), tie AS (
  SELECT metric, sum(t * t * t - t) AS tt
  FROM (SELECT metric, y, cast(count(*) AS hugeint) AS t
        FROM h GROUP BY 1, 2)
  GROUP BY 1
)
SELECT pm.metric, cast(n AS bigint) AS n_hours, k_groups,
       cast(tt AS bigint) AS tie_sum,
       round(CASE WHEN k_groups >= 2
                   AND 1.0 - cast(tt AS double)
                       / cast(n * n * n - n AS double) > 0
             THEN (12.0 * (cast(s_u AS double) / 1000000.0)
                   / (cast(n AS double) * (cast(n AS double) + 1.0))
                   - 3.0 * (cast(n AS double) + 1.0))
                  / (1.0 - cast(tt AS double)
                     / cast(n * n * n - n AS double))
             END, 6) AS h
FROM pm JOIN tie ON pm.metric = tie.metric
""",
        "sign_test_dod": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric, a.hour_ts, a.y, b.y AS y_prev
  FROM h a JOIN h b
    ON a.metric = b.metric
   AND b.hour_ts + INTERVAL 24 HOUR = a.hour_ts
), g AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         cast(sum(CASE WHEN y > y_prev THEN 1 ELSE 0 END)
              AS bigint) AS wins,
         cast(sum(CASE WHEN y < y_prev THEN 1 ELSE 0 END)
              AS bigint) AS losses
  FROM p GROUP BY 1, 2
)
SELECT metric, day_ts, wins + losses AS n_pairs, wins, losses,
       round((cast(wins AS double) - cast(losses AS double))
             / sqrt(cast(wins AS double) + cast(losses AS double)),
             6) AS z
FROM g WHERE wins + losses >= 6
""",
        "record_counts": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), f AS (
  SELECT metric,
         CASE WHEN max(y) OVER w IS NULL OR y > max(y) OVER w
              THEN 1 ELSE 0 END AS up,
         CASE WHEN min(y) OVER w IS NULL OR y < min(y) OVER w
              THEN 1 ELSE 0 END AS down
  FROM h
  WINDOW w AS (PARTITION BY metric ORDER BY hour_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), g AS (
  SELECT metric, cast(count(*) AS bigint) AS n_hours,
         cast(sum(up) AS bigint) AS up_records,
         cast(sum(down) AS bigint) AS down_records
  FROM f GROUP BY 1
), harm AS (
  SELECT metric, cast(sum(1000000 // k) AS bigint) AS h_u
  FROM (SELECT metric, unnest(generate_series(1, n_hours)) AS k
        FROM g)
  GROUP BY 1
)
SELECT g.metric, n_hours, up_records, down_records,
       round(cast(h_u AS double) / 1000000.0, 6) AS expected_records
FROM g JOIN harm ON g.metric = harm.metric
""",
        "engle_granger": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS mx, b.metric AS my, a.hour_ts,
         a.y AS vx, b.y AS vy
  FROM h a JOIN h b ON a.hour_ts = b.hour_ts
  WHERE a.metric <> b.metric
), mom AS (
  SELECT mx, my, cast(count(*) AS hugeint) AS n,
         sum(vx) AS sx, sum(vy) AS sy,
         sum(vx * vx) AS sxx, sum(vx * vy) AS sxy
  FROM p GROUP BY 1, 2 HAVING count(*) >= 48
), mc AS (
  SELECT mx, my, n, sx, sy,
         n * sxx - sx * sx AS sxxc, n * sxy - sx * sy AS sxyc
  FROM mom WHERE n * sxx - sx * sx > 0
), r AS (
  SELECT p.mx, p.my, p.hour_ts, mc.n, mc.sxxc, mc.sxyc,
         cast(round(cast(mc.sxxc * (mc.n * p.vy - mc.sy)
                         - mc.sxyc * (mc.n * p.vx - mc.sx) AS double)
                    / (cast(mc.n * mc.sxxc AS double) * 100.0)
                    * 1000000.0) AS bigint) AS eu
  FROM p JOIN mc ON p.mx = mc.mx AND p.my = mc.my
), rl AS (
  SELECT mx, my, n, sxxc, sxyc, eu,
         lag(eu) OVER (PARTITION BY mx, my ORDER BY hour_ts) AS ep
  FROM r
), g AS (
  SELECT mx, my, max(n) AS n, max(sxxc) AS sxxc, max(sxyc) AS sxyc,
         cast(count(ep) AS bigint) AS n_lag,
         sum(cast(eu AS hugeint) * ep) AS s01,
         sum(cast(ep AS hugeint) * ep) AS s11
  FROM rl GROUP BY 1, 2 HAVING sum(cast(ep AS hugeint) * ep) > 0
)
SELECT mx AS metric_x, my AS metric_y, cast(n AS bigint) AS n_hours,
       round(cast(sxyc AS double) / cast(sxxc AS double), 6) AS beta,
       round(cast(s01 AS double) / cast(s11 AS double), 6) AS rho_res,
       round(cast(n_lag AS double)
             * (cast(s01 AS double) / cast(s11 AS double) - 1.0),
             6) AS df_stat
FROM g
""",
        "transfer_entropy": """
WITH h AS (
  SELECT event_type AS m, date_trunc('hour', ts) AS hh,
         cast(count(*) AS bigint) AS n,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sc
  FROM events GROUP BY 1, 2
), bn AS (
  SELECT m, hh,
         ntile(4) OVER (PARTITION BY m
                        ORDER BY cast(sc AS double) / cast(n AS double),
                                 hh) AS b
  FROM h
), tr AS (
  SELECT xp.m AS mx, ycur.m AS my,
         ycur.b AS by1, yp.b AS by0, xp.b AS bx0
  FROM bn ycur
  JOIN bn yp ON yp.m = ycur.m
            AND yp.hh + INTERVAL 1 HOUR = ycur.hh
  JOIN bn xp ON xp.hh + INTERVAL 1 HOUR = ycur.hh
            AND xp.m <> ycur.m
), cxyz AS (
  SELECT mx, my, by1, by0, bx0, cast(count(*) AS bigint) AS cxyz
  FROM tr GROUP BY 1, 2, 3, 4, 5
), cyz AS (
  SELECT mx, my, by0, bx0, cast(count(*) AS bigint) AS cyz
  FROM tr GROUP BY 1, 2, 3, 4
), cyy AS (
  SELECT mx, my, by1, by0, cast(count(*) AS bigint) AS cyy
  FROM tr GROUP BY 1, 2, 3, 4
), cy AS (
  SELECT mx, my, by0, cast(count(*) AS bigint) AS cy
  FROM tr GROUP BY 1, 2, 3
), tot AS (
  SELECT mx, my, cast(count(*) AS bigint) AS nn FROM tr GROUP BY 1, 2
), g AS (
  SELECT j.mx, j.my, t.nn,
         cast(round(cast(j.cxyz AS double) / cast(t.nn AS double)
                    * ln(cast(j.cxyz * y.cy AS double)
                         / cast(z.cyz * w.cyy AS double))
                    * 1000000) AS bigint) AS term_u
  FROM cxyz j
  JOIN cyz z ON j.mx = z.mx AND j.my = z.my AND j.by0 = z.by0
            AND j.bx0 = z.bx0
  JOIN cyy w ON j.mx = w.mx AND j.my = w.my AND j.by1 = w.by1
            AND j.by0 = w.by0
  JOIN cy y ON j.mx = y.mx AND j.my = y.my AND j.by0 = y.by0
  JOIN tot t ON j.mx = t.mx AND j.my = t.my
)
SELECT mx AS metric_x, my AS metric_y,
       cast(max(nn) AS bigint) AS n_triples,
       cast(sum(term_u) AS bigint) AS te_u,
       round(cast(sum(term_u) AS double) / 1000000.0, 6) AS te_nats
FROM g GROUP BY 1, 2 HAVING max(nn) >= 24
""",
        "l_diversity": """
WITH pv AS (
  SELECT lang AS q0, source AS q1, n_chars // 100 AS sv,
         cast(count(*) AS bigint) AS vn
  FROM documents GROUP BY 1, 2, 3
), g AS (
  SELECT q0, q1, cast(sum(vn) AS bigint) AS gn,
         cast(count(*) AS bigint) AS gd
  FROM pv GROUP BY 1, 2
), pl AS (
  SELECT gn, gd, unnest([2, 3, 5]) AS l FROM g
)
SELECT l, cast(count(*) AS bigint) AS n_groups,
       cast(sum(CASE WHEN gd < l THEN 1 ELSE 0 END) AS bigint)
         AS n_groups_below,
       cast(sum(CASE WHEN gd < l THEN gn ELSE 0 END) AS bigint)
         AS n_rows_below,
       round(cast(sum(CASE WHEN gd < l THEN gn ELSE 0 END) AS double)
             / cast(sum(gn) AS double), 6) AS pct_rows_below
FROM pl GROUP BY 1
""",
        "category_churn": """
WITH per AS (
  SELECT date_trunc('day', ts) AS day_ts, event_type AS cat,
         cast(count(*) AS bigint) AS rn
  FROM events GROUP BY 1, 2
), yest AS (
  SELECT day_ts + INTERVAL 24 HOUR AS day_ts, cat, 1 AS was_there
  FROM per
), dwp AS (
  SELECT DISTINCT d.day_ts
  FROM (SELECT DISTINCT day_ts FROM per) d
  JOIN (SELECT DISTINCT day_ts + INTERVAL 24 HOUR AS day_ts
        FROM per) p USING (day_ts)
), j AS (
  SELECT coalesce(t.day_ts, y.day_ts) AS day_ts, t.rn, y.was_there
  FROM per t FULL OUTER JOIN yest y
    ON t.day_ts = y.day_ts AND t.cat = y.cat
), jj AS (
  SELECT j.* FROM j JOIN dwp USING (day_ts)
)
SELECT day_ts,
       cast(sum(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END)
            AS bigint) AS n_cats,
       cast(sum(CASE WHEN rn IS NOT NULL AND was_there IS NULL
                     THEN 1 ELSE 0 END) AS bigint) AS n_new,
       cast(sum(CASE WHEN rn IS NULL AND was_there IS NOT NULL
                     THEN 1 ELSE 0 END) AS bigint) AS n_dropped,
       cast(sum(CASE WHEN rn IS NOT NULL AND was_there IS NULL
                     THEN rn ELSE 0 END) AS bigint) AS new_rows,
       round(cast(sum(CASE WHEN rn IS NOT NULL AND was_there IS NULL
                           THEN rn ELSE 0 END) AS double)
             / cast(sum(coalesce(rn, 0)) AS double), 6)
         AS new_rows_share
FROM jj GROUP BY 1
""",
        "newey_west": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, y,
         lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
         lag(y, 3) OVER w AS y3, lag(y, 4) OVER w AS y4,
         lag(y, 5) OVER w AS y5, lag(y, 6) OVER w AS y6
  FROM h WINDOW w AS (PARTITION BY metric ORDER BY hour_ts)
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n, sum(y) AS s,
         sum(y * y) AS p0,
         sum(y * y1) AS p1, sum(y1) AS a1,
         sum(CASE WHEN y1 IS NOT NULL THEN y END) AS b1,
         sum(y * y2) AS p2, sum(y2) AS a2,
         sum(CASE WHEN y2 IS NOT NULL THEN y END) AS b2,
         sum(y * y3) AS p3, sum(y3) AS a3,
         sum(CASE WHEN y3 IS NOT NULL THEN y END) AS b3,
         sum(y * y4) AS p4, sum(y4) AS a4,
         sum(CASE WHEN y4 IS NOT NULL THEN y END) AS b4,
         sum(y * y5) AS p5, sum(y5) AS a5,
         sum(CASE WHEN y5 IS NOT NULL THEN y END) AS b5,
         sum(y * y6) AS p6, sum(y6) AS a6,
         sum(CASE WHEN y6 IS NOT NULL THEN y END) AS b6
  FROM l GROUP BY 1 HAVING count(*) >= 24
), c AS (
  SELECT metric, n, s,
         n * n * p0 - n * s * (s + s) + n * s * s AS c0,
         n * n * p1 - n * s * (a1 + b1) + (n - 1) * s * s AS c1,
         n * n * p2 - n * s * (a2 + b2) + (n - 2) * s * s AS c2,
         n * n * p3 - n * s * (a3 + b3) + (n - 3) * s * s AS c3,
         n * n * p4 - n * s * (a4 + b4) + (n - 4) * s * s AS c4,
         n * n * p5 - n * s * (a5 + b5) + (n - 5) * s * s AS c5,
         n * n * p6 - n * s * (a6 + b6) + (n - 6) * s * s AS c6
  FROM g
), v AS (
  SELECT metric, n, s, c0,
         7 * c0 + 2 * 6 * c1 + 2 * 5 * c2 + 2 * 4 * c3
         + 2 * 3 * c4 + 2 * 2 * c5 + 2 * 1 * c6 AS vp
  FROM c
)
SELECT metric, cast(n AS bigint) AS n_hours,
       round(cast(s AS double) / cast(n AS double) / 100.0, 6)
         AS mean_v,
       round(sqrt(cast(c0 AS double))
             / (cast(n AS double) * cast(n AS double) * 100.0), 6)
         AS se_iid,
       round(sqrt(cast(vp AS double) / 7.0)
             / (cast(n AS double) * cast(n AS double) * 100.0), 6)
         AS se_hac,
       round(sqrt(cast(vp AS double) / (7.0 * cast(c0 AS double))), 6)
         AS hac_ratio
FROM v
WHERE cast(c0 AS double) > 0 AND cast(vp AS double) >= 0
""",
        "kpss_level": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, y,
         cast(row_number() OVER w AS hugeint) AS t,
         cast(sum(y) OVER (PARTITION BY metric ORDER BY hour_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS hugeint) AS cum,
         lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
         lag(y, 3) OVER w AS y3, lag(y, 4) OVER w AS y4,
         lag(y, 5) OVER w AS y5, lag(y, 6) OVER w AS y6
  FROM h WINDOW w AS (PARTITION BY metric ORDER BY hour_ts)
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n, sum(y) AS s,
         sum(y * y) AS p0,
         sum(y * y1) AS p1, sum(y1) AS a1,
         sum(CASE WHEN y1 IS NOT NULL THEN y END) AS b1,
         sum(y * y2) AS p2, sum(y2) AS a2,
         sum(CASE WHEN y2 IS NOT NULL THEN y END) AS b2,
         sum(y * y3) AS p3, sum(y3) AS a3,
         sum(CASE WHEN y3 IS NOT NULL THEN y END) AS b3,
         sum(y * y4) AS p4, sum(y4) AS a4,
         sum(CASE WHEN y4 IS NOT NULL THEN y END) AS b4,
         sum(y * y5) AS p5, sum(y5) AS a5,
         sum(CASE WHEN y5 IS NOT NULL THEN y END) AS b5,
         sum(y * y6) AS p6, sum(y6) AS a6,
         sum(CASE WHEN y6 IS NOT NULL THEN y END) AS b6
  FROM l GROUP BY 1 HAVING count(*) >= 24
), pp AS (
  SELECT l.metric,
         sum((g.n * l.cum - l.t * g.s) * (g.n * l.cum - l.t * g.s))
           AS sp2
  FROM l JOIN g USING (metric) GROUP BY 1
), c AS (
  SELECT metric, n, s,
         n * n * p0 - n * s * (s + s) + n * s * s AS c0,
         n * n * p1 - n * s * (a1 + b1) + (n - 1) * s * s AS c1,
         n * n * p2 - n * s * (a2 + b2) + (n - 2) * s * s AS c2,
         n * n * p3 - n * s * (a3 + b3) + (n - 3) * s * s AS c3,
         n * n * p4 - n * s * (a4 + b4) + (n - 4) * s * s AS c4,
         n * n * p5 - n * s * (a5 + b5) + (n - 5) * s * s AS c5,
         n * n * p6 - n * s * (a6 + b6) + (n - 6) * s * s AS c6
  FROM g
), v AS (
  SELECT metric, n,
         7 * c0 + 2 * 6 * c1 + 2 * 5 * c2 + 2 * 4 * c3
         + 2 * 3 * c4 + 2 * 2 * c5 + 2 * 1 * c6 AS vp
  FROM c
)
SELECT v.metric, cast(v.n AS bigint) AS n_hours,
       round(7.0 * cast(sp2 AS double)
             / (cast(v.n AS double) * cast(vp AS double)), 6) AS eta,
       7000 * sp2 < 463 * v.n * vp AS is_level_stationary
FROM v JOIN pp ON v.metric = pp.metric
WHERE cast(vp AS double) > 0
""",
        "forecast_baselines": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), r AS (
  SELECT metric, y,
         row_number() OVER (PARTITION BY metric ORDER BY hour_ts)
           AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM h QUALIFY n >= 72
), test AS (
  SELECT metric, rn AS t, y AS yt, n - 24 AS te
  FROM r WHERE rn > n - 24
), anchors AS (
  SELECT a.metric, a.y AS y_te, b.y AS y1
  FROM (SELECT metric, y FROM r WHERE rn = n - 24) a
  JOIN (SELECT metric, y FROM r WHERE rn = 1) b
    ON a.metric = b.metric
), j AS (
  SELECT t.metric, t.t, t.yt, t.te, an.y_te, an.y1
  FROM test t JOIN anchors an ON t.metric = an.metric
), naive AS (
  SELECT metric, 'naive' AS model, cast(count(*) AS bigint) AS n_test,
         round(cast(sum(cast(abs(yt - y_te) AS hugeint)) AS double)
               / cast(count(*) AS double) / 100.0, 6) AS mae
  FROM j GROUP BY 1
), sn AS (
  SELECT j.metric, j.yt, r.y AS y_lag
  FROM j JOIN r ON j.metric = r.metric AND r.rn = j.t - 24
), snaive AS (
  SELECT metric, 'snaive' AS model,
         cast(count(*) AS bigint) AS n_test,
         round(cast(sum(cast(abs(yt - y_lag) AS hugeint)) AS double)
               / cast(count(*) AS double) / 100.0, 6) AS mae
  FROM sn GROUP BY 1
), drift AS (
  SELECT metric, 'drift' AS model,
         cast(count(*) AS bigint) AS n_test,
         round(cast(sum(cast(abs((yt - y_te) * (te - 1)
                    - (t - te) * (y_te - y1)) AS hugeint)) AS double)
               / cast(count(*) AS double)
               / cast(max(te - 1) AS double) / 100.0, 6) AS mae
  FROM j GROUP BY 1
)
SELECT * FROM naive
UNION ALL SELECT * FROM snaive
UNION ALL SELECT * FROM drift
""",
        "u_chart": """
WITH day AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN cast(round(value * 100) AS bigint) > 10000
                  THEN 1 ELSE 0 END) AS bigint) AS defects
  FROM events GROUP BY 1, 2
), center AS (
  SELECT metric, cast(sum(n) AS bigint) AS tot_n,
         cast(sum(defects) AS bigint) AS tot_d
  FROM day GROUP BY 1
), j AS (
  SELECT d.metric, d.day_ts, d.n, d.defects,
         cast(c.tot_d AS double) / cast(c.tot_n AS double) AS u_bar
  FROM day d JOIN center c ON d.metric = c.metric
)
SELECT metric, day_ts, n, defects,
       round(cast(defects AS double) / cast(n AS double), 6) AS u_day,
       round(u_bar, 6) AS u_bar,
       round(u_bar + 3.0 * sqrt(u_bar / cast(n AS double)), 6) AS ucl,
       round(greatest(0.0,
             u_bar - 3.0 * sqrt(u_bar / cast(n AS double))), 6)
         AS lcl,
       cast(CASE WHEN cast(defects AS double) / cast(n AS double)
                      > u_bar + 3.0 * sqrt(u_bar / cast(n AS double))
                 THEN 1
                 WHEN cast(defects AS double) / cast(n AS double)
                      < greatest(0.0, u_bar - 3.0
                                 * sqrt(u_bar / cast(n AS double)))
                 THEN -1 ELSE 0 END AS int) AS ooc
FROM j
""",
        "exit_rates": """
WITH fl AS (
  SELECT user_id AS u, event_type AS t, epoch_us(ts) AS t_us,
         cast(event_id AS bigint) AS o,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), sess AS (
  SELECT u, t,
         sum(ns) OVER (PARTITION BY u ORDER BY t_us, o
                       ROWS UNBOUNDED PRECEDING) AS sid,
         row_number() OVER (PARTITION BY u ORDER BY t_us, o) AS rn
  FROM fl
), per_sess AS (
  SELECT u, sid, arg_max(t, rn) AS last_t,
         cast(count(*) AS bigint) AS n_ev
  FROM sess GROUP BY 1, 2
), ends AS (
  SELECT last_t AS event_type, cast(count(*) AS bigint) AS n_exit,
         cast(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS bigint)
           AS n_bounce
  FROM per_sess GROUP BY 1
), contains AS (
  SELECT t AS event_type, cast(count(*) AS bigint) AS n_contain
  FROM (SELECT DISTINCT u, sid, t FROM sess) GROUP BY 1
)
SELECT c.event_type, c.n_contain,
       coalesce(e.n_exit, 0) AS n_exit,
       coalesce(e.n_bounce, 0) AS n_bounce,
       round(cast(coalesce(e.n_exit, 0) AS double)
             / cast(c.n_contain AS double), 6) AS exit_rate,
       round(CASE WHEN coalesce(e.n_exit, 0) > 0
                  THEN cast(coalesce(e.n_bounce, 0) AS double)
                       / cast(e.n_exit AS double) END, 6)
         AS bounce_share
FROM contains c LEFT JOIN ends e ON c.event_type = e.event_type
""",
        "g_chart": """
WITH pos AS (
  SELECT user_id AS u, event_type AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS pos
  FROM events
), err AS (
  SELECT u, pos FROM pos WHERE t = 'error'
), gaps AS (
  SELECT g FROM (
    SELECT pos - lag(pos, 1) OVER (PARTITION BY u ORDER BY pos) - 1
           AS g
    FROM err
  ) WHERE g IS NOT NULL
), m AS (
  SELECT cast(count(*) AS hugeint) AS n,
         sum(cast(g AS hugeint)) AS s,
         cast(max(g) AS bigint) AS mx
  FROM gaps
), lims AS (
  SELECT n, mx,
         cast(s AS double) / cast(n AS double) AS gbar,
         cast(s AS double) / cast(n AS double)
           + 3.0 * sqrt((cast(s AS double) / cast(n AS double))
                        * (cast(s AS double) / cast(n AS double)
                           + 1.0)) AS ucl
  FROM m
), o AS (
  SELECT max(lims.n) AS n, max(lims.gbar) AS gbar,
         max(lims.ucl) AS ucl, max(lims.mx) AS mx,
         cast(sum(CASE WHEN cast(gaps.g AS double) > lims.ucl
                  THEN 1 ELSE 0 END) AS bigint) AS n_above
  FROM gaps CROSS JOIN lims
)
SELECT cast(n AS bigint) AS n_gaps,
       round(gbar, 6) AS g_bar,
       round(ucl, 6) AS ucl,
       n_above,
       mx AS max_gap,
       round(cast(n_above AS double) / cast(n AS double), 6)
         AS pct_above
FROM o
""",
        "xmr_chart": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, day_ts, y,
         abs(y - lag(y, 1) OVER (PARTITION BY metric
                                 ORDER BY day_ts)) AS mr
  FROM d
), c AS (
  SELECT metric, cast(count(*) AS bigint) AS n,
         cast(sum(y) AS bigint) AS sy,
         cast(count(mr) AS bigint) AS nmr,
         cast(sum(mr) AS bigint) AS smr
  FROM t GROUP BY 1
), j AS (
  SELECT t.metric, t.day_ts, t.y, t.mr,
         cast(c.sy AS double) / cast(c.n AS double) AS xbar,
         cast(c.smr AS double) / cast(c.nmr AS double) AS mrbar
  FROM t JOIN c ON t.metric = c.metric
)
SELECT metric, day_ts,
       round(cast(y AS double) / 100.0, 6) AS x,
       round(cast(mr AS double) / 100.0, 6) AS mr,
       round((xbar + 2.66 * mrbar) / 100.0, 6) AS ucl_x,
       round((xbar - 2.66 * mrbar) / 100.0, 6) AS lcl_x,
       round(3.267 * mrbar / 100.0, 6) AS ucl_mr,
       cast(CASE WHEN cast(y AS double) > xbar + 2.66 * mrbar THEN 1
                 WHEN cast(y AS double) < xbar - 2.66 * mrbar THEN -1
                 ELSE 0 END AS int) AS ooc_x,
       CASE WHEN mr IS NOT NULL
            THEN cast(CASE WHEN cast(mr AS double) > 3.267 * mrbar
                      THEN 1 ELSE 0 END AS int) END AS ooc_mr
FROM j
""",
        "process_capability": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(cast(y AS hugeint)) AS s,
         sum(cast(y AS hugeint) * y) AS ss,
         cast(sum(CASE WHEN y < 500000 OR y > 5000000
                  THEN 1 ELSE 0 END) AS bigint) AS n_out
  FROM d GROUP BY 1
), c AS (
  SELECT metric, n, n_out,
         cast(s AS double) / cast(n AS double) AS mu,
         sqrt(cast(n * ss - s * s AS double)
              / (cast(n AS double) * (cast(n AS double) - 1.0)))
           AS sd
  FROM g WHERE n >= 2
)
SELECT metric, cast(n AS bigint) AS n,
       round(mu / 100.0, 6) AS mean,
       round(sd / 100.0, 6) AS sigma,
       round(CASE WHEN sd > 0
                  THEN (5000000.0 - 500000.0) / (6.0 * sd) END, 6)
         AS cp,
       round(CASE WHEN sd > 0
                  THEN least(5000000.0 - mu, mu - 500000.0)
                       / (3.0 * sd) END, 6) AS cpk,
       round(cast(n_out AS double) / cast(n AS double), 6) AS pct_out
FROM c
""",
        "emb_anisotropy": f"""
WITH {_UV_CTE.strip()}, ex AS (
  SELECT generate_subscripts(v, 1) AS dim,
         cast(round(unnest(v) * 1e6) AS bigint) AS xu
  FROM uv
), g AS (
  SELECT dim, sum(cast(xu AS hugeint)) AS sd,
         sum(cast(xu AS hugeint) * xu) AS sq
  FROM ex GROUP BY 1
), tot AS (
  SELECT cast(count(*) AS bigint) AS n_dims,
         sum(sd * sd) AS ssd, sum(sq) AS ssq
  FROM g
), nv AS (SELECT cast(count(*) AS bigint) AS n_vecs FROM uv)
SELECT n_vecs, n_dims,
       round(cast(ssd - ssq AS double)
             / (cast(n_vecs AS double) * (cast(n_vecs AS double) - 1.0))
             / 1e12, 6) AS avg_cos,
       round(cast(ssd AS double)
             / (cast(n_vecs AS double) * cast(n_vecs AS double))
             / 1e12, 6) AS mean_norm2
FROM tot CROSS JOIN nv
""",
        "retention_decay": """
WITH e AS (
  SELECT DISTINCT user_id AS uid, date_trunc('day', ts) AS d
  FROM events
), aged AS (
  SELECT uid, min(d) OVER (PARTITION BY uid) AS cohort_day,
         datediff('day', min(d) OVER (PARTITION BY uid), d) AS age,
         d
  FROM e
), num AS (
  SELECT age, cast(count(DISTINCT uid) AS bigint) AS num
  FROM aged WHERE age >= 1 GROUP BY 1
), cohorts AS (
  SELECT cohort_day, cast(count(*) AS bigint) AS n_c
  FROM (SELECT DISTINCT uid, cohort_day FROM aged) GROUP BY 1
), fr AS (SELECT max(d) AS fmax FROM aged),
den AS (
  SELECT num.age, cast(sum(c.n_c) AS bigint) AS den
  FROM num CROSS JOIN fr
  JOIN cohorts c ON datediff('day', c.cohort_day, fr.fmax) >= num.age
  GROUP BY 1
), r AS (
  SELECT num.age, num.num, den.den,
         cast(round(ln(cast(num.age AS double)) * 1e6) AS bigint)
           AS x,
         cast(round(ln(cast(num.num AS double)
                       / cast(den.den AS double)) * 1e6) AS bigint)
           AS y
  FROM num JOIN den ON num.age = den.age
  WHERE num.num > 0 AND den.den > 0
), g AS (
  SELECT cast(count(*) AS hugeint) AS m,
         sum(cast(x AS hugeint)) AS sx, sum(cast(y AS hugeint)) AS sy,
         sum(cast(x AS hugeint) * x) AS sxx,
         sum(cast(y AS hugeint) * y) AS syy,
         sum(cast(x AS hugeint) * y) AS sxy,
         max(CASE WHEN age = 1 THEN round(cast(num AS double)
                    / cast(den AS double), 6) END) AS r_day1,
         max(CASE WHEN age = 7 THEN round(cast(num AS double)
                    / cast(den AS double), 6) END) AS r_day7
  FROM r HAVING count(*) >= 5
), c AS (
  SELECT m, r_day1, r_day7,
         cast(m * sxx - sx * sx AS double) AS cxx,
         cast(m * syy - sy * sy AS double) AS cyy,
         cast(m * sxy - sx * sy AS double) AS cxy,
         cast(sx AS double) AS sxd, cast(sy AS double) AS syd,
         cast(m AS double) AS md
  FROM g
)
SELECT cast(m AS bigint) AS n_ages,
       round(cxy / cxx, 6) AS exponent,
       round((syd - (cxy / cxx) * sxd) / md / 1e6, 6) AS intercept,
       round(CASE WHEN cyy > 0 THEN cxy * cxy / (cxx * cyy) END, 6)
         AS r2,
       r_day1, r_day7
FROM c WHERE cxx > 0
""",
        "burrows_delta": """
WITH toks AS (
  SELECT source AS src, w
  FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
    FROM documents
  ) WHERE w <> ''
), topw AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM toks GROUP BY 1
  ) ORDER BY c DESC, w ASC LIMIT 30
), totals AS (
  SELECT src, cast(count(*) AS bigint) AS tot FROM toks GROUP BY 1
), cnt AS (
  SELECT t.src, t.w, cast(count(*) AS bigint) AS cw
  FROM toks t JOIN topw USING (w) GROUP BY 1, 2
), dense AS (
  SELECT g.src, g.w,
         cast(round(cast(coalesce(cnt.cw, 0) AS double)
                    / cast(g.tot AS double) * 1e9) AS bigint) AS fu
  FROM (SELECT totals.src, totals.tot, topw.w
        FROM totals CROSS JOIN topw) g
  LEFT JOIN cnt ON g.src = cnt.src AND g.w = cnt.w
), mom AS (
  SELECT w, cast(count(*) AS hugeint) AS ns,
         sum(cast(fu AS hugeint)) AS s1,
         sum(cast(fu AS hugeint) * fu) AS s2
  FROM dense GROUP BY 1
), zt AS (
  SELECT d.src, d.w,
         cast(round((cast(d.fu AS double)
                - cast(m.s1 AS double) / cast(m.ns AS double))
               / sqrt(cast(m.ns * m.s2 - m.s1 * m.s1 AS double)
                      / (cast(m.ns AS double) * cast(m.ns AS double)))
               * 1e6) AS bigint) AS zu
  FROM dense d JOIN mom m ON d.w = m.w
  WHERE cast(m.ns * m.s2 - m.s1 * m.s1 AS double)
        / (cast(m.ns AS double) * cast(m.ns AS double)) > 0
), p AS (
  SELECT a.src AS source_a, b.src AS source_b,
         cast(count(*) AS bigint) AS n_words,
         cast(sum(abs(a.zu - b.zu)) AS bigint) AS sd_
  FROM zt a JOIN zt b ON a.w = b.w AND a.src < b.src
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_words,
       round(cast(sd_ AS double) / cast(n_words AS double) / 1e6, 6)
         AS delta
FROM p
""",
        "ohlc_daily": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         arg_min(y, hour_ts) AS o, max(y) AS hi, min(y) AS lo,
         arg_max(y, hour_ts) AS c,
         cast(count(*) AS bigint) AS n_hours
  FROM h GROUP BY 1, 2
), l AS (
  SELECT *, lag(c, 1) OVER (PARTITION BY metric ORDER BY day_ts)
           AS pc
  FROM g
)
SELECT metric, day_ts,
       round(cast(o AS double) / 100.0, 6) AS open,
       round(cast(hi AS double) / 100.0, 6) AS high,
       round(cast(lo AS double) / 100.0, 6) AS low,
       round(cast(c AS double) / 100.0, 6) AS close,
       round(cast(c - o AS double) / 100.0, 6) AS body,
       round(cast(hi - lo AS double) / 100.0, 6) AS day_range,
       round(cast(o - pc AS double) / 100.0, 6) AS gap,
       n_hours
FROM l
""",
        "bland_altman": """
WITH a AS (
  SELECT date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS va
  FROM events WHERE event_type = 'click' GROUP BY 1
), b AS (
  SELECT date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS vb
  FROM events WHERE event_type = 'view' GROUP BY 1
), j AS (
  SELECT a.va - b.vb AS d FROM a JOIN b ON a.hour_ts = b.hour_ts
), m AS (
  SELECT cast(count(*) AS hugeint) AS n,
         sum(cast(d AS hugeint)) AS sd_,
         sum(cast(d AS hugeint) * d) AS sdd
  FROM j
), lims AS (
  SELECT n,
         cast(sd_ AS double) / cast(n AS double) AS mu,
         cast(sd_ AS double) / cast(n AS double)
           - 1.96 * sqrt(cast(n * sdd - sd_ * sd_ AS double)
                         / (cast(n AS double)
                            * (cast(n AS double) - 1.0))) AS lo,
         cast(sd_ AS double) / cast(n AS double)
           + 1.96 * sqrt(cast(n * sdd - sd_ * sd_ AS double)
                         / (cast(n AS double)
                            * (cast(n AS double) - 1.0))) AS hi
  FROM m
), o AS (
  SELECT max(lims.n) AS n, max(lims.mu) AS mu, max(lims.lo) AS lo,
         max(lims.hi) AS hi,
         cast(sum(CASE WHEN cast(j.d AS double) < lims.lo
                         OR cast(j.d AS double) > lims.hi
                  THEN 1 ELSE 0 END) AS bigint) AS n_outside
  FROM j CROSS JOIN lims
)
SELECT cast(n AS bigint) AS n_hours,
       round(mu / 100.0, 6) AS mean_diff,
       round(lo / 100.0, 6) AS loa_low,
       round(hi / 100.0, 6) AS loa_high,
       n_outside,
       round(cast(n_outside AS double) / cast(n AS double), 6)
         AS pct_outside
FROM o
""",
        "weibull_fit": """
WITH ev AS (
  SELECT event_type AS metric, user_id,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, ev.t1 - ev.t0 AS dur
  FROM ev JOIN fr ON ev.metric = fr.metric
  WHERE fr.fmax - ev.t1 >= 3600000000 AND ev.t1 - ev.t0 > 0
), r AS (
  SELECT metric, dur,
         row_number() OVER (PARTITION BY metric ORDER BY dur) AS i,
         count(*) OVER (PARTITION BY metric) AS n
  FROM d
), t AS (
  SELECT metric,
         cast(round(ln(cast(dur AS double) / 3.6e9) * 1e6) AS bigint)
           AS x,
         cast(round(ln(-(cast(cast(round(ln(
               cast(10 * (n - i) + 7 AS double)
               / cast(10 * n + 4 AS double)) * 1e6) AS bigint)
             AS double) / 1e6)) * 1e6) AS bigint) AS y
  FROM r
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(cast(x AS hugeint)) AS sx, sum(cast(y AS hugeint)) AS sy,
         sum(cast(x AS hugeint) * x) AS sxx,
         sum(cast(y AS hugeint) * y) AS syy,
         sum(cast(x AS hugeint) * y) AS sxy
  FROM t GROUP BY 1 HAVING count(*) >= 10
), c AS (
  SELECT metric, m,
         cast(m * sxx - sx * sx AS double) AS cxx,
         cast(m * syy - sy * sy AS double) AS cyy,
         cast(m * sxy - sx * sy AS double) AS cxy,
         cast(sx AS double) AS sxd, cast(sy AS double) AS syd,
         cast(m AS double) AS md
  FROM g
), e AS (
  SELECT metric, m, cxx, cyy, cxy,
         cxy / cxx AS k,
         (syd - (cxy / cxx) * sxd) / md / 1e6 AS b0
  FROM c WHERE cxx > 0
)
SELECT metric, cast(m AS bigint) AS n,
       round(k, 6) AS shape,
       round(-b0 / k, 6) AS ln_scale_hours,
       round(CASE WHEN cyy > 0 THEN cxy * cxy / (cxx * cyy) END, 6)
         AS r2
FROM e
""",
        "lang_temperature": """
WITH g AS (
  SELECT lang, cast(count(*) AS bigint) AS n_docs
  FROM documents GROUP BY 1
), tot AS (
  SELECT cast(sum(n_docs) AS bigint) AS nn FROM g
), t AS (
  SELECT lang, n_docs, nn,
         cast(round(exp(0.3 * (cast(cast(round(
                ln(cast(n_docs AS double) / cast(nn AS double)) * 1e6
              ) AS bigint) AS double) / 1e6)) * 1e9) AS bigint) AS eu
  FROM g CROSS JOIN tot
), s AS (
  SELECT cast(sum(eu) AS bigint) AS se FROM t
)
SELECT lang, n_docs,
       round(cast(n_docs AS double) / cast(nn AS double), 6) AS p_nat,
       round(cast(eu AS double) / cast(se AS double), 6) AS p_samp,
       round((cast(eu AS double) / cast(se AS double))
             / (cast(n_docs AS double) / cast(nn AS double)), 6)
         AS boost
FROM t CROSS JOIN s
""",
        "coverage_greedy": """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS lst
  FROM documents
), toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, len(lst)), i -> lst[i] || ' ' || lst[i + 1]
         )) AS tok
  FROM d
), p1 AS (
  SELECT doc_id, cast(count(*) AS bigint) AS gain
  FROM toks GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1
), c1 AS (
  SELECT DISTINCT t.tok FROM toks t JOIN p1 ON t.doc_id = p1.doc_id
), r2 AS (
  SELECT t.doc_id, t.tok FROM toks t ANTI JOIN c1 ON t.tok = c1.tok
), p2 AS (
  SELECT doc_id, cast(count(*) AS bigint) AS gain
  FROM r2 GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1
), c2 AS (
  SELECT tok FROM c1
  UNION
  SELECT t.tok FROM toks t JOIN p2 ON t.doc_id = p2.doc_id
), r3 AS (
  SELECT t.doc_id, t.tok FROM toks t ANTI JOIN c2 ON t.tok = c2.tok
), p3 AS (
  SELECT doc_id, cast(count(*) AS bigint) AS gain
  FROM r3 GROUP BY 1 ORDER BY gain DESC, doc_id ASC LIMIT 1
)
SELECT cast(round AS int) AS round, doc_id,
       cast(gain AS bigint) AS gain,
       cast(covered_total AS bigint) AS covered_total
FROM (
  SELECT 1 AS round, doc_id, gain, gain AS covered_total FROM p1
  UNION ALL
  SELECT 2, p2.doc_id, p2.gain, p1.gain + p2.gain
  FROM p2 CROSS JOIN p1
  UNION ALL
  SELECT 3, p3.doc_id, p3.gain, p1.gain + p2.gain + p3.gain
  FROM p3 CROSS JOIN p1 CROSS JOIN p2
)
""",
        "its_readout": """
WITH d0 AS (
  SELECT event_type AS metric,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y,
         cast(epoch_us(date_trunc('day', ts)) / 86400000000
              AS bigint) AS di
  FROM events GROUP BY metric, date_trunc('day', ts)
), span AS (
  SELECT metric, cast(floor((min(di) + max(di)) / 2) AS bigint)
           AS t_brk
  FROM d0 GROUP BY 1 HAVING count(*) >= 10
), r AS (
  SELECT d0.metric, d0.y, span.t_brk,
         d0.di - span.t_brk AS u,
         CASE WHEN d0.di - span.t_brk >= 0 THEN 1 ELSE 0 END AS dd,
         (d0.di - span.t_brk)
           * (CASE WHEN d0.di - span.t_brk >= 0 THEN 1 ELSE 0 END)
           AS w
  FROM d0 JOIN span ON d0.metric = span.metric
), g AS (
  SELECT metric, max(t_brk) AS t_brk,
         cast(count(*) AS hugeint) AS n,
         sum(cast(u AS hugeint)) AS s1,
         sum(cast(dd AS hugeint)) AS s2,
         sum(cast(w AS hugeint)) AS s3,
         sum(cast(y AS hugeint)) AS sy,
         sum(cast(u * u AS hugeint)) AS s11,
         sum(cast(u * dd AS hugeint)) AS s12,
         sum(cast(u * w AS hugeint)) AS s13,
         sum(cast(dd AS hugeint)) AS s22_,
         sum(cast(dd * w AS hugeint)) AS s23,
         sum(cast(w * w AS hugeint)) AS s33,
         sum(cast(u * y AS hugeint)) AS s1y,
         sum(cast(dd * y AS hugeint)) AS s2y,
         sum(cast(w * y AS hugeint)) AS s3y,
         sum(cast(y AS hugeint) * y) AS syy
  FROM r GROUP BY 1
), c AS (
  SELECT metric, t_brk, n,
         cast(n * s11 - s1 * s1 AS double) AS v11,
         cast(n * s22_ - s2 * s2 AS double) AS v22,
         cast(n * s33 - s3 * s3 AS double) AS v33,
         cast(n * s12 - s1 * s2 AS double) AS v12,
         cast(n * s13 - s1 * s3 AS double) AS v13,
         cast(n * s23 - s2 * s3 AS double) AS v23,
         cast(n * s1y - s1 * sy AS double) AS v1y,
         cast(n * s2y - s2 * sy AS double) AS v2y,
         cast(n * s3y - s3 * sy AS double) AS v3y,
         cast(n * syy - sy * sy AS double) AS vyy,
         cast(sy AS double) AS syd, cast(s1 AS double) AS s1d,
         cast(s2 AS double) AS s2d, cast(s3 AS double) AS s3d,
         cast(n AS double) AS nd
  FROM g
), f AS (
  SELECT metric, t_brk, n, nd, syd, s1d, s2d, s3d, vyy, v1y, v2y, v3y,
         v11 * (v22 * v33 - v23 * v23)
           - v12 * (v12 * v33 - v23 * v13)
           + v13 * (v12 * v23 - v22 * v13) AS det,
         v1y * (v22 * v33 - v23 * v23)
           - v12 * (v2y * v33 - v23 * v3y)
           + v13 * (v2y * v23 - v22 * v3y) AS det1,
         v11 * (v2y * v33 - v3y * v23)
           - v1y * (v12 * v33 - v23 * v13)
           + v13 * (v12 * v3y - v2y * v13) AS det2,
         v11 * (v22 * v3y - v23 * v2y)
           - v12 * (v12 * v3y - v2y * v13)
           + v1y * (v12 * v23 - v22 * v13) AS det3
  FROM c
), e AS (
  SELECT metric, t_brk, n, nd, vyy, v1y, v2y, v3y, det,
         det1 / det AS b1, det2 / det AS b2, det3 / det AS b3,
         (syd - (det1 / det) * s1d - (det2 / det) * s2d
              - (det3 / det) * s3d) / nd / 100.0 AS b0
  FROM f
)
SELECT metric, cast(n AS bigint) AS n_days,
       cast(t_brk AS bigint) AS break_day_idx,
       round(b0, 6) AS b0,
       round(b1 / 100.0, 6) AS slope_pre,
       round(b2 / 100.0, 6) AS level_change,
       round(b3 / 100.0, 6) AS slope_change,
       round(CASE WHEN vyy > 0
                  THEN (b1 * v1y + b2 * v2y + b3 * v3y) / vyy
             END, 6) AS r2
FROM e
WHERE det > 0
""",
        "adf_augmented": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, hour_ts, lag(y, 1) OVER w AS x,
         y - lag(y, 1) OVER w AS z
  FROM h WINDOW w AS (PARTITION BY metric ORDER BY hour_ts)
), l2 AS (
  SELECT metric, x, z, lag(z, 1) OVER w AS d1, lag(z, 2) OVER w AS d2
  FROM l WINDOW w AS (PARTITION BY metric ORDER BY hour_ts)
), r AS (
  SELECT * FROM l2
  WHERE x IS NOT NULL AND d1 IS NOT NULL AND d2 IS NOT NULL
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(z) AS sy, sum(z * z) AS syy,
         sum(x) AS s1, sum(x * z) AS s1y,
         sum(d1) AS s2, sum(d1 * z) AS s2y,
         sum(d2) AS s3, sum(d2 * z) AS s3y,
         sum(x * x) AS s11, sum(x * d1) AS s12, sum(x * d2) AS s13,
         sum(d1 * d1) AS s22, sum(d1 * d2) AS s23,
         sum(d2 * d2) AS s33
  FROM r GROUP BY 1 HAVING count(*) >= 30
), c AS (
  SELECT metric, cast(m AS double) AS md, m,
         cast(m * syy - sy * sy AS double) AS vyy,
         cast(m * s11 - s1 * s1 AS double) AS v11,
         cast(m * s22 - s2 * s2 AS double) AS v22,
         cast(m * s33 - s3 * s3 AS double) AS v33,
         cast(m * s12 - s1 * s2 AS double) AS v12,
         cast(m * s13 - s1 * s3 AS double) AS v13,
         cast(m * s23 - s2 * s3 AS double) AS v23,
         cast(m * s1y - s1 * sy AS double) AS v1y,
         cast(m * s2y - s2 * sy AS double) AS v2y,
         cast(m * s3y - s3 * sy AS double) AS v3y
  FROM g
), f AS (
  SELECT metric, md, m, vyy, v1y, v2y, v3y,
         v11 * (v22 * v33 - v23 * v23)
           - v12 * (v12 * v33 - v23 * v13)
           + v13 * (v12 * v23 - v22 * v13) AS det,
         v1y * (v22 * v33 - v23 * v23)
           - v12 * (v2y * v33 - v23 * v3y)
           + v13 * (v2y * v23 - v22 * v3y) AS det1,
         v11 * (v2y * v33 - v3y * v23)
           - v1y * (v12 * v33 - v23 * v13)
           + v13 * (v12 * v3y - v2y * v13) AS det2,
         v11 * (v22 * v3y - v23 * v2y)
           - v12 * (v12 * v3y - v2y * v13)
           + v1y * (v12 * v23 - v22 * v13) AS det3,
         v22 * v33 - v23 * v23 AS cof
  FROM c
), e AS (
  SELECT metric, md, m, det, cof,
         det1 / det AS gam,
         vyy - (det1 / det) * v1y - (det2 / det) * v2y
             - (det3 / det) * v3y AS rssm
  FROM f
)
SELECT metric, cast(m AS bigint) AS n_obs,
       round(gam, 6) AS gamma,
       round(gam / sqrt(rssm * cof / ((md - 4.0) * det)), 6)
         AS t_stat,
       NOT (gam / sqrt(rssm * cof / ((md - 4.0) * det)) < -2.86)
         AS has_unit_root
FROM e
WHERE det > 0 AND rssm > 0
""",
        "df_unitroot": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), l AS (
  SELECT metric, lag(y, 1) OVER w AS x, y - lag(y, 1) OVER w AS z
  FROM h WINDOW w AS (PARTITION BY metric ORDER BY hour_ts)
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS m,
         sum(x) AS sx, sum(z) AS sz,
         sum(x * x) AS sxx, sum(z * z) AS szz, sum(x * z) AS sxz
  FROM l WHERE x IS NOT NULL GROUP BY 1 HAVING count(*) >= 24
), c AS (
  SELECT metric, m,
         cast(m * sxx - sx * sx AS double) AS dxx,
         cast(m * szz - sz * sz AS double) AS dzz,
         cast(m * sxz - sx * sz AS double) AS dxz
  FROM g
)
SELECT metric, cast(m AS bigint) AS n_obs,
       round(dxz / dxx, 6) AS gamma,
       round(dxz * sqrt(cast(m AS double) - 2.0)
             / sqrt(dxx * dzz - dxz * dxz), 6) AS t_stat,
       NOT (dxz * sqrt(cast(m AS double) - 2.0)
            / sqrt(dxx * dzz - dxz * dxz) < -2.86) AS has_unit_root
FROM c
WHERE dxx > 0 AND dxx * dzz - dxz * dxz > 0
""",
        "cdc_snapshot": """
WITH ch AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         event_type AS last_type, value AS last_value,
         cast(epoch_us(ts) AS hugeint)
           * cast('10000000000000000000' AS hugeint)
           + event_id AS pk
  FROM events
), latest AS (
  SELECT user_id, max(pk) AS mx,
         cast(count(*) AS bigint) AS n_changes
  FROM ch GROUP BY 1
)
SELECT ch.user_id, ch.ts AS last_ts, ch.op, ch.last_type,
       ch.last_value, latest.n_changes
FROM ch JOIN latest ON ch.user_id = latest.user_id AND ch.pk = latest.mx
WHERE ch.op <> 'D'
""",
        "ipw_strata": """
WITH per_unit AS (
  SELECT user_id,
         count(*) AS n_ev,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS t,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
), tot AS (
  SELECT cast(count(*) AS bigint) AS u, cast(sum(n_ev) AS bigint) AS tt
  FROM per_unit
), s AS (
  SELECT CASE WHEN 10 * n_ev * u <= 9 * tt THEN 'low'
              WHEN 10 * n_ev * u >= 11 * tt THEN 'high'
              ELSE 'mid' END AS stratum, t, y
  FROM per_unit CROSS JOIN tot
), g AS (
  SELECT stratum, cast(count(*) AS bigint) AS n,
         cast(sum(t) AS bigint) AS n_treat,
         cast(sum(t * y) AS bigint) AS y1,
         cast(sum((1 - t) * y) AS bigint) AS y0
  FROM s GROUP BY 1
)
SELECT stratum, n, n_treat, y1, y0,
       round(cast(n_treat AS double) / cast(n AS double), 6)
         AS p_treat,
       round(CASE WHEN n_treat > 0 AND n_treat < n THEN
         cast(y1 AS double) / cast(n_treat AS double) END, 6)
         AS mean_y1,
       round(CASE WHEN n_treat > 0 AND n_treat < n THEN
         cast(y0 AS double) / cast(n - n_treat AS double) END, 6)
         AS mean_y0,
       round(CASE WHEN n_treat > 0 AND n_treat < n THEN
         cast(y1 AS double) / cast(n_treat AS double)
         - cast(y0 AS double) / cast(n - n_treat AS double) END, 6)
         AS effect
FROM g
""",
        "theta_forecast": """
WITH RECURSIVE d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT metric, y,
         cast(row_number() OVER (PARTITION BY metric ORDER BY day_ts)
              AS hugeint) AS t
  FROM d
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(t) AS st, sum(cast(y AS hugeint)) AS sy,
         sum(t * t) AS stt, sum(t * y) AS sty
  FROM dd GROUP BY 1 HAVING count(*) >= 10
), p AS (
  SELECT metric, n,
         n * sty - st * sy AS nb,
         n * stt - st * st AS dn,
         sy * (n * stt - st * st) - (n * sty - st * sy) * st AS anum,
         n * (n * stt - st * st) AS dd_den
  FROM g
), q AS (
  SELECT dd.metric, dd.t,
         cast(2 * dd.y * p.dd_den - p.anum - p.nb * p.n * dd.t
              AS double) / cast(p.dd_den AS double) AS q
  FROM dd JOIN p USING (metric)
), e AS (
  SELECT metric, t, q AS l FROM q WHERE t = 1
  UNION ALL
  SELECT q.metric, q.t, (1 - 0.5) * e.l + 0.5 * q.q
  FROM e JOIN q ON q.metric = e.metric AND q.t = e.t + 1
), lvl AS (
  SELECT e.metric, e.l AS level
  FROM e JOIN p ON e.metric = p.metric AND e.t = p.n
)
SELECT p.metric,
       cast(p.n AS bigint) AS n_days,
       floor(level / 100.0 * 1e6) / 1e6 AS level_v,
       floor((0.5 * level
              + 0.5 * (cast(anum AS double) / cast(dd_den AS double)
                       + cast(nb AS double) / cast(dn AS double)
                         * (cast(p.n AS double) + 1.0)))
             / 100.0 * 1e6) / 1e6 AS fc_1,
       floor((0.5 * level
              + 0.5 * (cast(anum AS double) / cast(dd_den AS double)
                       + cast(nb AS double) / cast(dn AS double)
                         * (cast(p.n AS double) + 7.0)))
             / 100.0 * 1e6) / 1e6 AS fc_7
FROM lvl JOIN p USING (metric)
""",
        "dp_release": """
WITH g AS (
  SELECT event_type, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS bigint) AS n
  FROM events GROUP BY 1, 2
), h AS (
  SELECT event_type, day_ts, n,
         (cast(('0x' || substr(md5(cast(event_type AS varchar) || '|'
                || cast(cast(day_ts AS date) AS varchar)), 1, 12))
               AS bigint)
          + 0.5) / 281474976710656.0 - 0.5 AS c
  FROM g
)
SELECT event_type, day_ts, n,
       round(-1.0 * sign(c) * ln(1.0 - 2.0 * abs(c)), 6) AS noise,
       round(cast(n AS double)
             + (-1.0 * sign(c) * ln(1.0 - 2.0 * abs(c))), 6)
         AS noisy_n,
       1.0 AS epsilon
FROM h
""",
        "streak_report": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), s AS (
  SELECT metric, day_ts,
         cast(sign(y - lag(y) OVER w) AS int) AS s
  FROM d WINDOW w AS (PARTITION BY metric ORDER BY day_ts)
), dd AS (
  SELECT metric, day_ts, s,
         CASE WHEN lag(s) OVER w IS NULL OR s <> lag(s) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM s WHERE s IS NOT NULL
  WINDOW w AS (PARTITION BY metric ORDER BY day_ts)
), isl AS (
  SELECT metric, day_ts, s,
         sum(chg) OVER (PARTITION BY metric ORDER BY day_ts
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS isl
  FROM dd
), runs AS (
  SELECT metric, isl, s, cast(count(*) AS bigint) AS len,
         max(day_ts) AS run_end
  FROM isl GROUP BY 1, 2, 3
), lastf AS (
  SELECT *, run_end = max(run_end) OVER (PARTITION BY metric)
         AS is_last
  FROM runs
)
SELECT metric,
       cast(sum(len) + 1 AS bigint) AS n_days,
       cast(max(CASE WHEN s = 1 THEN len END) AS bigint)
         AS max_up_streak,
       cast(max(CASE WHEN s = -1 THEN len END) AS bigint)
         AS max_down_streak,
       cast(max(CASE WHEN is_last THEN len END) AS bigint) AS last_len,
       max(CASE WHEN is_last THEN s END) AS last_dir
FROM lastf GROUP BY 1
""",
        "heaps_fit": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), tk AS (
  SELECT DISTINCT cast(floor(doc_id / 50) AS bigint) AS batch_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
  FROM tok
), fs AS (
  SELECT sh, min(batch_id) AS batch_id FROM tk GROUP BY 1
), np AS (
  SELECT batch_id, cast(count(*) AS bigint) AS new_sh
  FROM fs GROUP BY 1
), nd AS (
  SELECT cast(floor(doc_id / 50) AS bigint) AS batch_id,
         cast(count(*) AS bigint) AS n_docs
  FROM documents GROUP BY 1
), vg AS (
  SELECT nd.batch_id,
         cast(sum(n_docs) OVER wc AS bigint) AS cum_docs,
         cast(sum(coalesce(new_sh, 0)) OVER wc AS bigint)
           AS cum_vocab
  FROM nd LEFT JOIN np USING (batch_id)
  WINDOW wc AS (ORDER BY nd.batch_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), pts AS (
  SELECT cast(round(ln(cast(cum_docs AS double)) * 1e6) AS bigint)
           AS xu,
         cast(round(ln(cast(cum_vocab AS double)) * 1e6) AS bigint)
           AS yu
  FROM vg WHERE cum_docs > 0 AND cum_vocab > 0
), g AS (
  SELECT cast(count(*) AS hugeint) AS k,
         sum(cast(xu AS hugeint)) AS sx, sum(cast(yu AS hugeint)) AS sy,
         sum(cast(xu AS hugeint) * xu) AS sxx,
         sum(cast(yu AS hugeint) * yu) AS syy,
         sum(cast(xu AS hugeint) * yu) AS sxy
  FROM pts
), c AS (
  SELECT k, sx, sy,
         k * sxx - sx * sx AS cxx,
         k * syy - sy * sy AS cyy,
         k * sxy - sx * sy AS cxy
  FROM g
)
SELECT cast(k AS bigint) AS n_batches,
       round(cast(cxy AS double) / cast(cxx AS double), 6) AS beta,
       round((cast(sy AS double)
              - cast(cxy AS double) / cast(cxx AS double)
                * cast(sx AS double))
             / cast(k AS double) / 1e6, 6) AS ln_k,
       round(cast(cxy AS double) * cast(cxy AS double)
             / (cast(cxx AS double) * cast(cyy AS double)), 6) AS r2
FROM c WHERE cast(cxx AS double) > 0 AND cast(cyy AS double) > 0
""",
        "theta_backtest": """
WITH RECURSIVE d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT metric, y,
         cast(row_number() OVER w AS hugeint) AS t,
         cast(count(*) OVER (PARTITION BY metric) AS hugeint) AS tot
  FROM d WINDOW w AS (PARTITION BY metric ORDER BY day_ts)
), dd AS (
  SELECT metric, y, t FROM idx WHERE t <= tot - 7
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(t) AS st, sum(cast(y AS hugeint)) AS sy,
         sum(t * t) AS stt, sum(t * y) AS sty
  FROM dd GROUP BY 1 HAVING count(*) >= 10
), p AS (
  SELECT metric, n,
         n * sty - st * sy AS nb,
         n * stt - st * st AS dn,
         sy * (n * stt - st * st) - (n * sty - st * sy) * st AS anum,
         n * (n * stt - st * st) AS dd_den
  FROM g
), q AS (
  SELECT dd.metric, dd.t,
         cast(2 * dd.y * p.dd_den - p.anum - p.nb * p.n * dd.t
              AS double) / cast(p.dd_den AS double) AS q
  FROM dd JOIN p USING (metric)
), e AS (
  SELECT metric, t, q AS l FROM q WHERE t = 1
  UNION ALL
  SELECT q.metric, q.t, (1 - 0.5) * e.l + 0.5 * q.q
  FROM e JOIN q ON q.metric = e.metric AND q.t = e.t + 1
), lvl AS (
  SELECT e.metric, e.l AS level
  FROM e JOIN p ON e.metric = p.metric AND e.t = p.n
), ly AS (
  SELECT dd.metric, dd.y AS last_y
  FROM dd JOIN p ON dd.metric = p.metric AND dd.t = p.n
), test AS (
  SELECT metric, y, t FROM idx WHERE t > tot - 7
), sc AS (
  SELECT test.metric, cast(p.n AS bigint) AS n_train,
         cast(round(abs(cast(test.y AS double)
           - (0.5 * lvl.level
              + 0.5 * (cast(p.anum AS double) / cast(p.dd_den AS double)
                       + cast(p.nb AS double) / cast(p.dn AS double)
                         * (cast(p.n AS double)
                            + cast(cast(test.t AS bigint)
                                   - cast(p.n AS bigint) AS double)))))
           * 1e4) AS bigint) AS et,
         abs(test.y - ly.last_y) * 10000 AS en
  FROM test
  JOIN p ON test.metric = p.metric
  JOIN lvl ON test.metric = lvl.metric
  JOIN ly ON test.metric = ly.metric
), gg AS (
  SELECT metric, n_train, cast(count(*) AS bigint) AS n_test,
         cast(sum(et) AS bigint) AS set_s,
         cast(sum(en) AS bigint) AS sen_s
  FROM sc GROUP BY 1, 2
)
SELECT metric, n_train, n_test,
       round(cast(set_s AS double)
             / (1e4 * 100.0 * cast(n_test AS double)), 6) AS mae_theta,
       round(cast(sen_s AS double)
             / (1e4 * 100.0 * cast(n_test AS double)), 6) AS mae_naive,
       round(CASE WHEN sen_s > 0 THEN
         cast(set_s AS double) / cast(sen_s AS double) END, 6) AS mase
FROM gg
""",
        "ccc_pairs": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         a.y AS ya, b.y AS yb
  FROM h a JOIN h b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, cast(count(*) AS hugeint) AS n,
         sum(ya) AS sa, sum(yb) AS sb,
         sum(ya * ya) AS saa, sum(yb * yb) AS sbb,
         sum(ya * yb) AS sab
  FROM p GROUP BY 1, 2 HAVING count(*) >= 24
)
SELECT metric_a, metric_b, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                   AND cast(n * sbb - sb * sb AS double) > 0
             THEN cast(n * sab - sa * sb AS double)
                  / sqrt(cast(n * saa - sa * sa AS double))
                  / sqrt(cast(n * sbb - sb * sb AS double)) END, 6)
         AS r,
       round(CASE WHEN cast((n * saa - sa * sa) + (n * sbb - sb * sb)
                            + (sa - sb) * (sa - sb) AS double) > 0
             THEN 2.0 * cast(n * sab - sa * sb AS double)
                  / cast((n * saa - sa * sa) + (n * sbb - sb * sb)
                         + (sa - sb) * (sa - sb) AS double) END, 6)
         AS ccc
FROM g
""",
        "corr_deseasonalized": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), res AS (
  SELECT metric, hour_ts,
         cast(round(cast(cast(count(*) OVER w AS hugeint) * y
                         - sum(y) OVER w AS double)
                    / (cast(count(*) OVER w AS double) * 100.0)
                    * 1000000.0) AS bigint) AS ru
  FROM h
  WINDOW w AS (PARTITION BY metric, hour(hour_ts))
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         a.ru AS ra, b.ru AS rb
  FROM res a JOIN res b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, cast(count(*) AS hugeint) AS n,
         sum(ra) AS sa, sum(rb) AS sb,
         sum(cast(ra AS hugeint) * ra) AS saa,
         sum(cast(rb AS hugeint) * rb) AS sbb,
         sum(cast(ra AS hugeint) * rb) AS sab
  FROM p GROUP BY 1, 2 HAVING count(*) >= 48
)
SELECT metric_a, metric_b, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                   AND cast(n * sbb - sb * sb AS double) > 0
             THEN cast(n * sab - sa * sb AS double)
                  / sqrt(cast(n * saa - sa * sa AS double))
                  / sqrt(cast(n * sbb - sb * sb AS double)) END, 6)
         AS r_deseason
FROM g
""",
        "corr_winsorized": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), rk AS (
  SELECT metric, hour_ts, y,
         row_number() OVER (PARTITION BY metric
                            ORDER BY y, hour_ts) AS rk,
         count(*) OVER (PARTITION BY metric) AS nn
  FROM h
), thr AS (
  SELECT metric,
         max(CASE WHEN rk = (5 * nn) // 100 + 1 THEN y END) AS lo,
         max(CASE WHEN rk = nn - (5 * nn) // 100 THEN y END) AS hi
  FROM rk GROUP BY 1
), c AS (
  SELECT h.metric, h.hour_ts,
         least(greatest(h.y, t.lo), t.hi) AS y
  FROM h JOIN thr t ON h.metric = t.metric
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         a.y AS ya, b.y AS yb
  FROM c a JOIN c b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
), g AS (
  SELECT metric_a, metric_b, cast(count(*) AS hugeint) AS n,
         sum(ya) AS sa, sum(yb) AS sb,
         sum(ya * ya) AS saa, sum(yb * yb) AS sbb,
         sum(ya * yb) AS sab
  FROM p GROUP BY 1, 2 HAVING count(*) >= 24
)
SELECT metric_a, metric_b, cast(n AS bigint) AS n_hours,
       round(CASE WHEN cast(n * saa - sa * sa AS double) > 0
                   AND cast(n * sbb - sb * sb AS double) > 0
             THEN cast(n * sab - sa * sb AS double)
                  / sqrt(cast(n * saa - sa * sa AS double))
                  / sqrt(cast(n * sbb - sb * sb AS double)) END, 6)
         AS r_wins
FROM g
""",
        "rank_churn": """
WITH per AS (
  SELECT date_trunc('day', ts) AS day_ts, event_type AS cat,
         cast(count(*) AS bigint) AS n_rows
  FROM events GROUP BY 1, 2
), rk AS (
  SELECT day_ts, cat, n_rows,
         cast(row_number() OVER (PARTITION BY day_ts
                                 ORDER BY n_rows DESC, cat) AS int)
           AS rank_today
  FROM per
), prev AS (
  SELECT day_ts + INTERVAL 24 HOUR AS day_ts, cat,
         rank_today AS rank_prev
  FROM rk
), dwp AS (
  SELECT DISTINCT d.day_ts
  FROM (SELECT DISTINCT day_ts FROM per) d
  JOIN (SELECT DISTINCT day_ts + INTERVAL 24 HOUR AS day_ts
        FROM per) p USING (day_ts)
)
SELECT r.day_ts, r.cat, r.n_rows, r.rank_today, p.rank_prev,
       p.rank_prev - r.rank_today AS rank_delta
FROM rk r
LEFT JOIN prev p ON r.day_ts = p.day_ts AND r.cat = p.cat
JOIN dwp ON r.day_ts = dwp.day_ts
""",
        "allen_census": """
WITH sp AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         min(ts) AS s, max(ts) AS e
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         CASE
           WHEN a.s = b.s AND a.e = b.e THEN 'equals'
           WHEN a.e < b.s THEN 'before'
           WHEN b.e < a.s THEN 'after'
           WHEN a.e = b.s OR b.e = a.s THEN 'meets'
           WHEN a.s = b.s THEN 'starts'
           WHEN a.e = b.e THEN 'finishes'
           WHEN (a.s > b.s AND a.e < b.e)
             OR (b.s > a.s AND b.e < a.e) THEN 'during'
           ELSE 'overlaps'
         END AS rel
  FROM sp a JOIN sp b
    ON a.hour_ts = b.hour_ts AND a.metric < b.metric
)
SELECT metric_a, metric_b, cast(count(*) AS bigint) AS n_hours,
       cast(sum(CASE WHEN rel = 'before' THEN 1 ELSE 0 END)
            AS bigint) AS n_before,
       cast(sum(CASE WHEN rel = 'after' THEN 1 ELSE 0 END)
            AS bigint) AS n_after,
       cast(sum(CASE WHEN rel = 'meets' THEN 1 ELSE 0 END)
            AS bigint) AS n_meets,
       cast(sum(CASE WHEN rel = 'equals' THEN 1 ELSE 0 END)
            AS bigint) AS n_equals,
       cast(sum(CASE WHEN rel = 'starts' THEN 1 ELSE 0 END)
            AS bigint) AS n_starts,
       cast(sum(CASE WHEN rel = 'finishes' THEN 1 ELSE 0 END)
            AS bigint) AS n_finishes,
       cast(sum(CASE WHEN rel = 'during' THEN 1 ELSE 0 END)
            AS bigint) AS n_during,
       cast(sum(CASE WHEN rel = 'overlaps' THEN 1 ELSE 0 END)
            AS bigint) AS n_overlaps
FROM p GROUP BY 1, 2 HAVING count(*) >= 8
""",
        "kendall_tau": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pd AS (
  SELECT a.m AS metric_a, b.m AS metric_b, a.day_ts,
         a.y AS ya, b.y AS yb
  FROM d a JOIN d b ON a.day_ts = b.day_ts AND a.m < b.m
), pp AS (
  SELECT i.metric_a, i.metric_b,
         CASE WHEN (j.ya > i.ya AND j.yb > i.yb)
                OR (j.ya < i.ya AND j.yb < i.yb) THEN 1 ELSE 0
         END AS conc,
         CASE WHEN (j.ya > i.ya AND j.yb < i.yb)
                OR (j.ya < i.ya AND j.yb > i.yb) THEN 1 ELSE 0
         END AS disc,
         CASE WHEN j.ya = i.ya THEN 1 ELSE 0 END AS t1,
         CASE WHEN j.yb = i.yb THEN 1 ELSE 0 END AS t2
  FROM pd i JOIN pd j
    ON i.metric_a = j.metric_a AND i.metric_b = j.metric_b
   AND i.day_ts < j.day_ts
), g AS (
  SELECT metric_a, metric_b, count(*) AS n0,
         sum(conc) AS concordant, sum(disc) AS discordant,
         sum(t1) AS n1, sum(t2) AS n2
  FROM pp GROUP BY 1, 2
), days AS (
  SELECT metric_a, metric_b, count(*) AS n_days
  FROM pd GROUP BY 1, 2
)
SELECT g.metric_a, g.metric_b,
       cast(days.n_days AS bigint) AS n_days,
       cast(g.concordant AS bigint) AS concordant,
       cast(g.discordant AS bigint) AS discordant,
       round(CASE WHEN cast((g.n0 - g.n1) * (g.n0 - g.n2) AS double) > 0
             THEN cast(g.concordant - g.discordant AS double)
                  / sqrt(cast((g.n0 - g.n1) * (g.n0 - g.n2) AS double))
             END, 6) AS tau_b
FROM g JOIN days
  ON g.metric_a = days.metric_a AND g.metric_b = days.metric_b
WHERE days.n_days >= 10
ORDER BY 1, 2
""",
        "apdex_hourly": """
WITH c AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(round(value * 100) AS bigint) AS cents
  FROM events
), g AS (
  SELECT metric, hour_ts, count(*) AS n,
         sum(CASE WHEN cents <= 5000 THEN 1 ELSE 0 END) AS satisfied,
         sum(CASE WHEN cents > 5000 AND cents <= 20000 THEN 1 ELSE 0
             END) AS tolerating
  FROM c GROUP BY 1, 2
)
SELECT metric, hour_ts, cast(n AS bigint) AS n,
       cast(satisfied AS bigint) AS satisfied,
       cast(tolerating AS bigint) AS tolerating,
       round(cast(2 * satisfied + tolerating AS double)
             / cast(2 * n AS double), 6) AS apdex,
       CASE WHEN 100 * (2 * satisfied + tolerating) >= 94 * 2 * n
              THEN 'excellent'
            WHEN 100 * (2 * satisfied + tolerating) >= 85 * 2 * n
              THEN 'good'
            WHEN 100 * (2 * satisfied + tolerating) >= 70 * 2 * n
              THEN 'fair'
            WHEN 100 * (2 * satisfied + tolerating) >= 50 * 2 * n
              THEN 'poor'
            ELSE 'unacceptable' END AS rating
FROM g
""",
        "theil_daily": """
WITH cells AS (
  SELECT date_trunc('day', ts) AS day_ts, event_type AS grp,
         user_id AS unit,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2, 3
  HAVING sum(cast(round(value * 100) AS bigint)) > 0
), cu AS (
  SELECT day_ts, grp, y,
         cast(round(cast(y AS double) * ln(cast(y AS double))
                    * 1000000.0) AS bigint) AS yln_u
  FROM cells
), g AS (
  SELECT day_ts, grp, cast(sum(y) AS bigint) AS yg,
         count(*) AS ng, cast(sum(yln_u) AS bigint) AS s_yln
  FROM cu GROUP BY 1, 2
), gb AS (
  SELECT day_ts, yg, ng, s_yln,
         cast(round(cast(yg AS double)
                    * ln(cast(yg AS double) / cast(ng AS double))
                    * 1000000.0) AS bigint) AS bterm_u
  FROM g
), d AS (
  SELECT day_ts, cast(sum(yg) AS bigint) AS ytot,
         cast(sum(ng) AS bigint) AS n_cells,
         count(*) AS n_groups,
         cast(sum(s_yln) AS bigint) AS s_yln,
         cast(sum(bterm_u) AS bigint) AS s_b
  FROM gb GROUP BY 1 HAVING sum(ng) >= 10
)
SELECT day_ts, n_cells, cast(n_groups AS bigint) AS n_groups,
       round(cast(s_yln AS double) / 1000000.0 / cast(ytot AS double)
             + ln(cast(n_cells AS double)) - ln(cast(ytot AS double)),
             6) AS theil_total,
       round(cast(s_b AS double) / 1000000.0 / cast(ytot AS double)
             + ln(cast(n_cells AS double)) - ln(cast(ytot AS double)),
             6) AS theil_between,
       round(cast(s_yln - s_b AS double) / 1000000.0
             / cast(ytot AS double), 6) AS theil_within
FROM d
""",
        "panel_fe": """
WITH cells AS (
  SELECT user_id AS u, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y,
         count(*) AS x
  FROM events GROUP BY 1, 2
), um AS (
  SELECT u, cast(sum(y) AS bigint) AS sy,
         cast(sum(x) AS bigint) AS sx, count(*) AS c
  FROM cells GROUP BY 1 HAVING count(*) >= 2
), p AS (
  SELECT cells.u,
         cast(round((cast(y AS double)
                     - cast(sy AS double) / cast(c AS double))
                    * 1000000.0) AS bigint) AS yt,
         cast(round((cast(x AS double)
                     - cast(sx AS double) / cast(c AS double))
                    * 1000000.0) AS bigint) AS xt
  FROM cells JOIN um ON cells.u = um.u
), g AS (
  SELECT count(*) AS n, count(DISTINCT u) AS ne,
         sum(cast(xt AS hugeint) * xt) AS sxx,
         sum(cast(xt AS hugeint) * yt) AS sxy,
         sum(cast(yt AS hugeint) * yt) AS syy
  FROM p
)
SELECT round(CASE WHEN cast(sxx AS double) > 0
             THEN cast(sxy AS double) / cast(sxx AS double) END, 6)
         AS beta,
       round(CASE WHEN cast(sxx AS double) > 0 AND n - ne - 1 > 0
             THEN sqrt((cast(syy AS double)
                        - cast(sxy AS double) * cast(sxy AS double)
                          / cast(sxx AS double))
                       / cast(n - ne - 1 AS double)
                       / cast(sxx AS double)) END, 6) AS se,
       round(CASE WHEN cast(sxx AS double) > 0 AND n - ne - 1 > 0
              AND cast(syy AS double) - cast(sxy AS double)
                  * cast(sxy AS double) / cast(sxx AS double) > 0
             THEN (cast(sxy AS double) / cast(sxx AS double))
                  / sqrt((cast(syy AS double)
                          - cast(sxy AS double) * cast(sxy AS double)
                            / cast(sxx AS double))
                         / cast(n - ne - 1 AS double)
                         / cast(sxx AS double)) END, 6) AS t_stat,
       round(CASE WHEN cast(sxx AS double) > 0
                   AND cast(syy AS double) > 0
             THEN cast(sxy AS double) * cast(sxy AS double)
                  / cast(sxx AS double) / cast(syy AS double) END, 6)
         AS r2_within,
       cast(n AS bigint) AS n_obs, cast(ne AS bigint) AS n_entities
FROM g
""",
        "text_readability": """
WITH d AS (
  SELECT doc_id,
         cast(len(regexp_extract_all(lower(text), '[a-z]+'))
              AS bigint) AS n_words,
         cast(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS bigint) AS n_sentences,
         cast(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS bigint) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(cast(206835 * n_sentences * n_words
                  - 1015 * n_words * n_words
                  - 84600 * n_syllables * n_sentences AS double)
             / cast(1000 * n_sentences * n_words AS double), 6)
         AS flesch,
       CASE WHEN 206835 * n_sentences * n_words
                 - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 60000 * n_sentences * n_words THEN 'easy'
            WHEN 206835 * n_sentences * n_words
                 - 1015 * n_words * n_words
                 - 84600 * n_syllables * n_sentences
                 >= 30000 * n_sentences * n_words THEN 'standard'
            ELSE 'difficult' END AS band
FROM d WHERE n_words > 0
""",
        "capacity_projection": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), d0 AS (SELECT min(day_ts) AS d0 FROM d),
dx AS (
  SELECT metric, y,
         cast(date_diff('day', d0.d0, day_ts) AS bigint) AS x
  FROM d, d0
), g AS (
  SELECT metric, count(*) AS n, cast(sum(x) AS bigint) AS sx,
         cast(sum(y) AS hugeint) AS sy,
         cast(sum(x * x) AS bigint) AS sxx,
         sum(cast(x AS hugeint) * y) AS sxy,
         cast(max(y) AS bigint) AS peak,
         cast(max(x) AS bigint) AS xmax
  FROM dx GROUP BY 1 HAVING count(*) >= 7
), s AS (
  SELECT metric, n, peak, xmax, sx, sy,
         CASE WHEN cast(n * sxx - sx * sx AS double) > 0
           THEN cast(cast(n AS hugeint) * sxy
                     - cast(sx AS hugeint) * sy AS double)
                / cast(n * sxx - sx * sx AS double) END AS slope
  FROM g
), lvl AS (
  SELECT metric, n, peak, slope,
         (cast(sy AS double) - slope * cast(sx AS double))
           / cast(n AS double)
         + slope * cast(xmax AS double) AS level_now
  FROM s
)
SELECT metric, cast(n AS bigint) AS n_days,
       round(slope, 6) AS slope_cents_per_day,
       round(level_now, 6) AS level_now,
       cast(2 * peak AS bigint) AS target_cents,
       round(CASE WHEN slope > 0
             THEN (cast(2 * peak AS double) - level_now) / slope END,
             6) AS days_to_2x
FROM lvl
""",
        "t_closeness": """
WITH pv AS (
  SELECT lang AS q0, source AS q1,
         cast(floor(n_chars / 100) AS bigint) AS s,
         cast(count(*) AS bigint) AS cgv
  FROM documents GROUP BY 1, 2, 3
), ghist AS (
  SELECT s, cast(sum(cgv) AS bigint) AS cv FROM pv GROUP BY 1
), tot AS (SELECT cast(sum(cv) AS bigint) AS n FROM ghist),
gsz AS (
  SELECT q0, q1, cast(sum(cgv) AS bigint) AS ng FROM pv GROUP BY 1, 2
), pg AS (
  SELECT pv.q0, pv.q1, any_value(gsz.ng) AS ng, any_value(tot.n) AS n,
         sum(abs(cast(cgv AS hugeint) * tot.n
                 - cast(cv AS hugeint) * gsz.ng)
             - cast(cv AS hugeint) * gsz.ng) AS psum
  FROM pv
  JOIN ghist ON pv.s = ghist.s
  JOIN gsz ON pv.q0 = gsz.q0 AND pv.q1 = gsz.q1
  CROSS JOIN tot
  GROUP BY 1, 2
), gnum AS (
  SELECT ng, n, psum + cast(n AS hugeint) * ng AS num FROM pg
), pt AS (
  SELECT ng, n, num, t10
  FROM gnum CROSS JOIN (VALUES (2), (3), (5)) AS t(t10)
), rep AS (
  SELECT t10, count(*) AS n_groups,
         sum(CASE WHEN 10 * num > cast(t10 AS hugeint) * 2 * ng * n
             THEN 1 ELSE 0 END) AS n_groups_above,
         sum(CASE WHEN 10 * num > cast(t10 AS hugeint) * 2 * ng * n
             THEN ng ELSE 0 END) AS n_rows_above,
         sum(ng) AS n_rows,
         max(round(cast(num AS double)
                   / (2.0 * cast(ng AS double) * cast(n AS double)),
                   6)) AS max_tvd
  FROM pt GROUP BY 1
)
SELECT cast(t10 AS double) / 10.0 AS t,
       cast(n_groups AS bigint) AS n_groups,
       cast(n_groups_above AS bigint) AS n_groups_above,
       cast(n_rows_above AS bigint) AS n_rows_above,
       round(cast(n_rows_above AS double) / cast(n_rows AS double), 6)
         AS pct_rows_above,
       max_tvd
FROM rep
""",
        "icc_oneway": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), cd AS (
  SELECT day_ts FROM d GROUP BY day_ts
  HAVING count(*) = (SELECT count(DISTINCT m) FROM d)
), g AS (
  SELECT d.m, d.day_ts, d.y FROM d JOIN cd USING (day_ts)
), day AS (
  SELECT day_ts, cast(sum(y) AS bigint) AS s_i,
         sum(cast(y AS hugeint) * y) AS sxx_i, count(*) AS k
  FROM g GROUP BY 1
), a AS (
  SELECT count(*) AS n_days, max(k) AS k_raters,
         cast(sum(s_i) AS bigint) AS t_tot, sum(sxx_i) AS sxx,
         sum(cast(s_i AS hugeint) * s_i) AS srow
  FROM day
), s AS (
  SELECT k_raters, n_days, t_tot,
         (cast(srow AS double) / cast(k_raters AS double)
          - cast(t_tot AS double) * cast(t_tot AS double)
            / (cast(n_days AS double) * cast(k_raters AS double)))
         / (cast(n_days AS double) - 1.0) AS msb,
         (cast(sxx AS double)
          - cast(srow AS double) / cast(k_raters AS double))
         / (cast(n_days AS double)
            * (cast(k_raters AS double) - 1.0)) AS msw
  FROM a
)
SELECT cast(k_raters AS bigint) AS k_raters,
       cast(n_days AS bigint) AS n_days,
       t_tot AS grand_total,
       round(msb / 10000.0, 6) AS msb, round(msw / 10000.0, 6) AS msw,
       round(CASE WHEN msb + (cast(k_raters AS double) - 1.0) * msw > 0
             THEN (msb - msw)
                  / (msb + (cast(k_raters AS double) - 1.0) * msw)
             END, 6) AS icc1
FROM s WHERE n_days >= 2 AND k_raters >= 2
""",
        "cronbach_alpha": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), cd AS (
  SELECT day_ts FROM d GROUP BY day_ts
  HAVING count(*) = (SELECT count(DISTINCT m) FROM d)
), g AS (
  SELECT d.m, d.day_ts, d.y FROM d JOIN cd USING (day_ts)
), item AS (
  SELECT m, cast(sum(y) AS bigint) AS c_j,
         sum(cast(y AS hugeint) * y) AS sxx_j, count(*) AS n
  FROM g GROUP BY 1
), day AS (
  SELECT day_ts, cast(sum(y) AS bigint) AS s_i FROM g GROUP BY 1
), a1 AS (
  SELECT count(*) AS k_items, max(n) AS n_days,
         cast(sum(c_j) AS bigint) AS t_tot, sum(sxx_j) AS sxx,
         sum(cast(c_j AS hugeint) * c_j) AS scol
  FROM item
), a2 AS (
  SELECT sum(cast(s_i AS hugeint) * s_i) AS srow FROM day
), s AS (
  SELECT k_items, n_days,
         (cast(sxx AS double)
          - cast(scol AS double) / cast(n_days AS double))
         / (cast(n_days AS double) - 1.0) AS ivs,
         (cast(srow AS double)
          - cast(t_tot AS double) * cast(t_tot AS double)
            / cast(n_days AS double))
         / (cast(n_days AS double) - 1.0) AS tv
  FROM a1 CROSS JOIN a2
)
SELECT cast(k_items AS bigint) AS k_items,
       cast(n_days AS bigint) AS n_days,
       round(ivs / 10000.0, 6) AS item_var_sum,
       round(tv / 10000.0, 6) AS total_var,
       round(CASE WHEN tv > 0
             THEN cast(k_items AS double)
                  / (cast(k_items AS double) - 1.0)
                  * (1.0 - ivs / tv) END, 6) AS alpha
FROM s WHERE n_days >= 2 AND k_items >= 2
""",
        "friedman_test": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), cd AS (
  SELECT day_ts FROM d GROUP BY day_ts
  HAVING count(*) = (SELECT count(DISTINCT m) FROM d)
), g AS (
  SELECT d.m, d.day_ts, d.y FROM d JOIN cd USING (day_ts)
), r2 AS (
  SELECT g.day_ts, g.m,
         2 * sum(CASE WHEN o.yo < g.y THEN 1 ELSE 0 END)
         + sum(CASE WHEN o.yo = g.y THEN 1 ELSE 0 END) + 1 AS r2
  FROM g JOIN (SELECT day_ts, m AS mo, y AS yo FROM g) o
    ON g.day_ts = o.day_ts
  GROUP BY 1, 2
), pm AS (
  SELECT m, cast(sum(r2) AS bigint) AS r2_j, count(*) AS n
  FROM r2 GROUP BY 1
), ties AS (
  SELECT cast(sum(t * t * t - t) AS bigint) AS tie_term
  FROM (SELECT count(*) AS t FROM g GROUP BY day_ts, y)
), tot AS (
  SELECT count(*) AS k_raters, max(n) AS n_days FROM pm
), dev AS (
  SELECT k_raters, n_days,
         cast(sum((r2_j - n_days * (k_raters + 1))
                  * (r2_j - n_days * (k_raters + 1))) AS bigint) AS dev2
  FROM pm CROSS JOIN tot GROUP BY 1, 2
), s AS (
  SELECT n_days, k_raters, dev2, tie_term,
         3.0 * cast(dev2 AS double)
         / (cast(n_days AS double) * cast(k_raters AS double)
            * (cast(k_raters AS double) + 1.0)) AS q,
         1.0 - cast(tie_term AS double)
               / (cast(n_days AS double) * cast(k_raters AS double)
                  * (cast(k_raters AS double) * cast(k_raters AS double)
                     - 1.0)) AS c
  FROM dev CROSS JOIN ties
)
SELECT cast(n_days AS bigint) AS n_days,
       cast(k_raters AS bigint) AS k_raters,
       dev2, tie_term,
       round(q, 6) AS q_stat,
       round(CASE WHEN c > 0 THEN q / c END, 6) AS q_tiecorr
FROM s WHERE n_days >= 2 AND k_raters >= 2
""",
        "cohen_kappa": """
WITH hrs AS (
  SELECT date_trunc('hour', ts) AS hour_ts,
         count(*) AS n_events, count(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1
), lng AS (
  SELECT hour_ts, 'a' AS meas, cast(n_events AS bigint) AS v FROM hrs
  UNION ALL
  SELECT hour_ts, 'b' AS meas, cast(n_users AS bigint) AS v FROM hrs
), banded AS (
  SELECT hour_ts, meas,
         ntile(3) OVER (PARTITION BY meas ORDER BY v, hour_ts) AS band
  FROM lng
), wide AS (
  SELECT hour_ts,
         max(CASE WHEN meas = 'a' THEN band END) AS a,
         max(CASE WHEN meas = 'b' THEN band END) AS b
  FROM banded GROUP BY 1
), conf AS (
  SELECT a, b, count(*) AS c FROM wide GROUP BY 1, 2
), tot AS (SELECT cast(sum(c) AS bigint) AS n_subjects FROM conf),
diag AS (
  SELECT cast(coalesce(sum(c), 0) AS bigint) AS n_agree
  FROM conf WHERE a = b
), rws AS (SELECT a, cast(sum(c) AS bigint) AS ra FROM conf GROUP BY 1),
cls AS (SELECT b, cast(sum(c) AS bigint) AS cb FROM conf GROUP BY 1),
chance AS (
  SELECT coalesce(sum(cast(ra AS hugeint) * cb), 0) AS chance_num
  FROM rws JOIN cls ON rws.a = cls.b
), s AS (
  SELECT n_subjects, n_agree,
         cast(n_agree AS double) / cast(n_subjects AS double) AS po,
         cast(chance_num AS double)
         / (cast(n_subjects AS double)
            * cast(n_subjects AS double)) AS pe
  FROM tot CROSS JOIN diag CROSS JOIN chance
)
SELECT n_subjects, n_agree,
       round(po, 6) AS po, round(pe, 6) AS pe,
       round(CASE WHEN pe < 1 THEN (po - pe) / (1.0 - pe) END, 6) AS kappa
FROM s WHERE n_subjects > 0
""",
        "littles_law": """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), gg AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
), s AS (
  SELECT user_id, sid, min(ts) AS st, max(ts) AS en
  FROM gg GROUP BY 1, 2
), arr AS (
  SELECT date_trunc('hour', st) AS hour_ts, count(*) AS arrivals,
         cast(sum(epoch_us(en) - epoch_us(st)) AS bigint) AS dur_us
  FROM s GROUP BY 1
), hrs AS (
  SELECT unnest(generate_series(date_trunc('hour', st),
                                date_trunc('hour', en),
                                INTERVAL 1 HOUR)) AS hour_ts, st, en
  FROM s
), busy AS (
  SELECT hour_ts,
         cast(sum(epoch_us(least(en, hour_ts + INTERVAL 1 HOUR))
                  - epoch_us(greatest(st, hour_ts))) AS bigint) AS busy_us
  FROM hrs GROUP BY 1
), j AS (
  SELECT coalesce(arr.hour_ts, busy.hour_ts) AS hour_ts,
         coalesce(arrivals, 0) AS arrivals,
         coalesce(dur_us, 0) AS dur_us,
         coalesce(busy_us, 0) AS busy_us
  FROM arr FULL JOIN busy ON arr.hour_ts = busy.hour_ts
)
SELECT hour_ts, cast(arrivals AS bigint) AS arrivals,
       round(CASE WHEN arrivals > 0
             THEN cast(dur_us AS double) / cast(arrivals AS double)
                  / 1000000.0 END, 6) AS w_mean_sec,
       round(cast(dur_us AS double) / 3600000000.0, 6) AS l_arrival,
       round(cast(busy_us AS double) / 3600000000.0, 6) AS l_observed,
       round(CASE WHEN dur_us > 0
             THEN (cast(busy_us AS double) / 3600000000.0)
                  / (cast(dur_us AS double) / 3600000000.0)
             END, 6) AS flow_balance
FROM j
""",
        "mtbf_mttr": """
WITH ph AS (
  SELECT event_type AS m, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1, 2
), span AS (
  SELECT m, min(h) AS h0, max(h) AS h1 FROM ph GROUP BY 1
), grid AS (
  SELECT m, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM span
), st AS (
  SELECT g.m, g.h, CASE WHEN ph.n IS NULL THEN 0 ELSE 1 END AS up
  FROM grid g LEFT JOIN ph ON g.m = ph.m AND g.h = ph.h
), isl AS (
  SELECT m, up,
         row_number() OVER (PARTITION BY m ORDER BY h)
         - row_number() OVER (PARTITION BY m, up ORDER BY h) AS isl
  FROM st
), runs AS (
  SELECT m, up, isl, count(*) AS len FROM isl GROUP BY 1, 2, 3
), agg AS (
  SELECT m, cast(sum(len) AS bigint) AS total_hours,
         cast(sum(CASE WHEN up = 0 THEN len ELSE 0 END) AS bigint)
           AS down_hours,
         cast(sum(CASE WHEN up = 0 THEN 1 ELSE 0 END) AS bigint)
           AS n_down_runs,
         cast(sum(CASE WHEN up = 1 THEN len ELSE 0 END) AS bigint)
           AS up_hours,
         cast(sum(CASE WHEN up = 1 THEN 1 ELSE 0 END) AS bigint)
           AS n_up_runs
  FROM runs GROUP BY 1
)
SELECT m AS metric, total_hours, down_hours, n_down_runs,
       round(cast(up_hours AS double) / cast(total_hours AS double), 6)
         AS availability,
       round(CASE WHEN n_down_runs > 0
             THEN cast(down_hours AS double)
                  / cast(n_down_runs AS double) END, 6) AS mttr_hours,
       round(CASE WHEN n_up_runs > 0
             THEN cast(up_hours AS double)
                  / cast(n_up_runs AS double) END, 6) AS mtbf_hours
FROM agg
""",
        "p_chart": """
WITH day AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         count(*) AS n,
         sum(CASE WHEN cast(round(value * 100) AS bigint) > 10000
             THEN 1 ELSE 0 END) AS defects
  FROM events GROUP BY 1, 2
), ctr AS (
  SELECT metric, cast(sum(n) AS bigint) AS tot_n,
         cast(sum(defects) AS bigint) AS tot_d
  FROM day GROUP BY 1
), j AS (
  SELECT day.metric, day_ts, cast(n AS bigint) AS n,
         cast(defects AS bigint) AS defects,
         cast(tot_d AS double) / cast(tot_n AS double) AS p_bar
  FROM day JOIN ctr ON day.metric = ctr.metric
), e AS (
  SELECT metric, day_ts, n, defects, p_bar,
         cast(defects AS double) / cast(n AS double) AS p_day,
         p_bar + 3.0 * sqrt(p_bar * (1.0 - p_bar)
                            / cast(n AS double)) AS ucl,
         greatest(0.0, p_bar - 3.0 * sqrt(p_bar * (1.0 - p_bar)
                                          / cast(n AS double))) AS lcl
  FROM j
)
SELECT metric, day_ts, n, defects,
       round(p_day, 6) AS p_day, round(p_bar, 6) AS p_bar,
       round(ucl, 6) AS ucl, round(lcl, 6) AS lcl,
       cast(CASE WHEN p_day > ucl THEN 1
                 WHEN p_day < lcl THEN -1 ELSE 0 END AS int) AS ooc
FROM e
""",
        "c_chart": """
WITH day AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         count(*) AS c
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(day_ts) AS d0, max(day_ts) AS d1,
         cast(sum(c) AS bigint) AS tot_c
  FROM day GROUP BY 1
), grid AS (
  SELECT metric, tot_c,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
  FROM span
), fg AS (
  SELECT g.metric, g.day_ts, g.tot_c, coalesce(day.c, 0) AS c
  FROM grid g LEFT JOIN day
    ON g.metric = day.metric AND g.day_ts = day.day_ts
), nd AS (
  SELECT metric, count(*) AS n_days FROM fg GROUP BY 1
), e AS (
  SELECT f.metric, day_ts, cast(c AS bigint) AS c,
         cast(tot_c AS double) / cast(n_days AS double) AS c_bar
  FROM fg f JOIN nd ON f.metric = nd.metric
), e2 AS (
  SELECT metric, day_ts, c, c_bar,
         c_bar + 3.0 * sqrt(c_bar) AS ucl,
         greatest(0.0, c_bar - 3.0 * sqrt(c_bar)) AS lcl
  FROM e
)
SELECT metric, day_ts, c, round(c_bar, 6) AS c_bar,
       round(ucl, 6) AS ucl, round(lcl, 6) AS lcl,
       cast(CASE WHEN cast(c AS double) > ucl THEN 1
                 WHEN cast(c AS double) < lcl THEN -1
                 ELSE 0 END AS int) AS ooc
FROM e2
""",
        "hhi_hourly": """
WITH pc AS (
  SELECT date_trunc('hour', ts) AS hour_ts, event_type AS cat,
         count(*) AS n_c
  FROM events GROUP BY 1, 2
), a AS (
  SELECT hour_ts, cast(sum(n_c) AS bigint) AS n, count(*) AS n_cats,
         sum(cast(n_c AS hugeint) * n_c) AS sq
  FROM pc GROUP BY 1
)
SELECT hour_ts, n, cast(n_cats AS bigint) AS n_cats,
       round(cast(sq AS double)
             / (cast(n AS double) * cast(n AS double)), 6) AS hhi,
       round(CASE WHEN n_cats > 1
             THEN (cast(sq AS double)
                   / (cast(n AS double) * cast(n AS double))
                   - 1.0 / cast(n_cats AS double))
                  / (1.0 - 1.0 / cast(n_cats AS double))
             END, 6) AS hhi_norm
FROM a
""",
        "atkinson_daily": """
WITH cells AS (
  SELECT date_trunc('day', ts) AS day_ts, user_id AS unit,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
  HAVING sum(cast(round(value * 100) AS bigint)) > 0
), a AS (
  SELECT day_ts, count(*) AS n_units, cast(sum(y) AS bigint) AS t_tot,
         cast(sum(cast(round(ln(cast(y AS double)) * 1000000.0)
                       AS bigint)) AS bigint) AS lnsum
  FROM cells GROUP BY 1
)
SELECT day_ts, cast(n_units AS bigint) AS n_units,
       t_tot AS total_cents,
       round(1.0 - exp((cast(lnsum AS double) / 1000000.0)
                       / cast(n_units AS double))
                   / (cast(t_tot AS double)
                      / cast(n_units AS double)), 6) AS atkinson1
FROM a
""",
        "grubbs_daily": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), agg AS (
  SELECT metric, day_ts, count(*) AS n, cast(sum(c) AS bigint) AS t_tot,
         sum(cast(c AS hugeint) * c) AS sxx,
         min(c) AS c_min, max(c) AS c_max
  FROM pt GROUP BY 1, 2 HAVING count(*) >= 3
), e AS (
  SELECT metric, day_ts, n, t_tot, c_min, c_max,
         n * c_max - t_tot AS d_hi, t_tot - n * c_min AS d_lo,
         (cast(sxx AS double)
          - cast(t_tot AS double) * cast(t_tot AS double)
            / cast(n AS double))
         / (cast(n AS double) - 1.0) AS var
  FROM agg
)
SELECT metric, day_ts, cast(n AS bigint) AS n,
       round(cast(t_tot AS double) / cast(n AS double) / 100.0, 6)
         AS mean_v,
       round(sqrt(greatest(var, 0.0)) / 100.0, 6) AS sd_v,
       round(cast(CASE WHEN d_hi >= d_lo THEN c_max ELSE c_min END
                  AS double) / 100.0, 6) AS suspect_value,
       round(CASE WHEN var > 0
             THEN (cast(greatest(d_hi, d_lo) AS double)
                   / cast(n AS double))
                  / sqrt(greatest(var, 0.0)) END, 6) AS g_stat
FROM e
""",
        "crossing_rate": """
WITH pt AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS t_us, event_id AS o,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), day AS (
  SELECT metric, day_ts, count(*) AS n, cast(sum(c) AS bigint) AS t_tot
  FROM pt GROUP BY 1, 2
), s AS (
  SELECT pt.metric, pt.day_ts, day.n,
         sign(day.n * pt.c - day.t_tot) AS sgn,
         lag(sign(day.n * pt.c - day.t_tot)) OVER (
           PARTITION BY pt.metric, pt.day_ts ORDER BY t_us, o
         ) AS sgn_prev
  FROM pt JOIN day
    ON pt.metric = day.metric AND pt.day_ts = day.day_ts
), g AS (
  SELECT metric, day_ts, max(n) AS n,
         sum(CASE WHEN sgn * sgn_prev = -1 THEN 1 ELSE 0 END)
           AS crossings
  FROM s GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n AS bigint) AS n,
       cast(crossings AS bigint) AS crossings,
       round(cast(crossings AS double)
             / (cast(n AS double) - 1.0), 6) AS crossing_rate
FROM g WHERE n >= 2
""",
        "reciprocity": """
WITH d AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS prev_type
  FROM events
), e AS (
  SELECT prev_type AS s, event_type AS d2, count(*) AS w
  FROM d WHERE prev_type IS NOT NULL AND prev_type <> event_type
  GROUP BY 1, 2
), j AS (
  SELECT a.w, coalesce(b.w, 0) AS w_rev
  FROM e a LEFT JOIN e b ON a.s = b.d2 AND a.d2 = b.s
)
SELECT cast(count(*) AS bigint) AS n_edges,
       cast(sum(w) AS bigint) AS w_total,
       cast(sum(least(w, w_rev)) AS bigint) AS w_reciprocated,
       round(cast(sum(least(w, w_rev)) AS double)
             / cast(sum(w) AS double), 6) AS reciprocity
FROM j
""",
        "stickiness_daily": """
WITH du AS (
  SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d FROM events
), span AS (
  SELECT max(d) AS d1 FROM du
), tgt AS (
  SELECT DISTINCT u, td FROM (
    SELECT u, unnest(generate_series(
      d, least((SELECT d1 FROM span), d + INTERVAL 29 DAY),
      INTERVAL 1 DAY)) AS td
    FROM du)
), mau AS (
  SELECT td, count(*) AS mau FROM tgt GROUP BY 1
), dau AS (
  SELECT d, count(*) AS dau FROM du GROUP BY 1
)
SELECT mau.td AS day_ts,
       cast(coalesce(dau.dau, 0) AS bigint) AS dau,
       cast(mau.mau AS bigint) AS mau,
       round(cast(coalesce(dau.dau, 0) AS double)
             / cast(mau.mau AS double), 6) AS stickiness
FROM mau LEFT JOIN dau ON mau.td = dau.d
""",
        "lorenz_deciles": """
WITH cells AS (
  SELECT date_trunc('day', ts) AS day_ts, user_id AS unit,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), tiled AS (
  SELECT day_ts, y,
         ntile(10) OVER (PARTITION BY day_ts ORDER BY y, unit) AS decile
  FROM cells
), per AS (
  SELECT day_ts, decile, count(*) AS n_units,
         cast(sum(y) AS bigint) AS yd
  FROM tiled GROUP BY 1, 2
)
SELECT day_ts, cast(decile AS int) AS decile,
       cast(n_units AS bigint) AS n_units,
       yd AS decile_cents,
       round(cast(sum(yd) OVER (PARTITION BY day_ts ORDER BY decile
                                ROWS UNBOUNDED PRECEDING) AS double)
             / cast(sum(yd) OVER (PARTITION BY day_ts) AS double), 6)
         AS cum_share
FROM per
""",
        "odds_ratio_weekend": """
WITH e AS (
  SELECT event_type AS metric,
         ((epoch_us(date_trunc('day', ts)) // 86400000000) + 4) % 7
           AS dow,
         CASE WHEN cast(round(value * 100) AS bigint) > 10000
              THEN 1 ELSE 0 END AS hi
  FROM events
), agg AS (
  SELECT metric,
         cast(sum(CASE WHEN dow IN (0, 6) AND hi = 1 THEN 1 ELSE 0 END)
              AS bigint) AS a,
         cast(sum(CASE WHEN dow IN (0, 6) AND hi = 0 THEN 1 ELSE 0 END)
              AS bigint) AS b,
         cast(sum(CASE WHEN dow NOT IN (0, 6) AND hi = 1 THEN 1 ELSE 0
                  END) AS bigint) AS c,
         cast(sum(CASE WHEN dow NOT IN (0, 6) AND hi = 0 THEN 1 ELSE 0
                  END) AS bigint) AS d
  FROM e GROUP BY 1
), s AS (
  SELECT metric, a, b, c, d,
         (cast(a AS double) * cast(d AS double))
         / (cast(b AS double) * cast(c AS double)) AS orr,
         sqrt(1.0 / cast(a AS double) + 1.0 / cast(b AS double)
              + 1.0 / cast(c AS double) + 1.0 / cast(d AS double)) AS se,
         (a > 0 AND b > 0 AND c > 0 AND d > 0) AS ok
  FROM agg
)
SELECT metric, a, b, c, d,
       round(CASE WHEN ok THEN orr END, 6) AS odds_ratio,
       round(CASE WHEN ok THEN exp(ln(orr) - 1.96 * se) END, 6) AS ci_lo,
       round(CASE WHEN ok THEN exp(ln(orr) + 1.96 * se) END, 6) AS ci_hi
FROM s
""",
        "semivariogram": """
WITH g AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), lags AS (
  SELECT unnest(generate_series(1, 6)) AS lag_h
), a AS (
  SELECT metric, cast(lag_h AS int) AS lag_h,
         h + to_hours(lag_h) AS h2, y AS y1
  FROM g CROSS JOIN lags
), p AS (
  SELECT a.metric, a.lag_h, a.y1, b.y AS y2
  FROM a JOIN g b ON a.metric = b.metric AND a.h2 = b.h
), o AS (
  SELECT metric, lag_h, count(*) AS n_pairs,
         sum(cast(y2 - y1 AS hugeint) * (y2 - y1)) AS sq
  FROM p GROUP BY 1, 2
)
SELECT metric, lag_h, cast(n_pairs AS bigint) AS n_pairs,
       round(cast(sq AS double)
             / (2.0 * cast(n_pairs AS double)) / 10000.0, 6) AS gamma
FROM o
""",
        "logrank_weekend": """
WITH ev AS (
  SELECT event_type AS metric, user_id AS conv,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, t1 - t0 AS dur,
         CASE WHEN fmax - t1 < 3600000000 THEN 1 ELSE 0 END AS cens,
         CASE WHEN ((t0 // 86400000000) + 4) % 7 IN (0, 6)
              THEN 1 ELSE 0 END AS g
  FROM ev JOIN fr ON ev.metric = fr.metric
), cnt AS (
  SELECT metric, dur,
         sum(g) AS c1, sum(1 - g) AS c0,
         sum(g * (1 - cens)) AS d1,
         sum((1 - g) * (1 - cens)) AS d0
  FROM d GROUP BY 1, 2
), r AS (
  SELECT metric, d1, d0,
         sum(c1) OVER (PARTITION BY metric ORDER BY dur DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n1,
         sum(c0) OVER (PARTITION BY metric ORDER BY dur DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n0
  FROM cnt
), rd AS (
  SELECT metric, d1, d0, n1, n0,
         cast(d1 + d0 AS double) AS dd,
         cast(n1 AS double) AS n1d, cast(n0 AS double) AS n0d,
         cast(n1 + n0 AS double) AS nnd
  FROM r WHERE d1 + d0 > 0
), terms AS (
  SELECT metric, cast(sum(d1) AS bigint) AS o1,
         cast(sum(cast(round(dd * n1d / nnd * 1000000.0) AS bigint))
              AS bigint) AS e1u,
         cast(sum(CASE WHEN n1 + n0 > 1
                  THEN cast(round(dd * (n1d / nnd) * (n0d / nnd)
                                  * ((nnd - dd) / (nnd - 1.0))
                                  * 1000000.0) AS bigint)
                  ELSE 0 END) AS bigint) AS vu
  FROM rd GROUP BY 1
), arms AS (
  SELECT metric, cast(sum(g) AS bigint) AS n_conv_wkend,
         cast(sum(1 - g) AS bigint) AS n_conv_wkday
  FROM d GROUP BY 1
), zc AS (
  SELECT t.metric, n_conv_wkend, n_conv_wkday, o1,
         cast(e1u AS double) / 1000000.0 AS e1,
         cast(vu AS double) / 1000000.0 AS v,
         CASE WHEN vu > 0
              THEN (cast(o1 AS double)
                    - cast(e1u AS double) / 1000000.0)
                   / sqrt(cast(vu AS double) / 1000000.0) END AS z
  FROM terms t JOIN arms a ON t.metric = a.metric
)
SELECT metric, n_conv_wkend, n_conv_wkday, o1,
       round(e1, 6) AS e1, round(v, 6) AS v,
       round(z, 6) AS z, round(z * z, 6) AS chi2
FROM zc
""",
        "hapax_share": """
WITH tok AS (
  SELECT source AS src, t
  FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
    FROM documents)
  WHERE t <> ''
), per_tok AS (
  SELECT src, t, count(*) AS c FROM tok GROUP BY 1, 2
), agg AS (
  SELECT src, cast(sum(c) AS bigint) AS n_tokens,
         count(*) AS vocab,
         cast(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS bigint) AS hapax
  FROM per_tok GROUP BY 1
)
SELECT src AS source, n_tokens, cast(vocab AS bigint) AS vocab, hapax,
       round(cast(hapax AS double) / cast(vocab AS double), 6)
         AS hapax_share,
       round(cast(vocab AS double) / cast(n_tokens AS double), 6)
         AS type_token_ratio
FROM agg
""",
        "cox_weekend": """
WITH ev AS (
  SELECT event_type AS metric, user_id AS conv,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, t1 - t0 AS dur,
         CASE WHEN fmax - t1 < 3600000000 THEN 1 ELSE 0 END AS cens,
         CASE WHEN ((t0 // 86400000000) + 4) % 7 IN (0, 6)
              THEN 1 ELSE 0 END AS g
  FROM ev JOIN fr ON ev.metric = fr.metric
), cnt AS (
  SELECT metric, dur,
         sum(g) AS c1, sum(1 - g) AS c0,
         sum(g * (1 - cens)) AS d1,
         sum((1 - g) * (1 - cens)) AS d0
  FROM d GROUP BY 1, 2
), r AS (
  SELECT metric, d1, d0,
         sum(c1) OVER (PARTITION BY metric ORDER BY dur DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n1,
         sum(c0) OVER (PARTITION BY metric ORDER BY dur DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS n0
  FROM cnt
), rd AS (
  SELECT metric, d1, d0, n1, n0,
         cast(d1 + d0 AS double) AS dd,
         cast(n1 AS double) AS n1d, cast(n0 AS double) AS n0d
  FROM r WHERE d1 + d0 > 0
),
p0 AS (
  SELECT metric, cast(sum(d1) AS bigint) AS o1,
         cast(sum(cast(round(dd * (n1d * 1.0) / (n0d + n1d * 1.0) * 1000000.0) AS bigint))
              AS bigint) AS uu,
         cast(sum(cast(round(dd * (n1d * 1.0) / (n0d + n1d * 1.0) * (1.0 - (n1d * 1.0) / (n0d + n1d * 1.0))
                             * 1000000.0) AS bigint)) AS bigint) AS iu
  FROM rd GROUP BY metric
),
b1 AS (
  SELECT metric, CASE WHEN p0.iu > 0 THEN (cast(p0.o1 AS double) - cast(p0.uu AS double) / 1000000.0) / (cast(p0.iu AS double) / 1000000.0) ELSE 0.0 END AS beta FROM p0
),
p1 AS (
  SELECT metric, cast(sum(d1) AS bigint) AS o1,
         cast(sum(cast(round(dd * (n1d * exp(beta)) / (n0d + n1d * exp(beta)) * 1000000.0) AS bigint))
              AS bigint) AS uu,
         cast(sum(cast(round(dd * (n1d * exp(beta)) / (n0d + n1d * exp(beta)) * (1.0 - (n1d * exp(beta)) / (n0d + n1d * exp(beta)))
                             * 1000000.0) AS bigint)) AS bigint) AS iu
  FROM (SELECT rd.*, b1.beta FROM rd JOIN b1 ON rd.metric = b1.metric) GROUP BY metric
),
b2 AS (
  SELECT p1.metric, b1.beta + CASE WHEN p1.iu > 0 THEN (cast(p1.o1 AS double) - cast(p1.uu AS double) / 1000000.0) / (cast(p1.iu AS double) / 1000000.0) ELSE 0.0 END AS beta
  FROM p1 JOIN b1 ON p1.metric = b1.metric
),
p2 AS (
  SELECT metric, cast(sum(d1) AS bigint) AS o1,
         cast(sum(cast(round(dd * (n1d * exp(beta)) / (n0d + n1d * exp(beta)) * 1000000.0) AS bigint))
              AS bigint) AS uu,
         cast(sum(cast(round(dd * (n1d * exp(beta)) / (n0d + n1d * exp(beta)) * (1.0 - (n1d * exp(beta)) / (n0d + n1d * exp(beta)))
                             * 1000000.0) AS bigint)) AS bigint) AS iu
  FROM (SELECT rd.*, b2.beta FROM rd JOIN b2 ON rd.metric = b2.metric) GROUP BY metric
)
SELECT p2.metric,
       cast(p2.o1 AS bigint) AS n_deaths_wkend,
       round(b2.beta, 6) AS beta,
       round(exp(b2.beta), 6) AS hazard_ratio,
       round(CASE WHEN p2.iu > 0
             THEN 1.0 / sqrt(cast(p2.iu AS double) / 1000000.0)
             END, 6) AS se,
       round(CASE WHEN p2.iu > 0
             THEN b2.beta / (1.0 / sqrt(cast(p2.iu AS double)
                                        / 1000000.0)) END, 6) AS z
FROM p2 JOIN b2 ON p2.metric = b2.metric
""",
        "gumbel_maxima": """
WITH dm AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         max(cast(round(value * 100) AS bigint)) AS mx
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT metric, count(*) AS n_days, cast(sum(mx) AS bigint) AS t_tot,
         sum(cast(mx AS hugeint) * mx) AS sxx
  FROM dm GROUP BY 1 HAVING count(*) >= 5
), e AS (
  SELECT metric, n_days,
         cast(t_tot AS double) / cast(n_days AS double) AS mean,
         sqrt(greatest(
           (cast(sxx AS double)
            - cast(t_tot AS double) * cast(t_tot AS double)
              / cast(n_days AS double))
           / (cast(n_days AS double) - 1.0), 0.0)) AS sd
  FROM agg
), g AS (
  SELECT metric, n_days, mean, sd,
         sd * 2.449489742783178 / 3.141592653589793 AS beta
  FROM e
), g2 AS (
  SELECT metric, n_days, mean, sd, beta,
         mean - 0.5772156649015329 * beta AS loc
  FROM g
)
SELECT metric, cast(n_days AS bigint) AS n_days,
       round(mean / 100.0, 6) AS mean_max,
       round(sd / 100.0, 6) AS sd_max,
       round(loc / 100.0, 6) AS gumbel_loc,
       round(beta / 100.0, 6) AS gumbel_scale,
       round((loc - beta * ln(-ln(1.0 - 1.0 / 100.0))) / 100.0, 6)
         AS rl_100
FROM g2
""",
        "circadian_phase": """
WITH t AS (
  SELECT event_type AS metric,
         cast(epoch_us(ts) % 86400000000 AS double)
         / 86400000000.0 * 6.283185307179586 AS theta
  FROM events
), agg AS (
  SELECT metric, count(*) AS n,
         cast(sum(cast(round(cos(theta) * 1000000.0) AS bigint))
              AS bigint) AS cu,
         cast(sum(cast(round(sin(theta) * 1000000.0) AS bigint))
              AS bigint) AS su
  FROM t GROUP BY 1
), e AS (
  SELECT metric, n,
         cast(cu AS double) / 1000000.0 AS c,
         cast(su AS double) / 1000000.0 AS s
  FROM agg
), e2 AS (
  SELECT metric, n, sqrt(c * c + s * s) / cast(n AS double) AS r,
         atan2(s, c) AS ang
  FROM e
)
SELECT metric, cast(n AS bigint) AS n,
       round(r, 6) AS resultant_r,
       round(CASE WHEN ang < 0 THEN ang + 6.283185307179586
                  ELSE ang END / 6.283185307179586 * 24.0, 6)
         AS mean_hour
FROM e2
""",
        "lateness_audit": """
WITH t AS (
  SELECT event_type AS metric, cast(event_id AS bigint) AS o,
         epoch_us(ts) AS t_us
  FROM events
), l AS (
  SELECT metric,
         greatest(coalesce(
           max(t_us) OVER (PARTITION BY metric ORDER BY o
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) - t_us, 0), 0) AS late_us
  FROM t
)
SELECT metric, cast(count(*) AS bigint) AS n,
       cast(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS bigint)
         AS n_late,
       round(cast(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
                  AS double) / cast(count(*) AS double), 6)
         AS late_share,
       round(cast(max(late_us) AS double) / 1000000.0, 6)
         AS max_lateness_s,
       cast(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
            AS bigint) AS drop_1m,
       cast(sum(CASE WHEN late_us > 300000000 THEN 1 ELSE 0 END)
            AS bigint) AS drop_5m,
       cast(sum(CASE WHEN late_us > 900000000 THEN 1 ELSE 0 END)
            AS bigint) AS drop_15m
FROM l GROUP BY metric
""",
        "median_survival": """
WITH ev AS (
  SELECT event_type AS metric, user_id AS conv,
         min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
  FROM events GROUP BY 1, 2
), fr AS (
  SELECT metric, max(t1) AS fmax FROM ev GROUP BY 1
), d AS (
  SELECT ev.metric, t1 - t0 AS dur,
         (fmax - t1) < 3600000000 AS censored
  FROM ev JOIN fr USING (metric)
), g AS (
  SELECT metric, dur, censored, cast(count(*) AS bigint) AS c
  FROM d GROUP BY 1, 2, 3
), r AS (
  SELECT metric, dur, censored, c,
         cast(sum(c) OVER (PARTITION BY metric ORDER BY dur DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS bigint)
           AS n_risk
  FROM g
), e AS (
  SELECT metric, dur, c AS d, n_risk FROM r WHERE NOT censored
), l AS (
  SELECT metric, dur, d, n_risk,
         CASE WHEN n_risk > d
              THEN cast(round(ln(cast(n_risk - d AS double)
                                 / cast(n_risk AS double))
                              * 1000000.0) AS bigint) END AS lnu
  FROM e
), cm AS (
  SELECT metric, dur, d, n_risk,
         sum(lnu) OVER (PARTITION BY metric ORDER BY dur
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
  FROM l
), km AS (
  SELECT metric, dur AS t_us, n_risk, d,
         CASE WHEN n_risk > d THEN cast(cum AS bigint) END AS logsurv_u,
         CASE WHEN n_risk = d THEN 0.0
              ELSE round(exp(cast(cum AS double) / 1000000.0), 6)
         END AS surv
  FROM cm
), qual AS (
  SELECT metric, min(t_us) AS med_us
  FROM km
  WHERE logsurv_u <= -693148 OR surv = 0.0
  GROUP BY 1
), fin AS (
  SELECT metric, min(surv) AS final_surv, max(t_us) AS last_us
  FROM km GROUP BY 1
)
SELECT fin.metric,
       round(cast(med_us AS double) / 1000000.0, 6)
         AS median_survival_s,
       final_surv,
       round(cast(last_us AS double) / 1000000.0, 6) AS last_t_s
FROM fin LEFT JOIN qual ON fin.metric = qual.metric
""",
        "kendall_w": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), cd AS (
  SELECT day_ts FROM d GROUP BY day_ts
  HAVING count(*) = (SELECT count(DISTINCT m) FROM d)
), g AS (
  SELECT d.m, d.day_ts, d.y FROM d JOIN cd USING (day_ts)
), r2 AS (
  SELECT g.day_ts, g.m,
         2 * sum(CASE WHEN o.yo < g.y THEN 1 ELSE 0 END)
         + sum(CASE WHEN o.yo = g.y THEN 1 ELSE 0 END) + 1 AS r2
  FROM g JOIN (SELECT day_ts, m AS mo, y AS yo FROM g) o
    ON g.day_ts = o.day_ts
  GROUP BY 1, 2
), pm AS (
  SELECT m, cast(sum(r2) AS bigint) AS r2_j, count(*) AS n
  FROM r2 GROUP BY 1
), ties AS (
  SELECT cast(sum(t * t * t - t) AS bigint) AS tie_term
  FROM (SELECT count(*) AS t FROM g GROUP BY day_ts, y)
), tot AS (
  SELECT count(*) AS k_raters, max(n) AS n_days FROM pm
), dev AS (
  SELECT k_raters, n_days,
         cast(sum((r2_j - n_days * (k_raters + 1))
                  * (r2_j - n_days * (k_raters + 1))) AS bigint) AS dev2
  FROM pm CROSS JOIN tot GROUP BY 1, 2
), s AS (
  SELECT n_days, k_raters, dev2, tie_term,
         cast(n_days AS double) * cast(n_days AS double)
         * cast(k_raters AS double)
         * (cast(k_raters AS double) * cast(k_raters AS double) - 1.0)
           AS denom
  FROM dev CROSS JOIN ties
)
SELECT cast(n_days AS bigint) AS n_days,
       cast(k_raters AS bigint) AS k_raters,
       dev2, tie_term,
       round(3.0 * cast(dev2 AS double) / denom, 6) AS w,
       round(CASE WHEN denom - cast(n_days AS double)
                       * cast(tie_term AS double) > 0
             THEN 3.0 * cast(dev2 AS double)
                  / (denom - cast(n_days AS double)
                     * cast(tie_term AS double)) END, 6) AS w_tiecorr
FROM s WHERE n_days >= 2 AND k_raters >= 2
""",
        "harmonic_regression": """
WITH g AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, y,
         cast(round(cos(cast(extract(hour FROM h) AS double) / 24.0
                        * 6.283185307179586) * 1000000.0) AS bigint)
           AS cu,
         cast(round(sin(cast(extract(hour FROM h) AS double) / 24.0
                        * 6.283185307179586) * 1000000.0) AS bigint)
           AS su
  FROM g
), m AS (
  SELECT metric, count(*) AS n,
         cast(sum(cu) AS bigint) AS sc, cast(sum(su) AS bigint) AS ss,
         sum(cast(cu AS hugeint) * cu) AS scc,
         sum(cast(su AS hugeint) * su) AS sss,
         sum(cast(cu AS hugeint) * su) AS scs,
         cast(sum(y) AS bigint) AS sy,
         sum(cast(y AS hugeint) * y) AS syy,
         sum(cast(y AS hugeint) * cu) AS syc,
         sum(cast(y AS hugeint) * su) AS sys
  FROM t GROUP BY 1 HAVING count(*) >= 4
), e AS (
  SELECT metric, n, cast(n AS double) AS nd,
         cast(sc AS double) / 1000000.0 AS scd,
         cast(ss AS double) / 1000000.0 AS ssd,
         cast(scc AS double) / (1000000.0 * 1000000.0) AS sccd,
         cast(sss AS double) / (1000000.0 * 1000000.0) AS sssd,
         cast(scs AS double) / (1000000.0 * 1000000.0) AS scsd,
         cast(sy AS double) AS syd,
         cast(syy AS double) AS syyd,
         cast(syc AS double) / 1000000.0 AS sycd,
         cast(sys AS double) / 1000000.0 AS sysd
  FROM m
), dts AS (
  SELECT *,
         nd * (sccd * sssd - scsd * scsd)
         - scd * (scd * sssd - scsd * ssd)
         + ssd * (scd * scsd - sccd * ssd) AS det,
         syd * (sccd * sssd - scsd * scsd)
         - scd * (sycd * sssd - scsd * sysd)
         + ssd * (sycd * scsd - sccd * sysd) AS det_a,
         nd * (sycd * sssd - scsd * sysd)
         - syd * (scd * sssd - scsd * ssd)
         + ssd * (scd * sysd - sycd * ssd) AS det_b,
         nd * (sccd * sysd - sycd * scsd)
         - scd * (scd * sysd - sycd * ssd)
         + syd * (scd * scsd - sccd * ssd) AS det_c
  FROM e
), co AS (
  SELECT metric, n, nd, syd, syyd, sycd, sysd,
         det_a / det AS a, det_b / det AS b, det_c / det AS c
  FROM dts WHERE abs(det) > 0
), fin AS (
  SELECT metric, n, a, b, c,
         syyd - (a * syd + b * sycd + c * sysd) AS sse,
         syyd - syd * syd / nd AS sst,
         sqrt(b * b + c * c) AS amp,
         atan2(c, b) AS ang
  FROM co
)
SELECT metric, cast(n AS bigint) AS n_hours,
       round(a / 100.0, 6) AS intercept,
       round(amp / 100.0, 6) AS amplitude,
       round(CASE WHEN ang < 0 THEN ang + 6.283185307179586
                  ELSE ang END / 6.283185307179586 * 24.0, 6)
         AS phase_hour,
       round(CASE WHEN sst > 0 THEN 1.0 - sse / sst END, 6) AS r2
FROM fin
""",
        "charset_report": """
WITH per AS (
  SELECT source AS src, cast(length(text) AS bigint) AS nc,
         cast(length(text)
              - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
              AS bigint) AS letters,
         cast(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS bigint) AS digits,
         cast(length(text)
              - length(regexp_replace(text, '\\s', '', 'g'))
              AS bigint) AS spaces,
         cast(length(text)
              - length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
              AS bigint) AS nonascii
  FROM documents
), agg AS (
  SELECT src, count(*) AS n_docs,
         cast(sum(nc) AS bigint) AS n_chars,
         cast(sum(letters) AS bigint) AS letters,
         cast(sum(digits) AS bigint) AS digits,
         cast(sum(spaces) AS bigint) AS spaces,
         cast(sum(nonascii) AS bigint) AS nonascii
  FROM per GROUP BY 1 HAVING sum(nc) > 0
)
SELECT src AS source, cast(n_docs AS bigint) AS n_docs, n_chars,
       round(cast(letters AS double) / cast(n_chars AS double), 6)
         AS letter_share,
       round(cast(digits AS double) / cast(n_chars AS double), 6)
         AS digit_share,
       round(cast(spaces AS double) / cast(n_chars AS double), 6)
         AS space_share,
       round(cast(nonascii AS double) / cast(n_chars AS double), 6)
         AS nonascii_share,
       round(cast(n_chars - letters - digits - spaces - nonascii
                  AS double) / cast(n_chars AS double), 6)
         AS punct_share
FROM agg
""",
        "sprt_readout": """
WITH day AS (
  SELECT date_trunc('day', ts) AS day_ts, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
), cum AS (
  SELECT day_ts,
         cast(sum(n) OVER (ORDER BY day_ts
                           ROWS UNBOUNDED PRECEDING) AS bigint)
           AS n_cum,
         cast(sum(x) OVER (ORDER BY day_ts
                           ROWS UNBOUNDED PRECEDING) AS bigint)
           AS x_cum
  FROM day
), e AS (
  SELECT day_ts, n_cum, x_cum,
         cast(x_cum AS double) * 0.4054651081081644
         + cast(n_cum - x_cum AS double) * -0.02105340919783238 AS llr
  FROM cum
)
SELECT day_ts, n_cum, x_cum, round(llr, 6) AS llr,
       CASE WHEN llr >= 2.9444389791664403 THEN 'accept_h1'
            WHEN llr <= -2.9444389791664403 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM e
""",
        "distance_corr": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pd AS (
  SELECT a.m AS metric_a, b.m AS metric_b, a.day_ts,
         a.y AS ya, b.y AS yb
  FROM d a JOIN d b ON a.day_ts = b.day_ts AND a.m < b.m
), dist AS (
  SELECT i.metric_a, i.metric_b, i.day_ts AS di, j.day_ts AS dj,
         abs(i.ya - j.ya) AS a, abs(i.yb - j.yb) AS b
  FROM pd i JOIN pd j
    ON i.metric_a = j.metric_a AND i.metric_b = j.metric_b
), rws AS (
  SELECT metric_a, metric_b, di,
         cast(sum(a) AS bigint) AS ra, cast(sum(b) AS bigint) AS rb,
         count(*) AS n
  FROM dist GROUP BY 1, 2, 3
), tots AS (
  SELECT metric_a, metric_b,
         cast(sum(ra) AS bigint) AS sa, cast(sum(rb) AS bigint) AS sb,
         cast(max(n) AS bigint) AS n
  FROM rws GROUP BY 1, 2 HAVING max(n) >= 10
), full_t AS (
  SELECT dist.metric_a, dist.metric_b, tots.n, tots.sa, tots.sb,
         dist.a, dist.b,
         ri.ra AS ra_i, ri.rb AS rb_i,
         rj.ra AS ra_j, rj.rb AS rb_j
  FROM dist
  JOIN tots ON dist.metric_a = tots.metric_a
           AND dist.metric_b = tots.metric_b
  JOIN rws ri ON dist.metric_a = ri.metric_a
             AND dist.metric_b = ri.metric_b AND dist.di = ri.di
  JOIN rws rj ON dist.metric_a = rj.metric_a
             AND dist.metric_b = rj.metric_b AND dist.dj = rj.di
), agg AS (
  SELECT metric_a, metric_b, n,
         sum(cast(n * n * a - n * ra_i - n * ra_j + sa AS hugeint)
             * (n * n * b - n * rb_i - n * rb_j + sb)) AS sab,
         sum(cast(n * n * a - n * ra_i - n * ra_j + sa AS hugeint)
             * (n * n * a - n * ra_i - n * ra_j + sa)) AS saa,
         sum(cast(n * n * b - n * rb_i - n * rb_j + sb AS hugeint)
             * (n * n * b - n * rb_i - n * rb_j + sb)) AS sbb
  FROM full_t GROUP BY 1, 2, 3
), e AS (
  SELECT metric_a, metric_b, n,
         CASE WHEN saa > 0 AND sbb > 0
              THEN greatest(cast(sab AS double)
                            / sqrt(cast(saa AS double)
                                   * cast(sbb AS double)), 0.0)
         END AS dcor2
  FROM agg
)
SELECT metric_a, metric_b, cast(n AS bigint) AS n_days,
       round(dcor2, 6) AS dcor2,
       round(sqrt(dcor2), 6) AS dcor
FROM e
""",
        "energy_distance": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), pairs AS (
  SELECT a.m, a.y AS ya, a.g AS ga, b.y AS yb, b.g AS gb
  FROM dd a JOIN dd b ON a.m = b.m
), agg AS (
  SELECT m,
         cast(sum(CASE WHEN ga = 0 AND gb = 1 THEN abs(ya - yb)
                  ELSE 0 END) AS bigint) AS sxy,
         cast(sum(CASE WHEN ga = 0 AND gb = 0 THEN abs(ya - yb)
                  ELSE 0 END) AS bigint) AS sxx,
         cast(sum(CASE WHEN ga = 1 AND gb = 1 THEN abs(ya - yb)
                  ELSE 0 END) AS bigint) AS syy
  FROM pairs GROUP BY 1
), cnt AS (
  SELECT m, cast(sum(1 - g) AS bigint) AS nx,
         cast(sum(g) AS bigint) AS ny
  FROM dd GROUP BY 1
), e AS (
  SELECT agg.m, nx, ny,
         cast(sxy AS double)
         / (cast(nx AS double) * cast(ny AS double)) AS exy,
         cast(sxx AS double)
         / (cast(nx AS double) * cast(nx AS double)) AS exx,
         cast(syy AS double)
         / (cast(ny AS double) * cast(ny AS double)) AS eyy
  FROM agg JOIN cnt ON agg.m = cnt.m
  WHERE nx >= 4 AND ny >= 4
)
SELECT m AS metric, nx AS n_weekday, ny AS n_weekend,
       round((2.0 * exy - exx - eyy) / 100.0, 6) AS energy_dist,
       round(CASE WHEN exy > 0
             THEN (2.0 * exy - exx - eyy) / (2.0 * exy) END, 6)
         AS e_coef
FROM e
""",
        "pettitt_test": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT i.metric, i.day_ts AS di, j.day_ts AS dj, i.y AS yi, j.y AS yj
  FROM d i JOIN d j
    ON i.metric = j.metric AND i.day_ts <> j.day_ts
), delta AS (
  SELECT metric, di,
         cast(sum(CASE WHEN di < dj THEN sign(yj - yi) ELSE 0 END)
              - sum(CASE WHEN di > dj THEN sign(yi - yj) ELSE 0 END)
              AS bigint) AS du
  FROM pairs GROUP BY 1, 2
), u AS (
  SELECT metric, di,
         cast(sum(du) OVER (PARTITION BY metric ORDER BY di
                            ROWS UNBOUNDED PRECEDING) AS bigint) AS u_t
  FROM delta
), best AS (
  SELECT metric, abs(u_t) AS k, di,
         row_number() OVER (PARTITION BY metric
                            ORDER BY abs(u_t) DESC, di ASC) AS r
  FROM u
), nn AS (
  SELECT metric, count(*) AS n_days FROM d GROUP BY 1
)
SELECT b.metric, cast(n_days AS bigint) AS n_days,
       cast(k AS bigint) AS k_stat, di AS change_day,
       round(least(2.0 * exp(-6.0 * cast(k AS double) * cast(k AS double)
                             / (cast(n_days AS double)
                                * cast(n_days AS double)
                                * cast(n_days AS double)
                                + cast(n_days AS double)
                                  * cast(n_days AS double))), 1.0), 6)
         AS p_approx
FROM best b JOIN nn ON b.metric = nn.metric
WHERE r = 1 AND n_days >= 8
""",
        "welch_t": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), agg AS (
  SELECT m, cast(sum(1 - g) AS bigint) AS nx,
         cast(sum(g) AS bigint) AS ny,
         cast(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS bigint) AS sx,
         cast(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS bigint) AS sy,
         sum(CASE WHEN g = 0 THEN cast(y AS hugeint) * y
             ELSE 0 END) AS sxx,
         sum(CASE WHEN g = 1 THEN cast(y AS hugeint) * y
             ELSE 0 END) AS syy
  FROM dd GROUP BY 1 HAVING sum(1 - g) >= 4 AND sum(g) >= 4
), e AS (
  SELECT m, nx, ny,
         cast(sx AS double) AS sxd, cast(sy AS double) AS syd,
         cast(nx AS double) AS nxd, cast(ny AS double) AS nyd,
         (cast(sxx AS double)
          - cast(sx AS double) * cast(sx AS double)
            / cast(nx AS double)) / (cast(nx AS double) - 1.0) AS vx,
         (cast(syy AS double)
          - cast(sy AS double) * cast(sy AS double)
            / cast(ny AS double)) / (cast(ny AS double) - 1.0) AS vy
  FROM agg
), f AS (
  SELECT m, nx, ny, nxd, nyd, sxd, syd,
         vx / nxd AS a, vy / nyd AS b
  FROM e
)
SELECT m AS metric, nx AS n_weekday, ny AS n_weekend,
       round((syd / nyd - sxd / nxd) / 100.0, 6) AS mean_diff,
       round(CASE WHEN a + b > 0
             THEN (syd / nyd - sxd / nxd) / sqrt(a + b) END, 6)
         AS t_stat,
       round(CASE WHEN a > 0 OR b > 0
             THEN (a + b) * (a + b)
                  / (a * a / (nxd - 1.0) + b * b / (nyd - 1.0))
             END, 6) AS df
FROM f
""",
        "mann_whitney": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), u AS (
  SELECT x.m,
         cast(sum(2 * (CASE WHEN x.y < y.y THEN 1 ELSE 0 END)
                  + (CASE WHEN x.y = y.y THEN 1 ELSE 0 END))
              AS bigint) AS u2
  FROM (SELECT m, y FROM dd WHERE g = 0) x
  JOIN (SELECT m, y FROM dd WHERE g = 1) y ON x.m = y.m
  GROUP BY 1
), cnt AS (
  SELECT m, cast(sum(1 - g) AS bigint) AS nx,
         cast(sum(g) AS bigint) AS ny
  FROM dd GROUP BY 1
), ties AS (
  SELECT m, cast(sum(t * t * t - t) AS bigint) AS tie_term
  FROM (SELECT m, y, count(*) AS t FROM dd GROUP BY 1, 2)
  GROUP BY 1
), j AS (
  SELECT u.m, u2, nx, ny, tie_term,
         cast(nx AS double) AS nxd, cast(ny AS double) AS nyd,
         cast(nx + ny AS double) AS nnd
  FROM u JOIN cnt ON u.m = cnt.m JOIN ties ON u.m = ties.m
  WHERE nx >= 4 AND ny >= 4
), e AS (
  SELECT m, u2, nx, ny,
         nxd * nyd / 12.0
         * ((nnd + 1.0) - cast(tie_term AS double)
                          / (nnd * (nnd - 1.0))) AS var_u,
         nxd, nyd
  FROM j
)
SELECT m AS metric, nx AS n_weekday, ny AS n_weekend,
       u2 AS u2_stat,
       round(CASE WHEN var_u > 0
             THEN (cast(u2 AS double) / 2.0 - nxd * nyd / 2.0)
                  / sqrt(var_u) END, 6) AS z
FROM e
""",
        "wilcoxon_signed": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.m, a.y - b.y AS dv, abs(a.y - b.y) AS ad
  FROM d a JOIN d b
    ON a.m = b.m AND a.day_ts = b.day_ts + INTERVAL 7 DAY
  WHERE a.y <> b.y
), ranked AS (
  SELECT m, dv,
         2 * rank() OVER (PARTITION BY m ORDER BY ad)
         + count(*) OVER (PARTITION BY m, ad) - 1 AS r2
  FROM pairs
), agg AS (
  SELECT m, cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN dv > 0 THEN r2 ELSE 0 END) AS bigint) AS w2p
  FROM ranked GROUP BY 1 HAVING count(*) >= 6
), ties AS (
  SELECT m, cast(sum(t * t * t - t) AS bigint) AS tt
  FROM (SELECT m, ad, count(*) AS t FROM pairs GROUP BY 1, 2)
  GROUP BY 1
), e AS (
  SELECT agg.m, n, w2p, tt,
         2.0 * cast(n AS double) * (n + 1.0) * (2.0 * n + 1.0)
         - cast(tt AS double) AS var48
  FROM agg JOIN ties ON agg.m = ties.m
)
SELECT m AS metric, n AS n_pairs, w2p AS w2_plus, tt AS tie_sum,
       round(CASE WHEN var48 > 0
             THEN (2.0 * cast(w2p AS double)
                   - cast(n AS double) * (n + 1.0)) / 4.0
                  / sqrt(var48 / 48.0) END, 6) AS z
FROM e
""",
        "chi2_cells": """
WITH ev AS (
  SELECT event_type AS rv,
         cast(((epoch_us(date_trunc('day', ts)) // 86400000000) + 3)
              % 7 + 1 AS int) AS dw
  FROM events
), cells AS (
  SELECT rv, dw, cast(count(*) AS bigint) AS o FROM ev GROUP BY 1, 2
), rw AS (
  SELECT rv, cast(sum(o) AS bigint) AS r FROM cells GROUP BY 1
), cl AS (
  SELECT dw, cast(sum(o) AS bigint) AS c FROM cells GROUP BY 1
), tot AS (
  SELECT cast(sum(o) AS bigint) AS nn FROM cells
), full_g AS (
  SELECT rw.rv, cl.dw, rw.r, cl.c, tot.nn,
         cast(coalesce(cells.o, 0) AS bigint) AS o
  FROM rw CROSS JOIN cl
  LEFT JOIN cells ON cells.rv = rw.rv AND cells.dw = cl.dw
  CROSS JOIN tot
), terms AS (
  SELECT rv, dw, r, c, nn, o,
         cast(round(
           cast((cast(nn AS hugeint) * o - cast(r AS hugeint) * c)
                * (cast(nn AS hugeint) * o - cast(r AS hugeint) * c)
                AS double)
           / cast(cast(nn AS hugeint) * r * c AS double) * 1e6)
           AS bigint) AS t_u
  FROM full_g
), gl AS (
  SELECT cast(sum(t_u) AS bigint) AS chi2_u,
         count(DISTINCT rv) AS n_rows, count(DISTINCT dw) AS n_cols
  FROM terms
)
SELECT rv AS metric, dw AS dow_iso, o,
       round(cast(r AS double) * cast(c AS double)
             / cast(nn AS double), 6) AS e,
       round(CASE WHEN cast(r AS double) * cast(c AS double)
                       / cast(nn AS double)
                       * (1.0 - cast(r AS double) / cast(nn AS double))
                       * (1.0 - cast(c AS double) / cast(nn AS double))
                       > 0
             THEN (cast(o AS double)
                   - cast(r AS double) * cast(c AS double)
                     / cast(nn AS double))
                  / sqrt(cast(r AS double) * cast(c AS double)
                         / cast(nn AS double)
                         * (1.0 - cast(r AS double)
                                  / cast(nn AS double))
                         * (1.0 - cast(c AS double)
                                  / cast(nn AS double)))
             END, 6) AS std_resid,
       round(CASE WHEN least(n_rows - 1, n_cols - 1) > 0
             THEN sqrt(cast(chi2_u AS double) / 1e6
                       / cast(nn AS double)
                       / cast(least(n_rows - 1, n_cols - 1)
                              AS double))
             END, 6) AS cramers_v
FROM terms CROSS JOIN gl
""",
        "rate_ratio": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS bigint) AS c
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, c,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), g AS (
  SELECT m,
         cast(sum(1 - g) AS bigint) AS d0,
         cast(sum(g) AS bigint) AS d1,
         cast(sum(CASE WHEN g = 0 THEN c ELSE 0 END) AS bigint) AS c0,
         cast(sum(CASE WHEN g = 1 THEN c ELSE 0 END) AS bigint) AS c1
  FROM dd GROUP BY 1
  HAVING sum(1 - g) >= 4 AND sum(g) >= 4
), e AS (
  SELECT m, d0, d1, c0, c1,
         cast(d0 AS double) AS d0d, cast(d1 AS double) AS d1d,
         cast(c0 AS double) AS c0d, cast(c1 AS double) AS c1d
  FROM g
), f AS (
  SELECT m, d0, d1, c0, c1, c0d, c1d,
         (c1d / d1d) / (c0d / d0d) AS rr,
         d1d / (d0d + d1d) AS eh,
         c0d + c1d AS nn
  FROM e
)
SELECT m AS metric, d0 AS days_weekday, d1 AS days_weekend,
       c0 AS events_weekday, c1 AS events_weekend,
       round(CASE WHEN c0 > 0 THEN rr END, 6) AS rate_ratio,
       round(CASE WHEN nn * eh * (1.0 - eh) > 0
             THEN (c1d - nn * eh) / sqrt(nn * eh * (1.0 - eh))
             END, 6) AS z
FROM f
""",
        "dispersion_test": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(count(*) AS hugeint) AS c
  FROM events GROUP BY 1, 2
), g AS (
  SELECT m, cast(count(*) AS hugeint) AS n,
         sum(c) AS s, sum(c * c) AS q
  FROM d GROUP BY 1 HAVING count(*) >= 8
)
SELECT m AS metric, cast(n AS bigint) AS n_days,
       round(cast(s AS double) / cast(n AS double), 6) AS mean_count,
       round(CASE WHEN s > 0
             THEN cast(n * q - s * s AS double) / cast(s AS double)
                  / (cast(n AS double) - 1.0) END, 6)
         AS dispersion_index,
       round(CASE WHEN s > 0
             THEN cast(n * q - s * s AS double) / cast(s AS double)
             END, 6) AS chi2
FROM g
""",
        "seasonal_mk": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT metric, day_ts, y,
         cast(((epoch_us(day_ts) // 86400000000) + 3) % 7 AS int)
           AS w
  FROM d
), pr AS (
  SELECT a.metric, a.w,
         cast(sum(sign(b.y - a.y)) AS bigint) AS s_g
  FROM dd a JOIN dd b
    ON a.metric = b.metric AND a.w = b.w AND a.day_ts < b.day_ts
  GROUP BY 1, 2
), tg AS (
  SELECT metric, w, cast(sum(t) AS bigint) AS n_g,
         cast(sum(t * (t - 1) * (2 * t + 5)) AS bigint) AS tt_g
  FROM (SELECT metric, w, y, count(*) AS t
        FROM dd GROUP BY 1, 2, 3)
  GROUP BY 1, 2
), per_w AS (
  SELECT tg.metric, tg.w, tg.n_g,
         coalesce(pr.s_g, 0) AS s_g,
         tg.n_g * (tg.n_g - 1) * (2 * tg.n_g + 5) - tg.tt_g AS v_g
  FROM tg LEFT JOIN pr ON tg.metric = pr.metric AND tg.w = pr.w
), g AS (
  SELECT metric, cast(sum(n_g) AS bigint) AS n_days,
         cast(count(*) AS bigint) AS n_strata,
         cast(sum(s_g) AS bigint) AS s_stat,
         cast(sum(v_g) AS bigint) AS var_num
  FROM per_w GROUP BY 1 HAVING sum(n_g) >= 21
)
SELECT metric, n_days, n_strata, s_stat,
       round(CASE WHEN var_num <= 0 THEN NULL
             WHEN s_stat > 0
               THEN cast(s_stat - 1 AS double)
                    / sqrt(cast(var_num AS double) / 18.0)
             WHEN s_stat < 0
               THEN cast(s_stat + 1 AS double)
                    / sqrt(cast(var_num AS double) / 18.0)
             ELSE 0.0 END, 6) AS z
FROM g
""",
        "effect_sizes": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), mo AS (
  SELECT m,
         cast(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS bigint)
           AS n0,
         cast(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS bigint)
           AS n1,
         sum(CASE WHEN g = 0 THEN cast(y AS hugeint) END) AS s0,
         sum(CASE WHEN g = 1 THEN cast(y AS hugeint) END) AS s1,
         sum(CASE WHEN g = 0 THEN cast(y AS hugeint) * y END) AS q0,
         sum(CASE WHEN g = 1 THEN cast(y AS hugeint) * y END) AS q1
  FROM dd GROUP BY 1
  HAVING sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) >= 4
     AND sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) >= 4
), pc AS (
  SELECT a.m,
         cast(sum(CASE WHEN b.yb > a.ya THEN 1 ELSE 0 END)
              AS bigint) AS wins,
         cast(sum(CASE WHEN b.yb < a.ya THEN 1 ELSE 0 END)
              AS bigint) AS losses
  FROM (SELECT m, y AS ya FROM dd WHERE g = 0) a
  JOIN (SELECT m, y AS yb FROM dd WHERE g = 1) b ON a.m = b.m
  GROUP BY 1
), j AS (
  SELECT mo.m, n0, n1, wins, losses,
         cast(n0 AS double) AS n0d, cast(n1 AS double) AS n1d,
         cast(s0 AS double) AS s0d, cast(s1 AS double) AS s1d,
         cast(cast(n1 AS hugeint)
              * (cast(n0 AS hugeint) * q0 - s0 * s0)
              + cast(n0 AS hugeint)
                * (cast(n1 AS hugeint) * q1 - s1 * s1)
              AS double) AS sp_num
  FROM mo JOIN pc ON mo.m = pc.m
), e AS (
  SELECT m, n0, n1, wins, losses, n0d, n1d, sp_num,
         (s1d / n1d - s0d / n0d)
         / sqrt(sp_num / (n0d * n1d * (n0d + n1d - 2.0))) AS dd_
  FROM j
)
SELECT m AS metric, n0 AS n_weekday, n1 AS n_weekend,
       round(CASE WHEN sp_num > 0 THEN dd_ END, 6) AS cohens_d,
       round(CASE WHEN sp_num > 0
             THEN (1.0 - 3.0 / (4.0 * (n0d + n1d) - 9.0)) * dd_
             END, 6) AS hedges_g,
       round(cast(wins - losses AS double) / (n0d * n1d), 6)
         AS cliffs_delta
FROM e
""",
        "durbin_watson": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT metric, day_ts, cast(y AS hugeint) AS y,
         cast(row_number() OVER (PARTITION BY metric ORDER BY day_ts)
              - 1 AS hugeint) AS t
  FROM d
), agg AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(t) AS st, sum(y) AS sy,
         sum(t * t) AS stt, sum(t * y) AS sty
  FROM dd GROUP BY 1 HAVING count(*) >= 8
), j AS (
  SELECT dd.metric, dd.day_ts, agg.n,
         agg.n * (agg.n * agg.stt - agg.st * agg.st) * dd.y
         - (agg.n * agg.stt - agg.st * agg.st) * agg.sy
         + (agg.n * agg.sty - agg.st * agg.sy) * agg.st
         - agg.n * (agg.n * agg.sty - agg.st * agg.sy) * dd.t AS e
  FROM dd JOIN agg ON dd.metric = agg.metric
), r AS (
  SELECT metric, n, e,
         e - lag(e) OVER (PARTITION BY metric ORDER BY day_ts) AS de
  FROM j
), g AS (
  SELECT metric, max(n) AS n,
         sum(e * e) AS see, sum(de * de) AS sdd
  FROM r GROUP BY 1
)
SELECT metric, cast(n AS bigint) AS n_days,
       round(CASE WHEN see > 0
             THEN cast(sdd AS double) / cast(see AS double) END, 6)
         AS dw,
       round(CASE WHEN see > 0
             THEN 1.0 - cast(sdd AS double) / cast(see AS double)
                  / 2.0 END, 6) AS rho_lag1
FROM g
""",
        "jarque_bera": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT metric,
         y - lag(y) OVER (PARTITION BY metric ORDER BY day_ts) AS v
  FROM d
), vv AS (
  SELECT metric, cast(v AS hugeint) AS x FROM dd WHERE v IS NOT NULL
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(x) AS s1, sum(x * x) AS s2, sum(x * x * x) AS s3,
         sum(x * x * x * x) AS s4
  FROM vv GROUP BY 1 HAVING count(*) >= 6
), e AS (
  SELECT metric, n,
         cast(n * s2 - s1 * s1 AS double) AS b,
         cast(n * n * s3 - 3 * n * s1 * s2
              + 2 * s1 * s1 * s1 AS double) AS a,
         cast(n * n * n * s4 - 4 * n * n * s1 * s3
              + 6 * n * s1 * s1 * s2
              - 3 * s1 * s1 * s1 * s1 AS double) AS c
  FROM g
), f AS (
  SELECT metric, n, b,
         a / (b * sqrt(b)) AS g1,
         c / (b * b) - 3.0 AS g2
  FROM e
)
SELECT metric, cast(n AS bigint) AS n_deltas,
       round(CASE WHEN b > 0 THEN g1 END, 6) AS skew_g1,
       round(CASE WHEN b > 0 THEN g2 END, 6) AS kurt_excess,
       round(CASE WHEN b > 0
             THEN cast(n AS double) / 6.0
                  * (g1 * g1 + g2 * g2 / 4.0) END, 6) AS jb,
       round(CASE WHEN b > 0
             THEN exp(-(cast(n AS double) / 6.0
                        * (g1 * g1 + g2 * g2 / 4.0)) / 2.0) END, 6)
         AS p_value
FROM f
""",
        "brown_forsythe": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), med AS (
  SELECT m, g, y AS med FROM (
    SELECT m, g, y,
           row_number() OVER (PARTITION BY m, g ORDER BY y) AS rn,
           count(*) OVER (PARTITION BY m, g) AS ng
    FROM dd)
  WHERE rn = (ng + 1) // 2
), z AS (
  SELECT dd.m, dd.g, cast(abs(dd.y - med.med) AS hugeint) AS z,
         med.med
  FROM dd JOIN med ON dd.m = med.m AND dd.g = med.g
), per_g AS (
  SELECT m, g, cast(count(*) AS hugeint) AS ng,
         sum(z) AS s, sum(z * z) AS q, min(med) AS med
  FROM z GROUP BY 1, 2
), per_m AS (
  SELECT m,
         sum(CASE WHEN g = 0 THEN ng END) AS n0,
         sum(CASE WHEN g = 1 THEN ng END) AS n1,
         max(CASE WHEN g = 0 THEN med END) AS med0,
         max(CASE WHEN g = 1 THEN med END) AS med1,
         sum(CASE WHEN g = 0 THEN s END) AS s0,
         sum(CASE WHEN g = 1 THEN s END) AS s1,
         sum(q) AS q_tot, count(*) AS k
  FROM per_g GROUP BY 1
  HAVING count(*) = 2
     AND sum(CASE WHEN g = 0 THEN ng END) >= 4
     AND sum(CASE WHEN g = 1 THEN ng END) >= 4
), e AS (
  SELECT m, n0, n1, med0, med1,
         (n0 + n1) * (n1 * s0 * s0 + n0 * s1 * s1)
         - n0 * n1 * (s0 + s1) * (s0 + s1) AS bnum,
         (n0 + n1)
         * (n0 * n1 * q_tot - n1 * s0 * s0 - n0 * s1 * s1) AS wnum
  FROM per_m
)
SELECT m AS metric, cast(n0 AS bigint) AS n_weekday,
       cast(n1 AS bigint) AS n_weekend,
       round(cast(med0 AS double) / 100.0, 6) AS med_weekday,
       round(cast(med1 AS double) / 100.0, 6) AS med_weekend,
       round(CASE WHEN wnum > 0
             THEN cast(n0 + n1 - 2 AS double) * cast(bnum AS double)
                  / cast(wnum AS double) END, 6) AS f_stat
FROM e
""",
        "cohort_ltv": """
WITH uw AS (
  SELECT user_id AS u, date_trunc('week', ts) AS w,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS c
  FROM events GROUP BY 1, 2
), first AS (
  SELECT u, min(w) AS cw FROM uw GROUP BY 1
), sizes AS (
  SELECT cw, count(*) AS cohort_size FROM first GROUP BY 1
), j AS (
  SELECT f.cw AS cohort_week,
         cast((epoch_us(uw.w) - epoch_us(f.cw)) / 604800000000
              AS bigint) AS age_week,
         uw.c
  FROM uw JOIN first f ON uw.u = f.u
), per AS (
  SELECT cohort_week, age_week, count(*) AS active_users,
         cast(sum(c) AS bigint) AS cents
  FROM j GROUP BY 1, 2
), cum AS (
  SELECT per.cohort_week, age_week, active_users, cents,
         sizes.cohort_size,
         cast(sum(cents) OVER (PARTITION BY per.cohort_week
                               ORDER BY age_week
                               ROWS UNBOUNDED PRECEDING) AS bigint)
           AS cum_cents
  FROM per JOIN sizes ON per.cohort_week = sizes.cw
)
SELECT cohort_week, age_week,
       cast(active_users AS bigint) AS active_users,
       cast(cohort_size AS bigint) AS cohort_size,
       round(cast(cents AS double)
             / cast(cohort_size AS double) / 100.0, 6)
         AS week_value_per_user,
       round(cast(cum_cents AS double)
             / cast(cohort_size AS double) / 100.0, 6)
         AS cum_value_per_user
FROM cum
""",
        "we_rules": """
WITH day AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         count(*) AS c
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(day_ts) AS d0, max(day_ts) AS d1,
         cast(sum(c) AS bigint) AS tot_c
  FROM day GROUP BY 1
), grid AS (
  SELECT metric, tot_c,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day_ts
  FROM span
), fg AS (
  SELECT g.metric, g.day_ts, g.tot_c, coalesce(day.c, 0) AS c
  FROM grid g LEFT JOIN day
    ON g.metric = day.metric AND g.day_ts = day.day_ts
), nd AS (
  SELECT metric, count(*) AS n_days FROM fg GROUP BY 1
), e AS (
  SELECT f.metric, day_ts, cast(c AS bigint) AS c,
         cast(tot_c AS double) / cast(n_days AS double) AS c_bar,
         sqrt(cast(tot_c AS double) / cast(n_days AS double)) AS sig
  FROM fg f JOIN nd ON f.metric = nd.metric
), t AS (
  SELECT metric, day_ts, c,
         CASE WHEN cast(c AS double) > c_bar THEN 1
              WHEN cast(c AS double) < c_bar THEN -1 ELSE 0 END AS side,
         CASE WHEN cast(c AS double) > c_bar + 3.0 * sig
                OR cast(c AS double)
                   < greatest(0.0, c_bar - 3.0 * sig)
              THEN 1 ELSE 0 END AS r1,
         CASE WHEN cast(c AS double) - c_bar > 2.0 * sig
              THEN 1 ELSE 0 END AS b2p,
         CASE WHEN c_bar - cast(c AS double) > 2.0 * sig
              THEN 1 ELSE 0 END AS b2n
  FROM e
), w AS (
  SELECT metric, day_ts, c, side, r1,
         sum(b2p) OVER (PARTITION BY metric ORDER BY day_ts
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS s2p,
         sum(b2n) OVER (PARTITION BY metric ORDER BY day_ts
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           AS s2n,
         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY metric ORDER BY day_ts
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sp,
         sum(CASE WHEN side = -1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY metric ORDER BY day_ts
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS sn
  FROM t
)
SELECT metric, day_ts, c, cast(side AS int) AS side,
       cast(r1 AS int) AS rule1,
       cast(CASE WHEN s2p >= 2 OR s2n >= 2 THEN 1 ELSE 0 END AS int)
         AS rule2,
       cast(CASE WHEN sp >= 8 OR sn >= 8 THEN 1 ELSE 0 END AS int)
         AS rule4,
       cast(CASE WHEN r1 + (CASE WHEN s2p >= 2 OR s2n >= 2
                            THEN 1 ELSE 0 END)
                    + (CASE WHEN sp >= 8 OR sn >= 8 THEN 1 ELSE 0 END)
                  > 0 THEN 1 ELSE 0 END AS int) AS any_signal
FROM w
""",
        "char_entropy": """
WITH t AS (
  SELECT doc_id, lower(text) AS lt FROM documents
  WHERE length(text) > 0
), chars AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, length(lt)),
                i -> substring(lt, i, 1))) AS ch
  FROM t
), per AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
), agg AS (
  SELECT doc_id, cast(sum(c) AS bigint) AS n, count(*) AS k,
         cast(sum(cast(round(cast(c AS double) * log2(cast(c AS double))
                             * 1000000.0) AS bigint)) AS bigint)
           AS clg_u
  FROM per GROUP BY 1
)
SELECT doc_id, n AS n_chars, cast(k AS bigint) AS n_distinct,
       round(log2(cast(n AS double))
             - (cast(clg_u AS double) / 1000000.0)
               / cast(n AS double), 6) AS char_entropy,
       round(CASE WHEN k > 1
             THEN (log2(cast(n AS double))
                   - (cast(clg_u AS double) / 1000000.0)
                     / cast(n AS double)) / log2(cast(k AS double))
             END, 6) AS entropy_norm
FROM agg
""",
        "tail_dependence": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pd AS (
  SELECT a.m AS metric_a, b.m AS metric_b, a.day_ts,
         a.y AS ya, b.y AS yb
  FROM d a JOIN d b ON a.day_ts = b.day_ts AND a.m < b.m
), r AS (
  SELECT metric_a, metric_b, day_ts,
         row_number() OVER (PARTITION BY metric_a, metric_b
                            ORDER BY ya, day_ts) AS ra,
         row_number() OVER (PARTITION BY metric_a, metric_b
                            ORDER BY yb, day_ts) AS rb,
         count(*) OVER (PARTITION BY metric_a, metric_b) AS n
  FROM pd
), f AS (
  SELECT metric_a, metric_b, n,
         cast(ceil(cast(n AS double) * 1 / 10) AS bigint) AS k,
         CASE WHEN ra > n - cast(ceil(cast(n AS double) * 1 / 10)
                                 AS bigint) THEN 1 ELSE 0 END AS ta,
         CASE WHEN rb > n - cast(ceil(cast(n AS double) * 1 / 10)
                                 AS bigint) THEN 1 ELSE 0 END AS tb
  FROM r
), agg AS (
  SELECT metric_a, metric_b, n, k,
         cast(sum(ta * tb) AS bigint) AS bt
  FROM f GROUP BY 1, 2, 3, 4 HAVING n >= 10
)
SELECT metric_a, metric_b, cast(n AS bigint) AS n_days,
       k AS k_top, bt AS both_top,
       round(cast(bt AS double) / cast(k AS double), 6) AS lambda_u
FROM agg
""",
        "coburst_jaccard": """
WITH h AS (
  SELECT event_type AS m, date_trunc('hour', ts) AS hh,
         count(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT m, cast(sum(c) AS bigint) AS t, count(*) AS hcnt
  FROM h GROUP BY 1 HAVING count(*) >= 24
), bursts AS (
  SELECT h.m, h.hh
  FROM h JOIN tot ON h.m = tot.m
  WHERE h.c * tot.hcnt > 2 * tot.t
), sizes AS (
  SELECT m, count(*) AS nb FROM bursts GROUP BY 1
), inter AS (
  SELECT a.m AS metric_a, b.m AS metric_b, count(*) AS both
  FROM bursts a JOIN bursts b ON a.hh = b.hh AND a.m < b.m
  GROUP BY 1, 2
)
SELECT sa.m AS metric_a, sb.m AS metric_b,
       cast(sa.nb AS bigint) AS bursts_a,
       cast(sb.nb AS bigint) AS bursts_b,
       cast(coalesce(inter.both, 0) AS bigint) AS both,
       round(CASE WHEN sa.nb + sb.nb - coalesce(inter.both, 0) > 0
             THEN cast(coalesce(inter.both, 0) AS double)
                  / cast(sa.nb + sb.nb - coalesce(inter.both, 0)
                         AS double)
             ELSE 0.0 END, 6) AS jaccard
FROM sizes sa JOIN sizes sb ON sa.m < sb.m
LEFT JOIN inter ON inter.metric_a = sa.m AND inter.metric_b = sb.m
""",
        "hod_quantile_bands": """
WITH g AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS h,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, extract(hour FROM h) AS hod,
         date_trunc('day', h) AS d, y
  FROM g
), r AS (
  SELECT metric, hod, y,
         row_number() OVER (PARTITION BY metric, hod
                            ORDER BY y, d) AS rn,
         count(*) OVER (PARTITION BY metric, hod) AS n
  FROM t
), agg AS (
  SELECT metric, hod, n,
         max(CASE WHEN rn = cast(ceil(n * 1 / 10) AS bigint)
             THEN y END) AS c10,
         max(CASE WHEN rn = cast(ceil(n * 5 / 10) AS bigint)
             THEN y END) AS c50,
         max(CASE WHEN rn = cast(ceil(n * 9 / 10) AS bigint)
             THEN y END) AS c90
  FROM r GROUP BY 1, 2, 3 HAVING n >= 5
)
SELECT metric, cast(hod AS int) AS hod, cast(n AS bigint) AS n_days,
       round(cast(c10 AS double) / 100.0, 6) AS p10,
       round(cast(c50 AS double) / 100.0, 6) AS p50,
       round(cast(c90 AS double) / 100.0, 6) AS p90
FROM agg
""",
        "permutation_entropy": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts, y AS a,
         lead(y, 1) OVER w AS b, lead(y, 2) OVER w AS c
  FROM h
  WINDOW w AS (PARTITION BY metric, date_trunc('day', hour_ts)
               ORDER BY hour_ts)
), p AS (
  SELECT metric, day_ts,
         (CASE WHEN a > b THEN 4 ELSE 0 END
          + CASE WHEN b > c THEN 2 ELSE 0 END
          + CASE WHEN a > c THEN 1 ELSE 0 END) AS pat
  FROM t WHERE c IS NOT NULL
), pc AS (
  SELECT metric, day_ts, pat, count(*) AS cnt FROM p GROUP BY 1, 2, 3
), g AS (
  SELECT metric, day_ts, sum(cnt) AS n_pat, count(*) AS n_distinct,
         sum(cast(cnt AS double) * ln(cast(cnt AS double))) AS slc
  FROM pc GROUP BY 1, 2
)
SELECT metric, day_ts, cast(n_pat AS bigint) AS n_pat,
       cast(n_distinct AS bigint) AS n_distinct,
       round(ln(cast(n_pat AS double))
             - slc / cast(n_pat AS double), 6) AS pe,
       round((ln(cast(n_pat AS double))
              - slc / cast(n_pat AS double)) / ln(6.0), 6) AS pe_norm
FROM g WHERE n_pat >= 6
""",
        "sample_entropy": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         row_number() OVER w AS i, y AS v0,
         lead(y, 1) OVER w AS v1, lead(y, 2) OVER w AS v2
  FROM h
  WINDOW w AS (PARTITION BY metric, date_trunc('day', hour_ts)
               ORDER BY hour_ts)
), np AS (
  SELECT metric, day_ts, count(*) AS n_hours
  FROM t GROUP BY 1, 2 HAVING count(*) >= 8
), g AS (
  SELECT a.metric, a.day_ts,
         sum(CASE WHEN abs(a.v0 - b.v0) <= 500
                  AND abs(a.v1 - b.v1) <= 500
             THEN 1 ELSE 0 END) AS b_m,
         sum(CASE WHEN abs(a.v0 - b.v0) <= 500
                  AND abs(a.v1 - b.v1) <= 500
                  AND abs(a.v2 - b.v2) <= 500
             THEN 1 ELSE 0 END) AS a_m1
  FROM t a JOIN t b
    ON a.metric = b.metric AND a.day_ts = b.day_ts AND a.i < b.i
   AND a.v2 IS NOT NULL AND b.v2 IS NOT NULL
  GROUP BY 1, 2
)
SELECT g.metric, g.day_ts, cast(np.n_hours AS bigint) AS n_hours,
       cast(g.b_m AS bigint) AS b_m, cast(g.a_m1 AS bigint) AS a_m1,
       CASE WHEN g.a_m1 > 0 AND g.b_m > 0
            THEN round(-ln(cast(g.a_m1 AS double)
                           / cast(g.b_m AS double)), 6)
       END AS sampen
FROM g JOIN np ON g.metric = np.metric AND g.day_ts = np.day_ts
""",
        "hjorth_params": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts, y,
         y - lag(y, 1) OVER w AS d1,
         y - 2 * lag(y, 1) OVER w + lag(y, 2) OVER w AS d2
  FROM h
  WINDOW w AS (PARTITION BY metric, date_trunc('day', hour_ts)
               ORDER BY hour_ts)
), g AS (
  SELECT metric, day_ts,
         count(*) AS n0, sum(cast(y AS hugeint)) AS s0,
         sum(cast(y AS hugeint) * cast(y AS hugeint)) AS q0,
         count(d1) AS n1, sum(cast(d1 AS hugeint)) AS s1,
         sum(cast(d1 AS hugeint) * cast(d1 AS hugeint)) AS q1,
         count(d2) AS n2, sum(cast(d2 AS hugeint)) AS s2,
         sum(cast(d2 AS hugeint) * cast(d2 AS hugeint)) AS q2
  FROM t GROUP BY 1, 2 HAVING count(*) >= 8
)
SELECT metric, day_ts, cast(n0 AS bigint) AS n_hours,
       round((cast(n0 AS double) * cast(q0 AS double)
              - cast(s0 AS double) * cast(s0 AS double))
             / (cast(n0 AS double) * cast(n0 AS double))
             / 10000.0, 6) AS activity,
       CASE WHEN n0 * q0 - s0 * s0 > 0 THEN
       round(sqrt(((cast(n1 AS double) * cast(q1 AS double)
                    - cast(s1 AS double) * cast(s1 AS double))
                   / (cast(n1 AS double) * cast(n1 AS double)))
                  / ((cast(n0 AS double) * cast(q0 AS double)
                      - cast(s0 AS double) * cast(s0 AS double))
                     / (cast(n0 AS double) * cast(n0 AS double)))),
             6) END AS mobility,
       CASE WHEN n0 * q0 - s0 * s0 > 0 AND n1 * q1 - s1 * s1 > 0 THEN
       round(sqrt(((cast(n2 AS double) * cast(q2 AS double)
                    - cast(s2 AS double) * cast(s2 AS double))
                   / (cast(n2 AS double) * cast(n2 AS double)))
                  / ((cast(n1 AS double) * cast(q1 AS double)
                      - cast(s1 AS double) * cast(s1 AS double))
                     / (cast(n1 AS double) * cast(n1 AS double))))
             / sqrt(((cast(n1 AS double) * cast(q1 AS double)
                      - cast(s1 AS double) * cast(s1 AS double))
                     / (cast(n1 AS double) * cast(n1 AS double)))
                    / ((cast(n0 AS double) * cast(q0 AS double)
                        - cast(s0 AS double) * cast(s0 AS double))
                       / (cast(n0 AS double) * cast(n0 AS double)))),
             6) END AS complexity
FROM g
""",
        "complexity_stats": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts, y AS a,
         lead(y, 1) OVER w AS b, lead(y, 2) OVER w AS c
  FROM h
  WINDOW w AS (PARTITION BY metric, date_trunc('day', hour_ts)
               ORDER BY hour_ts)
), g AS (
  SELECT metric, day_ts, count(*) AS n_hours,
         sum(cast(a AS hugeint)) AS s,
         sum(cast(a AS hugeint) * cast(a AS hugeint)) AS q,
         sum(cast(b - a AS hugeint) * cast(b - a AS hugeint)) AS dq,
         count(c) AS n3,
         sum(cast(a AS hugeint) * cast(b AS hugeint)
             * cast(c AS hugeint)) AS p3,
         sum(cast(b AS hugeint) * cast(b AS hugeint)
             * cast(a AS hugeint)
             - cast(a AS hugeint) * cast(a AS hugeint)
             * cast(b AS hugeint)) AS tr
  FROM t GROUP BY 1, 2 HAVING count(*) >= 8
)
SELECT metric, day_ts, cast(n_hours AS bigint) AS n_hours,
       round(sqrt(cast(dq AS double)) / 100.0, 6) AS cid_ce,
       CASE WHEN n_hours * q - s * s > 0 THEN
       round(sqrt(cast(dq AS double))
             / sqrt((cast(n_hours AS double) * cast(q AS double)
                     - cast(s AS double) * cast(s AS double))
                    / (cast(n_hours AS double)
                       * cast(n_hours AS double)))
             / sqrt(cast(n_hours AS double) - 1.0), 6) END AS cid_norm,
       round(cast(p3 AS double) / cast(n3 AS double)
             / 1000000.0, 6) AS c3,
       round(cast(tr AS double) / (cast(n_hours AS double) - 1.0)
             / 1000000.0, 6) AS trev
FROM g
""",
        "code_likeness": """
WITH c AS (
  SELECT doc_id,
         cast(length(text) AS bigint) AS n_chars,
         cast((length(text) - length(replace(text, ';', '')))
              / 1 AS bigint) AS c_semi,
         cast((length(text) - length(replace(text, '{', '')))
              / 1 AS bigint) AS c_lb,
         cast((length(text) - length(replace(text, '}', '')))
              / 1 AS bigint) AS c_rb,
         cast((length(text) - length(replace(text, '=', '')))
              / 1 AS bigint) AS c_eq,
         cast((length(text) - length(replace(text, '(', '')))
              / 1 AS bigint) AS c_lp,
         cast((length(text) - length(replace(text, chr(10), '')))
              / 1 AS bigint) AS c_nl,
         cast((length(text)
               - length(replace(text, chr(10) || '    ', '')))
              / 5 AS bigint) AS c_i4,
         cast((length(text)
               - length(replace(text, chr(10) || chr(9), '')))
              / 2 AS bigint) AS c_it
  FROM documents
)
SELECT doc_id, n_chars,
       c_nl + 1 AS n_lines,
       3 * c_semi + 3 * (c_lb + c_rb) + 2 * c_eq + c_lp AS n_symbols,
       c_i4 + c_it AS n_indents,
       round(1000.0 * cast(3 * c_semi + 3 * (c_lb + c_rb) + 2 * c_eq + c_lp
                           + 4 * (c_i4 + c_it) AS double)
             / cast(n_chars + 1 AS double), 6) AS code_score,
       1000 * (3 * c_semi + 3 * (c_lb + c_rb) + 2 * c_eq + c_lp
               + 4 * (c_i4 + c_it)) > 15 * (n_chars + 1) AS is_code
FROM c
""",
        "emb_mmd": """
WITH x AS (
  SELECT label AS lbl, vec_id AS rid,
         generate_subscripts(embedding, 1) AS dim,
         cast(round(unnest(embedding)::DOUBLE * 1000000) AS bigint)
           AS xu
  FROM embeddings
), mom AS (
  SELECT a.lbl, a.dim AS i, b.dim AS j,
         cast(count(*) AS hugeint) AS n,
         sum(cast(a.xu AS hugeint) * b.xu) AS s
  FROM x a JOIN x b ON a.rid = b.rid AND a.dim <= b.dim
  GROUP BY 1, 2, 3
), p AS (
  SELECT l.lbl AS label_a, r.lbl AS label_b,
         l.n AS na, r.n AS nb,
         cast(round(cast(l.s * r.n - r.s * l.n AS double)
                    / cast(l.n * r.n AS double) / 1e3) AS hugeint) AS d,
         CASE WHEN l.i = l.j THEN 1 ELSE 2 END AS w
  FROM mom l JOIN mom r ON l.i = r.i AND l.j = r.j AND l.lbl < r.lbl
)
SELECT label_a, label_b,
       cast(max(na) AS bigint) AS n_a,
       cast(max(nb) AS bigint) AS n_b,
       round(cast(sum(d * d * w) AS double) / 1e18, 6) AS mmd2
FROM p GROUP BY 1, 2
""",
        "emb_mahalanobis": """
WITH x AS (
  SELECT vec_id AS vid, label AS lbl,
         generate_subscripts(embedding, 1) AS dim,
         cast(round(unnest(embedding)::DOUBLE * 1000000) AS bigint)
           AS xu
  FROM embeddings
), st AS (
  SELECT lbl, dim, cast(count(*) AS hugeint) AS n,
         sum(cast(xu AS hugeint)) AS s,
         sum(cast(xu AS hugeint) * xu) AS q
  FROM x GROUP BY 1, 2
), t AS (
  SELECT vid, x.lbl,
         CASE WHEN cast(n * q - s * s AS double) > 0 THEN
           cast(round(1e6 * cast(n * xu - s AS double)
                      * cast(n * xu - s AS double)
                      / cast(n * q - s * s AS double)) AS bigint)
         END AS tu
  FROM x JOIN st ON x.lbl = st.lbl AND x.dim = st.dim
)
SELECT vid AS vec_id, lbl AS label,
       cast(count(tu) AS bigint) AS d_eff,
       round(cast(sum(tu) AS double) / 1e6, 6) AS md2,
       sum(tu) > 93217000 AS is_outlier
FROM t GROUP BY 1, 2
""",
        "boilerplate_ngrams": """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
  FROM documents
), shi AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok
), b AS (
  SELECT shingle FROM (
    SELECT shingle, count(distinct doc_id) AS nd FROM shi GROUP BY 1
  ) WHERE nd >= 3
)
SELECT s.doc_id,
       cast(count(*) AS bigint) AS n_shingles,
       cast(count(b.shingle) AS bigint) AS n_boiler,
       round(cast(count(b.shingle) AS double) / count(*), 6)
         AS boiler_ratio
FROM shi s LEFT JOIN b ON s.shingle = b.shingle
GROUP BY 1
""",
        "erlang_staffing": """
WITH RECURSIVE h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), hod AS (
  SELECT metric,
         cast((h_us % 86400000000) // 3600000000 AS int) AS hod,
         cast(count(*) AS bigint) AS n_hours,
         cast(sum(y) AS bigint) AS t_ev
  FROM g GROUP BY 1, 2
), base AS (
  SELECT metric, hod, n_hours,
         cast(t_ev AS double) / cast(n_hours AS double) AS lam,
         cast(t_ev AS double) / cast(n_hours AS double) AS a
  FROM hod
), rec AS (
  SELECT metric, hod, a, cast(0 AS bigint) AS n, cast(1.0 AS double) AS b
  FROM base
  UNION ALL
  SELECT metric, hod, a, n + 1, a * b / ((n + 1) + a * b)
  FROM rec WHERE n < 64
), cand AS (
  SELECT metric, hod, n, n * b / (n - a * (1.0 - b)) AS c
  FROM rec WHERE n >= 1 AND n > a
), pick AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY metric, hod ORDER BY n) AS rn
    FROM cand WHERE c <= cast(0.2 AS double)
  ) WHERE rn = 1
)
SELECT b.metric AS metric, b.hod AS hod, b.n_hours AS n_hours,
       round(b.lam, 6) AS lam,
       cast(p.n AS int) AS n_req, round(p.c, 6) AS p_wait
FROM base b LEFT JOIN pick p
  ON p.metric = b.metric AND p.hod = b.hod
""",
        "dfa_fluctuation": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), prof AS (
  SELECT metric, t, n, n * cy - (t + 1) * s AS p FROM (
    SELECT metric,
           cast((h_us - min(h_us) OVER (PARTITION BY metric))
                / 3600000000 AS bigint) AS t,
           cast(count(*) OVER (PARTITION BY metric) AS bigint) AS n,
           cast(sum(y) OVER (PARTITION BY metric) AS bigint) AS s,
           cast(sum(y) OVER (PARTITION BY metric ORDER BY h_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS bigint) AS cy
    FROM g)
), lv AS (
  SELECT metric, t, n, p, unnest([8, 16, 32, 64]) AS scale_h FROM prof
), blocks AS (
  SELECT metric, n, scale_h, t // scale_h AS b,
         count(*) AS cnt,
         sum(cast(p AS hugeint)) AS sp,
         sum(cast(t % scale_h AS hugeint) * cast(p AS hugeint)) AS sxp,
         sum(cast(p AS hugeint) * cast(p AS hugeint)) AS spp
  FROM lv GROUP BY 1, 2, 3, 4
), ps AS (
  SELECT metric, n, scale_h, count(*) AS n_blocks,
         sum((cast(scale_h AS hugeint) * spp - sp * sp)
             * cast(scale_h * scale_h
                    * (scale_h * scale_h - 1) / 12 AS hugeint)
             - (cast(scale_h AS hugeint) * sxp
                - cast(scale_h * (scale_h - 1) / 2 AS hugeint) * sp)
               * (cast(scale_h AS hugeint) * sxp
                  - cast(scale_h * (scale_h - 1) / 2 AS hugeint) * sp))
           AS ssen,
         max(cast(scale_h * scale_h
                  * (scale_h * scale_h - 1) / 12 AS hugeint)) AS bd
  FROM blocks WHERE cnt = scale_h GROUP BY 1, 2, 3
  HAVING count(*) >= 4
)
SELECT metric, cast(scale_h AS int) AS scale_h,
       cast(n_blocks AS bigint) AS n_blocks,
       round(sqrt(greatest(
               cast(ssen AS double)
               / (cast(n_blocks AS double) * cast(scale_h AS double)
                  * cast(scale_h AS double) * cast(bd AS double)),
               0.0)) / cast(n AS double), 6) AS fluct
FROM ps
""",
        "cross_coherence": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), dy AS (
  SELECT metric,
         make_timestamp((h_us // 86400000000) * 86400000000) AS day_ts,
         cast((h_us % 86400000000) // 3600000000 AS int) AS t, y
  FROM g
), fd AS (
  SELECT metric, day_ts, t, y, s_day FROM (
    SELECT *, count(*) OVER (PARTITION BY metric, day_ts) AS nh,
           cast(sum(y) OVER (PARTITION BY metric, day_ts) AS bigint)
             AS s_day
    FROM dy
  ) WHERE nh = 24
), ex AS (
  SELECT metric, day_ts, t, y, s_day,
         unnest([6, 8, 12, 24]) AS period_h
  FROM fd
), fl AS (
  SELECT *,
         6.283185307179586 * cast(t % period_h AS double)
           / cast(period_h AS double) AS theta,
         cast(24 * y - s_day AS double) AS a
  FROM ex
), spec AS (
  SELECT metric, day_ts, period_h,
         cast(sum(cast(round(a * cos(theta) / 24.0 * 1e4)
                       AS bigint)) AS bigint) AS cr,
         cast(sum(cast(round(a * (-sin(theta)) / 24.0 * 1e4)
                       AS bigint)) AS bigint) AS ci
  FROM fl GROUP BY 1, 2, 3
), pairs AS (
  SELECT a.metric AS metric_a, b.metric AS metric_b,
         a.period_h AS period_h,
         a.cr AS ar, a.ci AS ai, b.cr AS br, b.ci AS bi
  FROM spec a JOIN spec b
    ON a.day_ts = b.day_ts AND a.period_h = b.period_h
   AND a.metric < b.metric
), agg AS (
  SELECT metric_a, metric_b, period_h, count(*) AS n_days,
         sum(ar * br + ai * bi) AS xre,
         sum(ai * br - ar * bi) AS xim,
         sum(ar * ar + ai * ai) AS paa,
         sum(br * br + bi * bi) AS pbb
  FROM pairs GROUP BY 1, 2, 3 HAVING count(*) >= 5
)
SELECT metric_a, metric_b, cast(period_h AS int) AS period_h,
       cast(n_days AS bigint) AS n_days,
       round(CASE WHEN cast(paa AS double) > 0
                   AND cast(pbb AS double) > 0
             THEN (cast(xre AS double) * cast(xre AS double)
                   + cast(xim AS double) * cast(xim AS double))
                  / (cast(paa AS double) * cast(pbb AS double))
             END, 6) AS coherence
FROM agg
""",
        "kalman_level": """
WITH RECURSIVE d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS yc
  FROM events GROUP BY 1, 2
), o AS (
  SELECT metric, day_ts, cast(yc AS double) AS y,
         cast(row_number() OVER (
           PARTITION BY metric ORDER BY day_ts) AS bigint) AS rn
  FROM d
), f AS (
  SELECT metric, day_ts, rn, y, y AS x, 1e4 AS p, cast(1.0 AS double) AS k
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.metric, o.day_ts, o.rn, o.y,
         f.x + ((f.p + 1e2) / ((f.p + 1e2) + 1e4))
             * (o.y - f.x) AS x,
         (1.0 - ((f.p + 1e2) / ((f.p + 1e2) + 1e4)))
             * (f.p + 1e2) AS p,
         ((f.p + 1e2) / ((f.p + 1e2) + 1e4)) AS k
  FROM f JOIN o ON o.metric = f.metric AND o.rn = f.rn + 1
)
SELECT metric, day_ts, y / 100.0 AS y,
       floor((x / 100.0) * 1e6) / 1e6 AS level,
       floor(k * 1e6) / 1e6 AS gain
FROM f
""",
        "gpd_tail": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), r AS (
  SELECT metric, day_ts, y,
         row_number() OVER (PARTITION BY metric ORDER BY y, day_ts) AS rn,
         cast(count(*) OVER (PARTITION BY metric) AS bigint) AS n_days
  FROM d
), u AS (
  SELECT metric, y AS u, n_days AS nd FROM r
  WHERE rn = cast(ceil(0.7 * n_days) AS bigint)
), exc AS (
  SELECT r.metric AS metric, r.day_ts AS day_ts, u, nd, y - u AS z
  FROM r JOIN u ON r.metric = u.metric WHERE y > u
), e AS (
  SELECT metric, u, nd, z,
         cast(row_number() OVER (
           PARTITION BY metric ORDER BY z, day_ts) AS bigint) AS er,
         cast(count(*) OVER (PARTITION BY metric) AS bigint) AS ne
  FROM exc
), agg AS (
  SELECT metric, max(nd) AS n_days, max(ne) AS ne, max(u) AS u_c,
         cast(sum(z) AS bigint) AS sz,
         cast(sum((ne - er) * z) AS bigint) AS w_sum
  FROM e GROUP BY 1 HAVING max(ne) >= 8
)
SELECT metric,
       cast(n_days AS bigint) AS n_days,
       cast(ne AS bigint) AS n_exc,
       round(cast(u_c AS double) / 100.0, 6) AS u,
       round(CASE WHEN cast(sz AS double) * cast(ne - 1 AS double)
                       - 2.0 * cast(w_sum AS double) <> 0
             THEN 2.0 - cast(sz AS double) * cast(ne - 1 AS double)
                  / (cast(sz AS double) * cast(ne - 1 AS double)
                     - 2.0 * cast(w_sum AS double))
             END, 6) AS xi,
       round(CASE WHEN cast(sz AS double) * cast(ne - 1 AS double)
                       - 2.0 * cast(w_sum AS double) <> 0
             THEN 2.0 * cast(sz AS double) * cast(w_sum AS double)
                  / (cast(ne AS double)
                     * (cast(sz AS double) * cast(ne - 1 AS double)
                        - 2.0 * cast(w_sum AS double)))
                  / 100.0
             END, 6) AS beta
FROM agg
""",
        "matrix_profile": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), dy AS (
  SELECT metric,
         make_timestamp((h_us // 86400000000) * 86400000000) AS day_ts,
         cast((h_us % 86400000000) // 3600000000 AS int) AS t, y
  FROM g
), filled AS (
  SELECT metric, day_ts, t, y FROM (
    SELECT *, count(*) OVER (PARTITION BY metric, day_ts) AS nh FROM dy
  ) WHERE nh = 24
), win AS (
  SELECT metric, day_ts, i,
         cast(sum(y) AS bigint) AS sx,
         cast(sum(y * y) AS bigint) AS sxx
  FROM (
    SELECT metric, day_ts, y,
           unnest(generate_series(greatest(0, t - 3), least(t, 20))) AS i
    FROM filled
  ) GROUP BY 1, 2, 3
), lags AS (
  SELECT metric, day_ts, t, y, unnest(generate_series(3, 20)) AS d
  FROM filled
), prod AS (
  SELECT l.metric AS metric, l.day_ts AS day_ts, l.d AS d, l.t AS t,
         l.y * r.y2 AS p
  FROM (SELECT *, t + d AS t2 FROM lags WHERE t + d <= 23) l
  JOIN (SELECT metric, day_ts, t AS t2, y AS y2 FROM filled) r
    ON l.metric = r.metric AND l.day_ts = r.day_ts AND l.t2 = r.t2
), sxy AS (
  SELECT metric, day_ts, d, i,
         cast(sum(p) AS bigint) AS sxy, count(*) AS kcnt
  FROM (
    SELECT metric, day_ts, d, p,
           unnest(generate_series(greatest(0, t - 3),
                                  least(t, 20 - d))) AS i
    FROM prod
  ) GROUP BY 1, 2, 3, 4
), pr AS (
  SELECT s.metric AS metric, s.day_ts AS day_ts, s.i AS i,
         s.i + s.d AS j, s.sxy AS sxy,
         wi.sx AS sx_i, wi.sxx AS sxx_i,
         wj.sx AS sx_j, wj.sxx AS sxx_j
  FROM sxy s
  JOIN win wi ON wi.metric = s.metric AND wi.day_ts = s.day_ts
             AND wi.i = s.i
  JOIN win wj ON wj.metric = s.metric AND wj.day_ts = s.day_ts
             AND wj.i = s.i + s.d
  WHERE s.kcnt = 4
), scored AS (
  SELECT metric, day_ts, i, j,
         cast(round(sqrt(greatest(0.0,
           8.0 * (1.0 - cast(4 * sxy - sx_i * sx_j AS double)
                  / sqrt(cast(4 * sxx_i - sx_i * sx_i AS double)
                         * cast(4 * sxx_j - sx_j * sx_j AS double)))))
           * 1e6) AS bigint) AS dsnap
  FROM pr
  WHERE 4 * sxx_i - sx_i * sx_i > 0 AND 4 * sxx_j - sx_j * sx_j > 0
), bidir AS (
  SELECT * FROM scored
  UNION ALL
  SELECT metric, day_ts, j AS i, i AS j, dsnap FROM scored
), top AS (
  SELECT *, row_number() OVER (
    PARTITION BY metric, day_ts, i ORDER BY dsnap, j) AS rn
  FROM bidir
)
SELECT metric, day_ts, cast(i AS int) AS idx, cast(j AS int) AS j_star,
       cast(dsnap AS double) / 1e6 AS mp
FROM top WHERE rn = 1
""",
        "lomb_scargle": """
WITH pt AS (
  SELECT event_type AS metric, epoch_us(ts) AS t_us,
         cast(round(value * 100) AS bigint) AS c
  FROM events
), st AS (
  SELECT metric, cast(count(*) AS bigint) AS n,
         cast(sum(c) AS bigint) AS s,
         cast(sum(c * c) AS bigint) AS ssq,
         min(t_us) AS t0, max(t_us) AS t1
  FROM pt GROUP BY 1
), jn AS (
  SELECT pt.metric AS metric, t_us, c, n, s, ssq, t0, t1
  FROM pt JOIN st ON pt.metric = st.metric
), ex AS (
  SELECT *, unnest([6, 8, 12, 24, 48, 84, 168]) AS period_h FROM jn
), fl AS (
  SELECT *,
         6.283185307179586
           * cast((t_us - t0)
                  % (cast(period_h AS bigint) * 3600000000) AS double)
           / cast(cast(period_h AS bigint) * 3600000000 AS double)
           AS theta,
         cast(n * c - s AS double) AS a
  FROM ex
  WHERE n >= 16
    AND t1 - t0 >= 2 * cast(period_h AS bigint) * 3600000000
), gg AS (
  SELECT metric, period_h,
         sum(cast(round(a * cos(theta) / n * 1e4) AS bigint)) AS yc,
         sum(cast(round(a * sin(theta) / n * 1e4) AS bigint)) AS ys,
         sum(cast(round(cos(theta) * cos(theta) * 1e6) AS bigint)) AS cc,
         sum(cast(round(sin(theta) * sin(theta) * 1e6) AS bigint)) AS ss,
         sum(cast(round(cos(theta) * sin(theta) * 1e6) AS bigint)) AS cs,
         max(n) AS n,
         max(n * ssq - s * s) AS v_num
  FROM fl GROUP BY 1, 2
)
SELECT metric, cast(period_h AS int) AS period_h,
       cast(n AS bigint) AS n,
       round(CASE WHEN v_num > 0
                   AND cast(cc AS double) * cast(ss AS double)
                       - cast(cs AS double) * cast(cs AS double) > 0
             THEN (cast(cc AS double) * cast(ys AS double)
                     * cast(ys AS double)
                   + cast(ss AS double) * cast(yc AS double)
                     * cast(yc AS double)
                   - 2.0 * cast(cs AS double) * cast(yc AS double)
                     * cast(ys AS double))
                  * cast(n AS double) * cast(n AS double)
                  / (200.0 * cast(v_num AS double)
                     * (cast(cc AS double) * cast(ss AS double)
                        - cast(cs AS double) * cast(cs AS double)))
             END, 6) AS power
FROM gg
""",
        "wavelet_variance": """
WITH h AS (
  SELECT event_type AS metric,
         (epoch_us(ts) // 3600000000) * 3600000000 AS h_us,
         cast(count(*) AS bigint) AS y
  FROM events GROUP BY 1, 2
), span AS (
  SELECT metric, min(h_us) AS h0, max(h_us) AS h1 FROM h GROUP BY 1
), grid AS (
  SELECT metric, unnest(generate_series(h0, h1, 3600000000)) AS h_us
  FROM span
), g AS (
  SELECT grid.metric, grid.h_us, coalesce(y, 0) AS y
  FROM grid LEFT JOIN h
    ON grid.metric = h.metric AND grid.h_us = h.h_us
), idx AS (
  SELECT metric, y,
         cast((h_us - min(h_us) OVER (PARTITION BY metric))
              / 3600000000 AS bigint) AS t
  FROM g
), lv AS (
  SELECT metric, y, t, unnest([1, 2, 3, 4]) AS level FROM idx
), blocks AS (
  SELECT metric, level,
         t // (cast(1 AS bigint) << level) AS b,
         cast(sum(CASE WHEN (t // (cast(1 AS bigint) << (level - 1)))
                            % 2 = 0
                       THEN y ELSE -y END) AS bigint) AS d,
         count(*) AS cnt
  FROM lv GROUP BY 1, 2, 3
), pl AS (
  SELECT metric, level, count(*) AS n_blocks, sum(d * d) AS ssq
  FROM blocks
  WHERE cnt = (cast(1 AS bigint) << level)
  GROUP BY 1, 2
)
SELECT metric, cast(level AS int) AS level,
       cast(1 << level AS int) AS scale_h,
       cast(n_blocks AS bigint) AS n_blocks,
       round(cast(ssq AS double)
             / cast(n_blocks * (cast(1 AS bigint) << level) AS double),
             6) AS nu2
FROM pl WHERE n_blocks >= 4
""",
        "rsi_cutler": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, day_ts,
         y - lag(y, 1) OVER (PARTITION BY metric
                             ORDER BY day_ts) AS dy
  FROM d
), t2 AS (
  SELECT metric, day_ts, dy FROM t WHERE dy IS NOT NULL
), g AS (
  SELECT metric, day_ts,
         count(*) OVER w AS n_win,
         sum(CASE WHEN dy > 0 THEN dy ELSE 0 END) OVER w AS sum_gain,
         sum(CASE WHEN dy < 0 THEN -dy ELSE 0 END) OVER w AS sum_loss
  FROM t2
  WINDOW w AS (PARTITION BY metric ORDER BY day_ts
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT metric, day_ts, cast(n_win AS bigint) AS n_win,
       cast(sum_gain AS bigint) AS sum_gain,
       cast(sum_loss AS bigint) AS sum_loss,
       CASE WHEN sum_gain + sum_loss > 0 THEN
         round(100.0 * cast(sum_gain AS double)
               / cast(sum_gain + sum_loss AS double), 6)
       END AS rsi
FROM g WHERE n_win >= 14
""",
        "bollinger_daily": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, day_ts, y,
         count(*) OVER w AS n,
         sum(cast(y AS hugeint)) OVER w AS s,
         sum(cast(y AS hugeint) * cast(y AS hugeint)) OVER w AS q
  FROM d
  WINDOW w AS (PARTITION BY metric ORDER BY day_ts
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT metric, day_ts, cast(n AS bigint) AS n_win,
       round(cast(s AS double) / cast(n AS double) / 100.0, 6) AS mid,
       round((cast(s AS double) / cast(n AS double)
              + 2.0 * sqrt((cast(n AS double) * cast(q AS double)
                            - cast(s AS double) * cast(s AS double))
                           / (cast(n AS double) * cast(n AS double))))
             / 100.0, 6) AS upper,
       round((cast(s AS double) / cast(n AS double)
              - 2.0 * sqrt((cast(n AS double) * cast(q AS double)
                            - cast(s AS double) * cast(s AS double))
                           / (cast(n AS double) * cast(n AS double))))
             / 100.0, 6) AS lower,
       CASE WHEN n * y - s > 0
            AND (n * y - s) * (n * y - s) > 4 * (n * q - s * s)
       THEN 1 ELSE 0 END AS above,
       CASE WHEN n * y - s < 0
            AND (n * y - s) * (n * y - s) > 4 * (n * q - s * s)
       THEN 1 ELSE 0 END AS below
FROM g WHERE n >= 7
""",
        "stochastic_k": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT metric, day_ts,
         count(*) OVER w AS n_win,
         cast(y - min(y) OVER w AS hugeint) AS num,
         cast(max(y) OVER w - min(y) OVER w AS hugeint) AS den
  FROM d
  WINDOW w AS (PARTITION BY metric ORDER BY day_ts
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), t2 AS (
  SELECT metric, day_ts, n_win, num, den,
         lag(num, 1) OVER w1 AS n2, lag(den, 1) OVER w1 AS d2,
         lag(num, 2) OVER w1 AS n3, lag(den, 2) OVER w1 AS d3,
         lag(n_win, 2) OVER w1 AS nw3
  FROM t
  WINDOW w1 AS (PARTITION BY metric ORDER BY day_ts)
)
SELECT metric, day_ts, cast(n_win AS bigint) AS n_win,
       CASE WHEN den > 0 THEN
         round(100.0 * cast(num AS double) / cast(den AS double), 6)
       END AS pct_k,
       CASE WHEN den > 0 AND d2 > 0 AND d3 > 0 AND nw3 >= 14 THEN
         round(100.0 * cast(num * d2 * d3 + n2 * den * d3
                            + n3 * den * d2 AS double)
               / cast(3 * den * d2 * d3 AS double), 6)
       END AS pct_d
FROM t2 WHERE n_win >= 14
""",
        "range_volatility": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), g AS (
  SELECT metric, date_trunc('day', hour_ts) AS day_ts,
         count(*) AS n_hours,
         arg_min(y, hour_ts) AS o, max(y) AS hh,
         min(y) AS ll, arg_max(y, hour_ts) AS c
  FROM h GROUP BY 1, 2
  HAVING count(*) >= 8 AND min(y) > 0
), t AS (
  SELECT metric, day_ts, n_hours, o, hh, ll, c,
         cast(round(ln(cast(hh AS double) / cast(ll AS double))
                    * 1e8) AS bigint) AS lhl,
         cast(round(ln(cast(c AS double) / cast(o AS double))
                    * 1e8) AS bigint) AS lco
  FROM g
)
SELECT metric, day_ts, cast(n_hours AS bigint) AS n_hours,
       round(cast(o AS double) / 100.0, 6) AS o,
       round(cast(hh AS double) / 100.0, 6) AS h,
       round(cast(ll AS double) / 100.0, 6) AS l,
       round(cast(c AS double) / 100.0, 6) AS c,
       round(0.5 * (cast(lhl * lhl AS double) / 1e16)
             - 0.3862943611198906
               * (cast(lco * lco AS double) / 1e16), 6) AS gk_var,
       round((cast(lhl * lhl AS double) / 1e16)
             / 2.772588722239781, 6) AS pk_var
FROM t
""",
        "mcnemar_wow": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), med AS (
  SELECT metric,
         cast(round(2 * quantile_cont(y, 0.5)) AS bigint) AS med2
  FROM h GROUP BY 1
), tg AS (
  SELECT h.metric,
         ((epoch_us(hour_ts) // 3600000000) // 24 + 4) // 7 AS week,
         (epoch_us(hour_ts) // 3600000000 + 96) % 168 AS slot,
         CASE WHEN 2 * y > med2 THEN 1 ELSE 0 END AS b
  FROM h JOIN med USING (metric)
), p AS (
  SELECT a.metric, a.b, c.b AS b_prev
  FROM tg a JOIN tg c
    ON a.metric = c.metric AND a.slot = c.slot
   AND a.week = c.week + 1
), g AS (
  SELECT metric, cast(count(*) AS bigint) AS n_pairs,
         cast(sum(CASE WHEN b_prev = 0 AND b = 1 THEN 1 ELSE 0 END)
              AS bigint) AS b01,
         cast(sum(CASE WHEN b_prev = 1 AND b = 0 THEN 1 ELSE 0 END)
              AS bigint) AS b10
  FROM p GROUP BY 1 HAVING count(*) >= 10
)
SELECT metric, n_pairs, b01, b10,
       round(CASE WHEN b01 + b10 > 0 THEN
             cast(greatest(abs(b01 - b10) - 1, 0)
                  * greatest(abs(b01 - b10) - 1, 0) AS double)
             / cast(b01 + b10 AS double) END, 6) AS chi2_cc
FROM g
""",
        "cochran_q": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), med AS (
  SELECT metric,
         cast(round(2 * quantile_cont(y, 0.5)) AS bigint) AS med2
  FROM d GROUP BY 1
), tg AS (
  SELECT d.metric,
         (epoch_us(day_ts) // 86400000000 + 4) // 7 AS week,
         (epoch_us(day_ts) // 86400000000 + 4) % 7 AS dow,
         CASE WHEN 2 * y > med2 THEN 1 ELSE 0 END AS b
  FROM d JOIN med USING (metric)
), comp AS (
  SELECT metric, week, cast(sum(b) AS bigint) AS r_i
  FROM tg GROUP BY 1, 2 HAVING count(*) = 7
), kept AS (
  SELECT tg.metric, tg.dow, tg.b
  FROM tg JOIN comp USING (metric, week)
), cols AS (
  SELECT metric, dow, cast(sum(b) AS bigint) AS c_j
  FROM kept GROUP BY 1, 2
), cs AS (
  SELECT metric, cast(sum(c_j * c_j) AS bigint) AS sum_c2,
         cast(sum(c_j) AS bigint) AS n_succ
  FROM cols GROUP BY 1
), rs AS (
  SELECT metric, cast(count(*) AS bigint) AS n_blocks,
         cast(sum(r_i * r_i) AS bigint) AS sum_r2
  FROM comp GROUP BY 1
)
SELECT cs.metric, n_blocks, n_succ AS n_success,
       round(CASE WHEN 7 * n_succ - sum_r2 > 0 THEN
             cast(6 * (7 * sum_c2 - n_succ * n_succ) AS double)
             / cast(7 * n_succ - sum_r2 AS double) END, 6) AS q_stat
FROM cs JOIN rs ON cs.metric = rs.metric
WHERE n_blocks >= 3
""",
        "cvm_weekend": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, day_ts, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), r AS (
  SELECT m, g,
         2 * rank() OVER (PARTITION BY m ORDER BY y)
           + count(*) OVER (PARTITION BY m, y) - 1 AS r2,
         2 * row_number()
           OVER (PARTITION BY m, g ORDER BY y, day_ts) AS i2
  FROM dd
), per AS (
  SELECT m, g, cast(count(*) AS bigint) AS n,
         cast(sum((r2 - i2) * (r2 - i2)) AS bigint) AS s4
  FROM r GROUP BY 1, 2
), x AS (
  SELECT m, n AS nx, s4 AS s4x FROM per WHERE g = 0
), y AS (
  SELECT m, n AS ny, s4 AS s4y FROM per WHERE g = 1
), j AS (
  SELECT x.m, nx, ny, nx * s4x + ny * s4y AS u4
  FROM x JOIN y ON x.m = y.m
  WHERE nx >= 4 AND ny >= 4
)
SELECT m AS metric, nx AS n_weekday, ny AS n_weekend,
       cast(u4 AS bigint) AS u4_stat,
       round(cast(u4 AS double)
             / (4.0 * (cast(nx AS double) + cast(ny AS double))
                * cast(nx AS double) * cast(ny AS double))
             - (4.0 * cast(nx AS double) * cast(ny AS double) - 1.0)
               / (6.0 * (cast(nx AS double) + cast(ny AS double))),
             6) AS t_stat
FROM j
""",
        "mood_weekend": """
WITH d AS (
  SELECT event_type AS m, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), dd AS (
  SELECT m, day_ts, y,
         CASE WHEN ((epoch_us(day_ts) // 86400000000) + 4) % 7
                   IN (0, 6) THEN 1 ELSE 0 END AS g
  FROM d
), r AS (
  SELECT m, g,
         2 * rank() OVER (PARTITION BY m ORDER BY y)
           + count(*) OVER (PARTITION BY m, y) - 1 AS r2
  FROM dd
), cnt AS (
  SELECT m, cast(sum(1 - g) AS bigint) AS nx,
         cast(sum(g) AS bigint) AS ny
  FROM r GROUP BY 1
), m4 AS (
  SELECT r.m,
         cast(sum((r2 - (nx + ny + 1)) * (r2 - (nx + ny + 1)))
              AS bigint) AS m4
  FROM r JOIN cnt ON r.m = cnt.m
  WHERE g = 1 GROUP BY 1
), j AS (
  SELECT cnt.m, nx, ny, m4,
         cast(nx AS double) AS nxd, cast(ny AS double) AS nyd,
         cast(nx AS double) + cast(ny AS double) AS nnd
  FROM cnt JOIN m4 ON cnt.m = m4.m
  WHERE nx >= 4 AND ny >= 4
)
SELECT m AS metric, nx AS n_weekday, ny AS n_weekend,
       m4 AS m4_stat,
       round(CASE WHEN nxd * nyd * (nnd + 1.0)
                       * (nnd * nnd - 4.0) / 180.0 > 0 THEN
             (cast(m4 AS double) / 4.0
              - nyd * (nnd * nnd - 1.0) / 12.0)
             / sqrt(nxd * nyd * (nnd + 1.0)
                    * (nnd * nnd - 4.0) / 180.0) END, 6) AS z
FROM j
""",
        "arch_lm": """
WITH h AS (
  SELECT event_type AS metric, date_trunc('hour', ts) AS hour_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), d AS (
  SELECT metric, hour_ts,
         y - lag(y) OVER (PARTITION BY metric ORDER BY hour_ts) AS dy
  FROM h
), z AS (
  SELECT metric, hour_ts,
         cast(dy AS hugeint) * cast(dy AS hugeint) AS z
  FROM d WHERE dy IS NOT NULL
), p AS (
  SELECT metric, z AS v,
         lag(z) OVER (PARTITION BY metric ORDER BY hour_ts) AS u
  FROM z
), g AS (
  SELECT metric, cast(count(*) AS hugeint) AS n,
         sum(u) AS su, sum(v) AS sv, sum(u * v) AS suv,
         sum(u * u) AS suu, sum(v * v) AS svv
  FROM p WHERE u IS NOT NULL GROUP BY 1 HAVING count(*) >= 12
), e AS (
  SELECT metric, n,
         cast(n * suv - su * sv AS double) AS cov,
         cast(n * suu - su * su AS double) AS vu,
         cast(n * svv - sv * sv AS double) AS vv
  FROM g
)
SELECT metric, cast(n AS bigint) AS n_pairs,
       round(CASE WHEN vu > 0 AND vv > 0
             THEN cov * cov / (vu * vv) END, 6) AS r2,
       round(CASE WHEN vu > 0 AND vv > 0
             THEN cast(n AS double) * cov * cov / (vu * vv) END,
             6) AS lm_stat
FROM e
""",
        "segmented_trend": """
WITH d AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS y
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT i.metric, i.day_ts AS di, j.day_ts AS dj, i.y AS yi, j.y AS yj
  FROM d i JOIN d j
    ON i.metric = j.metric AND i.day_ts <> j.day_ts
), delta AS (
  SELECT metric, di,
         cast(sum(CASE WHEN di < dj THEN sign(yj - yi) ELSE 0 END)
              - sum(CASE WHEN di > dj THEN sign(yi - yj) ELSE 0 END)
              AS bigint) AS du
  FROM pairs GROUP BY 1, 2
), u AS (
  SELECT metric, di,
         cast(sum(du) OVER (PARTITION BY metric ORDER BY di
                            ROWS UNBOUNDED PRECEDING) AS bigint) AS u_t
  FROM delta
), best AS (
  SELECT metric, di,
         row_number() OVER (PARTITION BY metric
                            ORDER BY abs(u_t) DESC, di ASC) AS r
  FROM u
), nn AS (
  SELECT metric, count(*) AS n_days FROM d GROUP BY 1
), bp AS (
  SELECT b.metric, di AS change_day
  FROM best b JOIN nn ON b.metric = nn.metric
  WHERE r = 1 AND n_days >= 8
), tagged AS (
  SELECT d.metric, bp.change_day,
         CASE WHEN d.day_ts > bp.change_day THEN 1 ELSE 0 END AS seg,
         cast(epoch_us(d.day_ts) // 86400000000
              - epoch_us(bp.change_day) // 86400000000
              AS hugeint) AS x,
         cast(y AS hugeint) AS y
  FROM d JOIN bp ON d.metric = bp.metric
), per AS (
  SELECT metric, change_day, seg, cast(count(*) AS hugeint) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM tagged GROUP BY 1, 2, 3 HAVING count(*) >= 3
), sides AS (
  SELECT metric, change_day, seg, cast(n AS bigint) AS n,
         CASE WHEN n * sxx - sx * sx > 0 THEN
              cast(n * sxy - sx * sy AS double)
              / cast(n * sxx - sx * sx AS double) / 100.0 END AS slope
  FROM per
)
SELECT a.metric, a.change_day,
       a.n AS n_pre, b.n AS n_post,
       round(a.slope, 6) AS slope_pre,
       round(b.slope, 6) AS slope_post,
       round(b.slope - a.slope, 6) AS slope_delta
FROM sides a JOIN sides b
  ON a.metric = b.metric AND a.change_day = b.change_day
 AND a.seg = 0 AND b.seg = 1
""",
        "isotonic_calibration": """
WITH split AS (
  SELECT date_trunc('day', min(ts)) + INTERVAL 15 DAY AS d FROM events
), train AS (
  SELECT hour(ts) AS hod,
         cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS double) / cast(count(*) AS double) AS score
  FROM events, split WHERE ts < d GROUP BY 1
), test AS (
  SELECT hour(ts) AS hod,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS outcome
  FROM events, split WHERE ts >= d
), sc AS (
  SELECT round(score * 1000) / 1000 AS score, outcome
  FROM test JOIN train USING (hod)
), bins AS (
  SELECT score, cast(count(*) AS bigint) AS n,
         cast(sum(outcome) AS bigint) AS successes
  FROM sc GROUP BY 1
), idx AS (
  SELECT score, n, successes,
         row_number() OVER (ORDER BY score) AS i,
         cast(sum(n) OVER (ORDER BY score) AS bigint) AS pn,
         cast(sum(successes) OVER (ORDER BY score) AS bigint) AS ps
  FROM bins
), iv AS (
  -- mean of every score-interval [j..k] from prefix sums; the PAVA
  -- fit at bin i is max_{j<=i} min_{k>=i} mean(j,k) (minimax
  -- identity for isotonic regression) -- O(B^3) here vs the
  -- engine's O(B) driver PAVA, fine for B <= 1001 oracle bins
  SELECT j.i AS j, k.i AS k,
         cast(k.ps - j.ps + j.successes AS double)
         / cast(k.pn - j.pn + j.n AS double) AS mean_jk
  FROM idx j JOIN idx k ON j.i <= k.i
), inner_min AS (
  SELECT b.i, iv.j, min(mean_jk) AS mn
  FROM iv JOIN idx b ON iv.j <= b.i AND iv.k >= b.i
  GROUP BY 1, 2
), mm AS (
  SELECT i, max(mn) AS rate_iso FROM inner_min GROUP BY 1
)
SELECT cast(b.i - 1 AS int) AS bin_idx, b.score, b.n, b.successes,
       round(cast(b.successes AS double) / cast(b.n AS double), 6)
         AS rate_raw,
       round(mm.rate_iso, 6) AS rate_iso
FROM idx b JOIN mm ON b.i = mm.i
""",
        # binary segmentation unrolled: max_splits=2 is a FIXED
        # recursion depth, so the driver-paced loop is two identical
        # SQL levels (split scan -> best cut -> relabel), exactly the
        # engine's per-round job
        "changepoints_multi": """
WITH p0 AS (
  SELECT event_type AS metric, date_trunc('day', ts) AS day_ts,
         epoch_us(ts) AS t_us, cast(event_id AS bigint) AS turn_idx,
         cast(round(value * 100) AS bigint) AS c,
         cast(0 AS bigint) AS seg
  FROM events
), l1 AS (
  SELECT metric, day_ts, seg, t_us, turn_idx, c,
         row_number() OVER (PARTITION BY metric, day_ts, seg
                            ORDER BY t_us, turn_idx) AS k,
         cast(sum(c) OVER (PARTITION BY metric, day_ts, seg
                           ORDER BY t_us, turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS bigint) AS sk,
         cast(count(*) OVER (PARTITION BY metric, day_ts, seg)
              AS bigint) AS n,
         cast(sum(c) OVER (PARTITION BY metric, day_ts, seg)
              AS bigint) AS sn
  FROM p0
), g1 AS (
  SELECT *, cast(sk AS double) * cast(sk AS double) / cast(k AS double)
          + (cast(sn AS double) - cast(sk AS double))
            * (cast(sn AS double) - cast(sk AS double))
            / (cast(n AS double) - cast(k AS double))
          - cast(sn AS double) * cast(sn AS double)
            / cast(n AS double) AS gain
  FROM l1 WHERE k >= 4 AND k <= n - 4
), b1 AS (
  SELECT metric, day_ts, seg, t_us AS cut_t, turn_idx AS cut_o
  FROM (SELECT *, max(gain) OVER (PARTITION BY metric, day_ts, seg)
               AS mg FROM g1) q
  WHERE gain = mg AND gain > 5000.0
  QUALIFY row_number() OVER (PARTITION BY metric, day_ts, seg
                             ORDER BY k) = 1
), p1 AS (
  SELECT p.metric, p.day_ts, p.t_us, p.turn_idx, p.c,
         CASE WHEN b.cut_t IS NOT NULL
                   AND (p.t_us > b.cut_t
                        OR (p.t_us = b.cut_t
                            AND p.turn_idx > b.cut_o))
              THEN p.seg * 2 + 2 ELSE p.seg * 2 + 1 END AS seg
  FROM p0 p LEFT JOIN b1 b
    ON p.metric = b.metric AND p.day_ts = b.day_ts AND p.seg = b.seg
), l2 AS (
  SELECT metric, day_ts, seg, t_us, turn_idx, c,
         row_number() OVER (PARTITION BY metric, day_ts, seg
                            ORDER BY t_us, turn_idx) AS k,
         cast(sum(c) OVER (PARTITION BY metric, day_ts, seg
                           ORDER BY t_us, turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS bigint) AS sk,
         cast(count(*) OVER (PARTITION BY metric, day_ts, seg)
              AS bigint) AS n,
         cast(sum(c) OVER (PARTITION BY metric, day_ts, seg)
              AS bigint) AS sn
  FROM p1
), g2 AS (
  SELECT *, cast(sk AS double) * cast(sk AS double) / cast(k AS double)
          + (cast(sn AS double) - cast(sk AS double))
            * (cast(sn AS double) - cast(sk AS double))
            / (cast(n AS double) - cast(k AS double))
          - cast(sn AS double) * cast(sn AS double)
            / cast(n AS double) AS gain
  FROM l2 WHERE k >= 4 AND k <= n - 4
), b2 AS (
  SELECT metric, day_ts, seg, t_us AS cut_t, turn_idx AS cut_o
  FROM (SELECT *, max(gain) OVER (PARTITION BY metric, day_ts, seg)
               AS mg FROM g2) q
  WHERE gain = mg AND gain > 5000.0
  QUALIFY row_number() OVER (PARTITION BY metric, day_ts, seg
                             ORDER BY k) = 1
), p2 AS (
  SELECT p.metric, p.day_ts, p.t_us, p.turn_idx, p.c,
         CASE WHEN b.cut_t IS NOT NULL
                   AND (p.t_us > b.cut_t
                        OR (p.t_us = b.cut_t
                            AND p.turn_idx > b.cut_o))
              THEN p.seg * 2 + 2 ELSE p.seg * 2 + 1 END AS seg
  FROM p1 p LEFT JOIN b2 b
    ON p.metric = b.metric AND p.day_ts = b.day_ts AND p.seg = b.seg
), og AS (
  SELECT metric, day_ts, seg, cast(count(*) AS bigint) AS n,
         min({'t': t_us, 'o': turn_idx}) AS s0,
         cast(sum(c) AS bigint) AS sc
  FROM p2 GROUP BY 1, 2, 3
)
SELECT metric, day_ts,
       cast(row_number() OVER (PARTITION BY metric, day_ts
                               ORDER BY s0.t, s0.o) AS int) AS seg_id,
       make_timestamp(s0.t) AS seg_start_ts,
       n, round(cast(sc AS double) / cast(n AS double) / 100.0, 6)
            AS mean
FROM og
""",
    }
