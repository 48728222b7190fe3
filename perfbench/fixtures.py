"""Seeded benchmark inputs.  The same seed gives the same bytes.

- Transcripts come from the engine's own synthesizer
  (``synth.synth_transcripts``, default skew: 1% of conversations are
  50-500x longer), cut to the same shape for every seed: an exact turn
  count, and a fixed number of long conversations of a fixed length.
  Without the cut, whether a seed draws a 30k-turn conversation would
  change the work (and the days a tier spans) far more than the code
  under test does.
- The driver-query fixture (``events``, ``lineitem``, ``documents``,
  with the schemas of the driver's test tables) is drawn with numpy and
  written with pyarrow, so it costs no Spark job.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def transcripts(spark, seed: int, n_turns: int, n_heavy: int,
                n_convs: int, heavy_turns: int = 2000):
    """Exactly ``n_turns`` turns with the same shape for every seed: the
    ``n_heavy`` longest of the synthesizer's skewed conversations, each
    cut to ``heavy_turns`` turns (50x the median conversation), plus
    ordinary conversations in conv_id order, the last one trimmed.  The
    seed picks the content, not the amount of work.  One small count
    job; the rows stay lazy."""
    from pyspark.sql import functions as F

    from timeseriescorrelation_spark import synth

    tx = synth.synth_transcripts(spark, n_convs=n_convs, seed=seed)
    counts = sorted(
        (r["conv_id"], r["count"])
        for r in tx.groupBy("conv_id").count().collect()
    )
    # skewed conversations have at least 5 base turns x the 50x minimum
    skewed = sorted((n, c) for c, n in counts if n >= 5 * 50)[-n_heavy:]
    heavy = [c for _, c in skewed]
    budget = n_turns - sum(min(n, heavy_turns) for n, _ in skewed)
    base, last = [], None
    for conv_id, n in counts:
        if n >= 5 * 50:
            continue
        if n >= budget:
            last = (conv_id, budget)
            break
        base.append(conv_id)
        budget -= n
    if last is None:
        raise ValueError(f"{n_convs} synthesized conversations hold fewer "
                         f"than {n_turns} turns")
    conv, turn = F.col("conv_id"), F.col("turn_idx")
    return tx.where(
        conv.isin(base)
        | ((conv == last[0]) & (turn < last[1]))
        | (conv.isin(heavy) & (turn < heavy_turns))
    )


def write_transcripts(spark, path: str, seed: int, *shape) -> None:
    """``transcripts`` written with the engine's canonical layout
    (hash-partitioned on conv_id, turn-sorted)."""
    transcripts(spark, seed, *shape).repartition(
        4, "conv_id"
    ).sortWithinPartitions("conv_id", "turn_idx").write.mode(
        "overwrite").parquet(path)


_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "stream spark window small big join order sort dup group query data "
    "filter customer line column vector"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def write_query_fixture(root: str, seed: int, n_events: int = 2000,
                        n_users: int = 30, n_lineitem: int = 6000,
                        n_docs: int = 500) -> dict[str, int]:
    """events / lineitem / documents parquet files under ``root``;
    returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(
            np.round(rng.lognormal(3.5, 1.0, n_events), 2), 0.01)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }, os.path.join(root, "events.parquet"))

    d0 = np.datetime64("1995-01-02", "D")
    ship = d0 + rng.integers(0, 2498, n_lineitem).astype("timedelta64[D]")
    _write({
        "l_orderkey": pa.array(rng.integers(0, n_lineitem // 4, n_lineitem),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": pa.array(
            rng.integers(1, 51, n_lineitem).astype("float64")),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900.0, 105000.0, n_lineitem), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lineitem)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_lineitem)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               pa.timestamp("us")),
    }, os.path.join(root, "lineitem.parquet"))

    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(8, 100))))
        for _ in range(n_docs)
    ]
    _write({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, os.path.join(root, "documents.parquet"))
    return {"events": n_events, "lineitem": n_lineitem, "documents": n_docs}


SENTINEL_CONV = "zz_watermark_sentinel"
# far past every synthesized point, so the watermark closes every real
# window in one drain; its own window never closes, so no tier holds it
SENTINEL_TS = dt.datetime(2030, 1, 1)


def write_stream_inputs(spark, series, root: str, seed: int,
                        fill_metric: str, late_share: int = 20,
                        replay_share: int = 50) -> dict:
    """Split a series table into the inputs of the streaming workload,
    written in one job under ``root/points/kind=<name>``:

    - drop: the points the stream drains — all but the late slice,
      about 1/replay_share of them a second time (replayed duplicates
      the ingest dedup must drop), and one sentinel point;
    - late: about 1/late_share of the points, chosen by hash, folded
      into the closed 1h tier by ``refresh_tier``;
    - fill: every point of ``fill_metric``, the gap-fill input.

    Returns row counts and the last real day, read back with pyarrow."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64("conv_id", "metric", "turn_idx", F.lit(seed)),
               F.lit(late_share * replay_share))
    is_late = h % late_share == 0
    kept = series.where(~is_late)
    # h in 1..late_share-1: about 1/replay_share of the kept points
    replays = kept.where(h < late_share)
    sentinel = spark.createDataFrame(
        [(SENTINEL_CONV, fill_metric, SENTINEL_TS, 0, 0.0)], series.schema)
    kinds = [
        (kept, "drop"), (replays, "drop"), (sentinel, "drop"),
        (series.where(is_late), "late"),
        (series.where(F.col("metric") == fill_metric), "fill"),
    ]
    parts = None
    for df, kind in kinds:
        df = df.withColumn("kind", F.lit(kind))
        parts = df if parts is None else parts.unionByName(df)
    parts.write.partitionBy("kind").mode("overwrite").parquet(
        os.path.join(root, "points"))

    out = {}
    last = None
    for kind in ("drop", "late", "fill"):
        ts = pq.read_table(os.path.join(root, "points", f"kind={kind}"),
                           columns=["ts"]).column("ts").to_pylist()
        out[f"{kind}_rows"] = len(ts)
        real = [t.replace(tzinfo=None) for t in ts]
        real = max(t for t in real if t < SENTINEL_TS)
        last = real if last is None else max(last, real)
    out["last_day"] = last.date().isoformat()
    return out
