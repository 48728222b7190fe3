"""Streaming Misra-Gries must carry its counter map across micro-batch
boundaries exactly: the final snapshot equals the batch operator run
over the same (ts, tie)-ordered sequence, and the MG guarantees hold
vs exact counts."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.sketches import heavy_hitters_mg
from timeseriescorrelation_spark.streaming.rollup_stream import (
    run_available_now,
)
from timeseriescorrelation_spark.streaming.topk_stream import (
    stream_heavy_hitters,
)

T0 = dt.datetime(2024, 1, 1)
SCHEMA = "key string, item string, ts timestamp, turn_idx int"


def _rows():
    # skewed item stream: 'a' dominates, b/c mid, long tail of singles
    seq = (["a"] * 30 + ["b"] * 12 + ["c"] * 9
           + [f"t{i}" for i in range(20)] + ["a"] * 10 + ["b"] * 5)
    rows = [
        ("g1", it, T0 + dt.timedelta(minutes=i), i)
        for i, it in enumerate(seq)
    ]
    # second group with its own stream crossing the split point
    rows += [
        ("g2", it, T0 + dt.timedelta(minutes=3 * i), i)
        for i, it in enumerate(["x", "y", "x", "z", "x", "y"] * 6)
    ]
    return rows


def test_stream_mg_equals_batch_across_split(spark, tmp_path):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    split = T0 + dt.timedelta(minutes=40)

    src = tmp_path / "src"
    df.where(F.col("ts") < split).coalesce(1).write.parquet(
        str(src / "chunk1")
    )
    df.where(F.col("ts") >= split).coalesce(1).write.parquet(
        str(src / "chunk2")
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/chunk*")
        .withWatermark("ts", "10 minutes")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(
        stream_heavy_hitters(stream, k=4), out, ckpt
    )

    snaps = spark.read.parquet(out)
    last_n = snaps.groupBy("key").agg(F.max("n_seen").alias("n_seen"))
    final = {
        (r.key, r.item): (r.mg_count, r.n_seen)
        for r in snaps.join(last_n, ["key", "n_seen"]).collect()
    }
    batch = {
        (r.key, r.item): (r.mg_count, r.n_seen)
        for r in heavy_hitters_mg(
            df, keys=["key"], item_col="item", k=4, tie_col="turn_idx"
        ).collect()
    }
    assert final == batch  # identical counters, counts, and n


def test_batch_mg_guarantees_vs_exact(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    k = 4
    mg = {
        (r.key, r.item): r.mg_count
        for r in heavy_hitters_mg(
            df, keys=["key"], item_col="item", k=k, tie_col="turn_idx"
        ).collect()
    }
    exact = {
        (r.key, r.item): r.cnt
        for r in df.groupBy("key", "item")
        .agg(F.count("*").alias("cnt")).collect()
    }
    n_by_key = {}
    for (key, _), c in exact.items():
        n_by_key[key] = n_by_key.get(key, 0) + c
    for (key, item), c in exact.items():
        bound = n_by_key[key] / (k + 1)
        if c > bound:  # guaranteed present
            assert (key, item) in mg, (key, item)
        if (key, item) in mg:  # undercount bounded by n/(k+1)
            assert c - bound <= mg[(key, item)] <= c
