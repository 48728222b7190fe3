"""CEP pattern matches: batch automaton hand-verified; streaming twin
bit-equal across a micro-batch split that lands MID-PATTERN (the
carried (stage, t0) is what makes the cross-batch match possible)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.intervals import pattern_matches
from timeseriescorrelation_spark.streaming.pattern_stream import (
    stream_pattern,
)
from timeseriescorrelation_spark.streaming.rollup_stream import (
    run_available_now,
)

T0 = dt.datetime(2024, 1, 1)
STEPS = ["click", "view", "purchase"]
SCHEMA = "key string, event_type string, ts timestamp, turn_idx int"


def m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _rows():
    # u1: full match crossing the split (click@10, view@35 | purchase@50)
    #     then an expired attempt (click@100, view@200 > 60min window)
    #     then a second full match 210..230
    r = [
        ("u1", "click", m(10), 0), ("u1", "error", m(20), 1),
        ("u1", "view", m(35), 2), ("u1", "purchase", m(50), 3),
        ("u1", "click", m(100), 4), ("u1", "view", m(200), 5),
        # view@200 killed the attempt; new one below completes
        ("u1", "click", m(210), 6), ("u1", "view", m(220), 7),
        ("u1", "purchase", m(230), 8),
    ]
    # u2: steps out of order -> no match
    r += [
        ("u2", "purchase", m(5), 0), ("u2", "view", m(6), 1),
        ("u2", "click", m(7), 2),
    ]
    return r


def test_batch_pattern_hand_case(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = sorted(
        pattern_matches(
            df, STEPS, keys=["key"],
            tie_col="turn_idx", within_seconds=3600,
        ).collect(),
        key=lambda r: r.start_ts,
    )
    assert [(r.key, r.start_ts, r.end_ts) for r in got] == [
        ("u1", m(10), m(50)), ("u1", m(210), m(230))
    ]
    assert got[0].duration_s == 40 * 60.0


def test_stream_pattern_bit_equal_across_midpattern_split(spark, tmp_path):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    split = m(40)  # u1's first match is half in each chunk

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
        stream_pattern(
            stream, STEPS,
            within_seconds=3600,
        ),
        out, ckpt,
    )
    got = sorted(
        map(tuple, spark.read.parquet(out).collect()),
        key=lambda t: (t[0], t[1]),
    )
    want = sorted(
        map(
            tuple,
            pattern_matches(
                df, STEPS, keys=["key"],
                tie_col="turn_idx", within_seconds=3600,
            ).select("key", "start_ts", "end_ts", "duration_s").collect(),
        ),
        key=lambda t: (t[0], t[1]),
    )
    assert got == want and len(got) == 2
