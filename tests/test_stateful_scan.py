"""The shared stateful-scan kernel (streaming/scan.py), driven through
the public `stream_ewma` over two parquet files read one per
micro-batch: the replay cutoff keeps only rows past the state's last
(ts, turn_idx), an idle series is evicted and restarts from empty
state, and no other streaming module calls applyInPandasWithState or
handles a timeout."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import numpy as np
import pandas as pd

from timeseriescorrelation_spark.streaming.ewma_stream import stream_ewma
from timeseriescorrelation_spark.streaming.rollup_stream import (
    run_available_now,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
H = dt.timedelta(hours=1)
SCHEMA = (
    "conv_id string, metric string, ts timestamp, turn_idx int, "
    "value double"
)
STREAMING = (
    Path(__file__).resolve().parents[1]
    / "timeseriescorrelation_spark" / "streaming"
)


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(path))


def _drain(spark, tmp_path, watermark, **kw):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp_path / 'src'}/chunk*")
        .withWatermark("ts", watermark)
    )
    run_available_now(
        stream_ewma(stream, alpha=0.3, **kw),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )


def _read(spark, tmp_path):
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    return sorted(map(tuple, rows), key=lambda t: (t[0], t[2], t[3]))


def _ewma(vals):
    y = pd.Series(vals).ewm(alpha=0.3, adjust=False).mean().to_numpy()
    return list(np.floor(y * 1e6) / 1e6)


def test_replay_cutoff_keeps_only_rows_past_last_ts_idx(spark, tmp_path):
    src = tmp_path / "src"
    _write(spark, src / "chunk1", [
        ("c1", "m", T0, 0, 1.0),
        ("c1", "m", T0 + H, 1, 2.0),
        ("c1", "m", T0 + 2 * H, 5, 3.0),
    ])
    # state after batch 1 ends at (T0+2h, 5); the watermark is wide
    # enough that Spark itself drops none of these rows
    _write(spark, src / "chunk2", [
        ("c1", "m", T0 + 2 * H, 4, 100.0),  # same ts, lower idx: drop
        ("c1", "m", T0 + 2 * H, 5, 200.0),  # same (ts, idx): drop
        ("c1", "m", T0 + 2 * H, 6, 4.0),    # same ts, higher idx: emit
        ("c1", "m", T0 + H, 9, 50.0),       # earlier ts: drop
    ])
    _drain(spark, tmp_path, "1 day")

    got = _read(spark, tmp_path)
    assert [t[3] for t in got] == [0, 1, 5, 6]
    assert [t[4] for t in got] == [1.0, 2.0, 3.0, 4.0]
    # the dropped rows never touched the carried y
    assert [t[5] for t in got] == _ewma([1.0, 2.0, 3.0, 4.0])


def test_idle_series_is_evicted_and_restarts(spark, tmp_path):
    src = tmp_path / "src"
    far = T0 + 10 * 24 * H
    # c2 moves the watermark ten days past c1's last row
    _write(spark, src / "chunk1", [
        ("c1", "m", T0, 0, 10.0),
        ("c1", "m", T0 + H, 1, 20.0),
        ("c2", "m", far, 0, 1.0),
    ])
    _drain(spark, tmp_path, "10 minutes", evict_seconds=3600)
    # the drain's closing no-data batch fires c1's timeout; the second
    # file lands afterwards on the same checkpoint
    _write(spark, src / "chunk2", [
        ("c1", "m", far + H, 2, 7.0),
        ("c2", "m", far + 2 * H, 1, 3.0),
    ])
    _drain(spark, tmp_path, "10 minutes", evict_seconds=3600)

    by = {(t[0], t[3]): t[5] for t in _read(spark, tmp_path)}
    assert by[("c1", 1)] == _ewma([10.0, 20.0])[-1]
    # evicted: c1 restarts from empty state, first EWMA == its value
    assert by[("c1", 2)] == 7.0
    # c2 stayed within evict_seconds of the watermark: carried state
    assert by[("c2", 1)] == _ewma([1.0, 3.0])[-1]


def test_stateful_calls_only_in_kernel():
    # lateness_stream orders by arrival and never evicts: its own call
    owners: dict[str, set] = {}
    for path in STREAMING.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "applyInPandasWithState", "hasTimedOut",
                "setTimeoutTimestamp",
            ):
                owners.setdefault(node.attr, set()).add(path.name)
    assert owners == {
        "applyInPandasWithState": {"scan.py", "lateness_stream.py"},
        "hasTimedOut": {"scan.py"},
        "setTimeoutTimestamp": {"scan.py"},
    }
