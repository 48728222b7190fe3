"""Materialized-tier refresh: folding a late delta must (a) reproduce
the direct rollup of everything, and (b) rewrite ONLY the day
partitions the delta touches — untouched parquet files stay
byte-identical on disk."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.refresh import (
    refresh_tier,
    write_tier,
)
from timeseriescorrelation_spark.operators.rollup import rollup_raw


def _files(path: str) -> dict[str, float]:
    return {
        str(p.relative_to(path)): p.stat().st_mtime_ns
        for p in Path(path).rglob("*.parquet")
    }


def test_refresh_exact_and_partition_scoped(tiny_series, spark, tmp_path):
    path = str(tmp_path / "tier1h")
    delta_day = (
        tiny_series.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .groupBy("d").count().orderBy(F.col("count").desc())
        .first()["d"]
    )
    is_delta = (F.date_format("ts", "yyyy-MM-dd") == delta_day) & (
        F.col("turn_idx") % 2 == 0
    )
    base, delta = tiny_series.where(~is_delta), tiny_series.where(is_delta)

    write_tier(base, path, "1h")
    before = _files(path)
    touched = refresh_tier(spark, path, delta, "1h")
    assert touched == [delta_day]

    # untouched day partitions: identical files, not rewritten
    after = _files(path)
    untouched_before = {
        f: m for f, m in before.items() if f"day_pt={delta_day}" not in f
    }
    untouched_after = {
        f: m for f, m in after.items() if f"day_pt={delta_day}" not in f
    }
    assert untouched_before == untouched_after
    assert untouched_before  # the split leaves other days in place

    # read-back equals the direct rollup of everything
    got = (
        spark.read.parquet(path)
        .drop("day_pt", "fkey", "lkey")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        rollup_raw(tiny_series, "1h")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_ts"])
        .reset_index(drop=True)
    )
    import numpy as np

    for c in ("conv_id", "metric", "bucket_ts", "cnt", "min", "max",
              "first", "last"):
        assert got[c].equals(want[c]), c
    np.testing.assert_allclose(got["sum"], want["sum"], rtol=1e-12)


def test_refresh_empty_delta_noop(tiny_series, spark, tmp_path):
    path = str(tmp_path / "tier1h")
    write_tier(tiny_series, path, "1h")
    before = _files(path)
    assert refresh_tier(
        spark, path, tiny_series.where(F.lit(False)), "1h"
    ) == []
    assert _files(path) == before


def test_refresh_first_write_returns_sorted_days(spark, tmp_path):
    """A missing path is the initial materialization; it reports the
    day partitions it wrote in sorted order, like the merge path."""
    import datetime as dt

    from timeseriescorrelation_spark.schemas import series_schema

    t0 = dt.datetime(2024, 1, 1, 12)
    rows = [("c1", "m", t0 + dt.timedelta(days=d), d, float(d))
            for d in range(40)]
    delta = spark.createDataFrame(rows, series_schema())
    touched = refresh_tier(spark, str(tmp_path / "tier1h"), delta, "1h")
    want = [(t0 + dt.timedelta(days=d)).strftime("%Y-%m-%d")
            for d in range(40)]
    assert touched == want
