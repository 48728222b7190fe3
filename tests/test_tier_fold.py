"""The tier algebra is declared once in `operators.rollup`: the packed
order key's bit layout (`idx_bits`) and the output schema of every
function built on `tier_fold`, fkey/lkey columns and their position
included.  Also guards that partition-overwrite mode is set per write,
never on the shared session conf."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pytest

from timeseriescorrelation_spark.operators.rollup import (
    idx_bits,
    rollup_interval,
    rollup_raw,
    rollup_raw_upsertable,
    rollup_tier,
    tier_merge,
)
from timeseriescorrelation_spark.schemas import series_schema
from timeseriescorrelation_spark.streaming.cascade_stream import (
    partials_1d_from_1h,
    partials_1h_from_1m,
)
from timeseriescorrelation_spark.streaming.rollup_stream import (
    stream_rollup_1m,
)

PKG = Path(__file__).resolve().parents[1] / "timeseriescorrelation_spark"

_TIER = ("conv_id:string,metric:string,bucket_ts:timestamp,cnt:bigint,"
         "sum:double,min:double,max:double,first:double")
TIER = f"struct<{_TIER},last:double>"
KEYED = f"struct<{_TIER},fkey:bigint,last:double,lkey:bigint>"


def _series(spark):
    t0 = dt.datetime(2024, 3, 1, 23, 58)
    rows = [("c1", "m", t0 + dt.timedelta(seconds=40 * k), k, float(k))
            for k in range(12)]
    return spark.createDataFrame(rows, series_schema())


def _p1h(spark):
    return partials_1h_from_1m(rollup_raw(_series(spark), "1m"))


CASES = {
    "idx_bits_minute": (lambda s: idx_bits(60_000_000), 37),
    "idx_bits_hour": (lambda s: idx_bits(3_600_000_000), 31),
    "idx_bits_day": (lambda s: idx_bits(86_400_000_000), 26),
    "idx_bits_5min": (lambda s: idx_bits(300_000_000), 34),
    "rollup_raw": (lambda s: rollup_raw(_series(s), "1m"), TIER),
    "rollup_interval": (lambda s: rollup_interval(_series(s)), TIER),
    "rollup_tier": (
        lambda s: rollup_tier(rollup_raw(_series(s), "1m"), "1h"), TIER),
    "rollup_raw_upsertable": (
        lambda s: rollup_raw_upsertable(_series(s), "1h"), KEYED),
    "tier_merge": (
        lambda s: tier_merge(rollup_raw_upsertable(_series(s), "1h"),
                             rollup_raw_upsertable(_series(s), "1h")),
        KEYED),
    "partials_1h_from_1m": (_p1h, KEYED),
    "partials_1d_from_1h": (lambda s: partials_1d_from_1h(_p1h(s)), KEYED),
    "stream_rollup_1m": (lambda s: stream_rollup_1m(_series(s)), TIER),
}


@pytest.mark.parametrize("case", list(CASES))
def test_tier_fold_contract(spark, case):
    build, expected = CASES[case]
    got = build(spark)
    if not isinstance(got, int):
        got = got.schema.simpleString()
    assert got == expected


def test_no_module_sets_session_partition_overwrite_mode():
    """Two writers in one session race on a session-wide value, and a
    static overwrite deletes every partition the batch did not touch:
    the mode must ride on each write as an option."""
    offenders = [
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
        if "spark.sql.sources.partitionOverwriteMode" in p.read_text()
    ]
    assert offenders == []
