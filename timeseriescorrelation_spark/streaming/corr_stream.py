"""Streaming pairwise-correlation monitor — the reference's core
report (per-day Pearson between two metrics' hourly cent sums, hours
where BOTH observed) as an online stateful operator, BIT-EQUAL to the
batch `crossmetric.corr_matrix_daily` on closed days.

Why bit-equality holds: the batch operator's entire state per
(pair, day) is six exact int64 moments over hourly cent sums plus the
open hour's two partial sums — all integers, so carrying them across
micro-batches replays the identical arithmetic no matter where the
stream splits; the terminal r is the same one double expression
(num / √da / √db, half-up 6 dp) both sides compute from identical
integers (asserted in tests/test_corr_stream.py across a mid-day
split).

Pair fan-out: each event of metric m duplicates to every configured
pair containing m (a CONFIGURED pair set — the monitor form; the
all-pairs batch report stays the discovery tool).  Per-event cost is
|pairs containing m|, state is 13 int64s per live pair — constant.

Emission contract: a day emits when a LATER-day event of the same pair
arrives; each pair's final day never closes.  Rows under an already-
closed hour are late and dropped; ordering and eviction (anchored on
the open hour): see `streaming.scan`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    VALUE_DECIMALS,
    narrow,
    snap_np,
)
from timeseriescorrelation_spark.streaming.scan import micros, stateful_scan

OUT_SCHEMA = ("metric_a string, metric_b string, day_ts timestamp, "
              "n_hours long, r double")
STATE_SCHEMA = ("open_h long, oa long, ona long, ob long, onb long, "
                "day_us long, n long, sa long, sb long, saa long, "
                "sbb long, sab long")
HOUR_US = 3_600_000_000
DAY_US = 86_400_000_000


def _round6_half_up(x: float) -> float:
    t = x * 1e6
    u = math.floor(t + 0.5) if t >= 0 else math.ceil(t - 0.5)
    return u / 1e6


def _assemble_r(n, sa, sb, saa, sbb, sab):
    num = float(n * sab - sa * sb)
    da = float(n * saa - sa * sa)
    db = float(n * sbb - sb * sb)
    if da > 0 and db > 0:
        return _round6_half_up(num / math.sqrt(da) / math.sqrt(db))
    return None


def stream_corr(stream: DataFrame, pairs: list[tuple[str, str]],
                min_hours: int = 4,
                evict_seconds: int = 7 * 86400) -> DataFrame:
    """stream (metric, ts, value) with a watermark on ts → append
    stream of (metric_a, metric_b, day_ts, n_hours, r) at day
    closures, for the configured metric pairs."""
    pairs = [tuple(sorted(p)) for p in pairs]
    # metric -> [(pair_key, side)] fan-out as ONE literal map + explode
    fan: dict[str, list] = {}
    for a, b in pairs:
        fan.setdefault(a, []).append((f"{a}\x00{b}", 0))
        fan.setdefault(b, []).append((f"{a}\x00{b}", 1))
    entries = []
    for m, lst in fan.items():
        arr = F.array(*[
            F.struct(F.lit(pk).alias("pk"), F.lit(side).alias("side"))
            for pk, side in lst
        ])
        entries.extend([F.lit(m), arr])
    routed = (
        stream.withColumn("_fan", F.create_map(*entries)[F.col("metric")])
        .where(F.col("_fan").isNotNull())
        .select(
            F.explode("_fan").alias("_e"), "ts", "value",
        )
        .select(F.col("_e.pk").alias("pk"), F.col("_e.side").alias("side"),
                "ts", "value")
    )

    def _mon(key, pdf, st):
        (pk,) = key
        ma, mb = pk.split("\x00")
        if st is not None:
            (open_h, oa, ona, ob, onb, day_us,
             n, sa, sb, saa, sbb, sab) = st
        else:
            open_h = None
            oa = ona = ob = onb = 0
            day_us = None
            n = sa = sb = saa = sbb = sab = 0

        rows = []

        def fold_hour():
            nonlocal n, sa, sb, saa, sbb, sab, oa, ona, ob, onb
            if ona > 0 and onb > 0:
                n += 1
                sa += oa
                sb += ob
                saa += oa * oa
                sbb += ob * ob
                sab += oa * ob
            oa = ona = ob = onb = 0

        def close_day(dus):
            nonlocal n, sa, sb, saa, sbb, sab
            if n >= min_hours:
                rows.append(
                    (dus, n, _assemble_r(n, sa, sb, saa, sbb, sab))
                )
            n = sa = sb = saa = sbb = sab = 0

        ts_us = micros(pdf["ts"])
        side = pdf["side"].to_numpy(dtype=np.int64)
        cents = snap_np(pdf["value"].to_numpy(np.float64), VALUE_DECIMALS)
        for i in np.argsort(ts_us, kind="stable"):
            h = int(ts_us[i]) // HOUR_US * HOUR_US
            if open_h is None:
                open_h = h
                day_us = h // DAY_US * DAY_US
            elif h > open_h:
                fold_hour()
                d = h // DAY_US * DAY_US
                if d > day_us:
                    close_day(day_us)
                    day_us = d
                open_h = h
            elif h < open_h:
                continue  # late row under the open hour: dropped
            if side[i] == 0:
                oa += int(cents[i])
                ona += 1
            else:
                ob += int(cents[i])
                onb += 1

        new = tuple(narrow(x) for x in (
            open_h, oa, ona, ob, onb, day_us, n, sa, sb, saa, sbb, sab,
        ))
        if not rows:
            return new, None
        return new, pd.DataFrame(
            {
                "metric_a": ma,
                "metric_b": mb,
                "day_ts": np.array([r[0] for r in rows], dtype=np.int64)
                .astype("datetime64[us]"),
                "n_hours": [r[1] for r in rows],
                "r": [r[2] for r in rows],
            }
        )

    return stateful_scan(
        routed, ["pk"], _mon, OUT_SCHEMA, STATE_SCHEMA,
        evict_seconds * 1_000,
    )
