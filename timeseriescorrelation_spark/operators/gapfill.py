"""Gap-fill: dense grid + LOCF + linear interpolation (SURVEY W1/W2/J4).

Pipeline per (conv_id, metric):

1. **last-wins collapse** — many observations inside one grid step
   collapse to the one with the largest (ts, turn_idx) (SURVEY A2);
2. **lead window over observations only** — each observed bucket learns
   its successor's (ts, value) and therefore the fill range it owns:
   [its bucket .. one step before the next observed bucket];
3. **post-shuffle explode** — each obs row emits its own range via
   `posexplode(sequence(...))`: pos 0 is the observation, pos>0 are
   filled steps carrying LOCF (or the linear interpolation toward the
   lead neighbor).

The scale-critical property: ONLY collapsed observations cross the
window shuffle; dense grid rows are born *after* the last shuffle and
stream into downstream operators.  The naive grid∪obs window
formulation shuffles the whole grid — measured 218M shuffled rows from
11M points on skewed synthetic conversations (20x amplification), which
made the fill stage disk-shuffle-bound and killed scaling (0.37
efficiency at 8→32 cores).  With the explode-after-shuffle shape the
shuffle volume is O(observations) regardless of grid density.

``max_gap_steps`` (optional) bounds every fill range: gaps larger than
the bound are dormancy — nothing is emitted between the two
observations (segment semantics, TimescaleDB-style bounded gapfill).

An `applyInPandas` variant (`fill_interpolate_pandas`) implements the
same linear semantics with `pandas.Series.interpolate` per the
vectorized-UDF mandate (BASELINE.json:6,15); tests assert the native and
pandas paths match exactly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.operators.rollup import (
    TIER_TRUNC,
    TRUNC_US,
    packed_order_key,
)

_KEY = ["conv_id", "metric"]


def _step_secs(step: str) -> int:
    """A tier step's width in whole seconds (60 for "1m")."""
    return TRUNC_US[TIER_TRUNC[step]] // 1_000_000


def collapse_last_wins(series: DataFrame, step: str = "1m") -> DataFrame:
    """Collapse raw points to one value per grid bucket (last by
    (ts, turn_idx), packed into one int64 so the agg stays
    HashAggregate — see rollup.packed_order_key)."""
    return series.groupBy(
        *_KEY, F.date_trunc(TIER_TRUNC[step], "ts").alias("grid_ts")
    ).agg(
        F.max_by("value", packed_order_key(TIER_TRUNC[step])).alias("value")
    )


def make_grid(series: DataFrame, step: str = "1m") -> DataFrame:
    """Dense per-key timeline from min(ts) to max(ts), one row per step."""
    trunc = TIER_TRUNC[step]
    secs = _step_secs(step)
    spans = series.groupBy(*_KEY).agg(
        F.date_trunc(trunc, F.min("ts")).alias("lo"),
        F.date_trunc(trunc, F.max("ts")).alias("hi"),
    )
    return spans.select(
        *_KEY,
        F.explode(
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr(f"interval {secs} seconds")
            )
        ).alias("grid_ts"),
    )


def _fill_ranges(series: DataFrame, step: str,
                 max_gap_steps: int | None) -> DataFrame:
    """Per observed bucket: the range of grid steps it is responsible
    for filling — [its bucket, one step before the next observed
    bucket], optionally capped at max_gap_steps.

    This is the scale-critical shape: ONLY collapsed observations cross
    the lead-window shuffle; the dense grid rows are exploded *after*
    the last shuffle and stream straight into downstream operators.
    (The naive grid∪obs window formulation shuffles the whole grid —
    measured 218M shuffled rows from 11M points on skewed synthetic
    conversations, and the fill stage became disk-shuffle-bound.)

    Output: obs columns + next_v/next_ts (null at segment/series end)
    + fill_end (inclusive range end for this obs)."""
    secs = _step_secs(step)
    obs = collapse_last_wins(series, step)
    w = Window.partitionBy(*_KEY).orderBy("grid_ts")
    nxt = F.lead("grid_ts").over(w)
    nxt_v = F.lead("value").over(w)
    one_step = F.expr(f"interval {secs} seconds")
    end = F.when(nxt.isNull(), F.col("grid_ts")).otherwise(
        (nxt - one_step).cast("timestamp")
    )
    if max_gap_steps is not None:
        # segment semantics: a gap beyond the bound is dormancy — emit
        # NOTHING between the two observations (don't carry into it)
        from timeseriescorrelation_spark.functions.timeutil import epoch_us

        dormant = (epoch_us(nxt) - epoch_us(F.col("grid_ts"))) > F.lit(
            int(max_gap_steps * secs * 1e6)
        )
        end = F.when(dormant, F.col("grid_ts")).otherwise(end)
    return obs.select(
        *_KEY, "grid_ts", "value",
        nxt.alias("next_ts"), nxt_v.alias("next_v"),
        end.alias("fill_end"),
    )


def fill_locf(series: DataFrame, step: str = "1m",
              max_gap_steps: int | None = None) -> DataFrame:
    """Dense grid with last-observation-carried-forward values.

    Output: (conv_id, metric, grid_ts, value, filled) — `filled` is true
    where the bucket had no observation and the value was carried.
    ``max_gap_steps`` bounds each observation's fill range (segmented
    grid — the scale path for bursty series with long dormancy).

    Every grid step between obs i and obs i+1 carries v_i, so each obs
    row simply explodes its own fill range post-shuffle (posexplode:
    pos 0 is the observation itself, pos>0 are carried)."""
    secs = _step_secs(step)
    r = _fill_ranges(series, step, max_gap_steps)
    return r.select(
        *_KEY,
        "value",
        F.posexplode(
            F.sequence(
                F.col("grid_ts"), F.col("fill_end"),
                F.expr(f"interval {secs} seconds"),
            )
        ).alias("pos", "g"),
    ).select(
        *_KEY,
        F.col("g").alias("grid_ts"),
        "value",
        (F.col("pos") > 0).alias("filled"),
    )


def fill_interpolate(series: DataFrame, step: str = "1m",
                     max_gap_steps: int | None = None) -> DataFrame:
    """Dense grid with linear interpolation between neighboring
    observations (LOCF at the trailing edge: the last observation has
    no next neighbor and fills nothing beyond itself).  Gap-cap
    semantics are segment/dormancy, like fill_locf: when a gap exceeds
    max_gap_steps the range ENDS at the earlier observation — nothing
    is emitted between the two observations (no partial carry).

    Same post-shuffle-explode shape as fill_locf: each obs interpolates
    its own range [t_i, t_{i+1}) against its lead neighbor; grid step g
    gets  v_i + (v_{i+1} - v_i) * (g - t_i) / (t_{i+1} - t_i).
    The arithmetic matches the DuckDB oracle expression bit-for-bit
    (exact µs epochs, identical IEEE evaluation order)."""
    secs = _step_secs(step)
    r = _fill_ranges(series, step, max_gap_steps)

    from timeseriescorrelation_spark.functions.timeutil import epoch_us

    g = F.col("g")
    t = epoch_us(g).cast("double")
    pt = epoch_us(F.col("grid_ts")).cast("double")
    nt = epoch_us(F.col("next_ts")).cast("double")
    interp = F.when(
        F.col("next_v").isNull() | (nt == pt), F.col("value")
    ).otherwise(
        F.col("value") + (F.col("next_v") - F.col("value")) * (t - pt) / (nt - pt)
    )
    return r.select(
        *_KEY, "grid_ts", "value", "next_ts", "next_v",
        F.posexplode(
            F.sequence(
                F.col("grid_ts"), F.col("fill_end"),
                F.expr(f"interval {secs} seconds"),
            )
        ).alias("pos", "g"),
    ).select(
        *_KEY,
        g.alias("grid_ts"),
        interp.alias("value"),
        (F.col("pos") > 0).alias("filled"),
    )


def fill_interpolate_pandas(series: DataFrame, step: str = "1m") -> DataFrame:
    """Same semantics as `fill_interpolate`, via grouped-map pandas UDF
    (`pandas.Series.interpolate(method='time')` per whole series —
    grouping the full (conv_id, metric) per UDF call avoids
    partition-edge artifacts, SURVEY §7 hard parts)."""
    secs = _step_secs(step)
    obs = collapse_last_wins(series, step)

    out_schema = (
        "conv_id string, metric string, grid_ts timestamp, "
        "value double, filled boolean"
    )

    def _fill(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("grid_ts")
        idx = pd.date_range(
            pdf["grid_ts"].iloc[0], pdf["grid_ts"].iloc[-1], freq=f"{secs}s"
        )
        s = pdf.set_index("grid_ts")["value"].reindex(idx)
        filled = s.isna()
        s = s.interpolate(method="time", limit_direction="forward").ffill().bfill()
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "metric": pdf["metric"].iloc[0],
                "grid_ts": idx,
                "value": s.to_numpy(),
                "filled": filled.to_numpy(),
            }
        )

    return obs.groupBy(*_KEY).applyInPandas(_fill, out_schema)
