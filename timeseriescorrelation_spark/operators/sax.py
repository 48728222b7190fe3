"""SAX symbolization (Lin, Keogh et al., "A Symbolic Representation of
Time Series" / SAX, DMKD 2007): each (key, day) becomes a short word
over a 4-letter alphabet — PAA segment means (here: the hourly means)
z-scored against the day's own moments, then cut at the N(0,1)
equiprobable breakpoints {−0.6745, 0, 0.6745}.

Downstream uses: symbolic grep over telemetry ("find days shaped like
'aabbccdd…'"), cheap motif/novelty mining, and a join key for
shape-based clustering — all on a string column a 100 TB scan can
carry for ~24 bytes/series-day.

Exactness: `functions.exact`, so the symbol breaks at the breakpoint
literals land identically in both engines.  z-scores are
scale-invariant, so values stay in CENTS end to end; no /100 anywhere.

Scale notes (100 TB): one hash-agg shuffle keyed (key, day, hour)
collapses the raw scan to ≤24 rows per series-day (map-side partial
combine does the heavy lifting); the day-level moments re-aggregate
those 24 rows (second, tiny shuffle) and join back on (key, day).  No
windows, no sorts except the in-row array_sort of ≤24 structs.
The widened moments survive per-day groups up to ~10¹⁵ points
(cents ≤ 5·10⁶ → Σc² per point ≤ 2.5·10¹³; 38 digits hold 10²⁴ of
those); ANSI mode overflows loudly, not wrongly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    VALUE_DECIMALS,
    co_moment,
    snap,
    wide,
)

# N(0,1) quartile breakpoints for alphabet size 4
BREAKS = (-0.6745, 0.0, 0.6745)


def sax_daily(series: DataFrame, keys: list[str] | None = None,
              segment_hours: int = 1) -> DataFrame:
    """(keys..., day_ts, n_hours, sax_word).

    sax_word concatenates one symbol per PRESENT PAA segment
    (`segment_hours` hours wide, default 1 = hourly) in segment order
    (absent segments contribute nothing — a sparse day yields a
    shorter word, never padding).  Days with zero variance across
    points have no shape to encode: sax_word is NULL, n_hours (the
    present-segment count) still reported.  Coarser segments give the
    classic short-word SAX (e.g. segment_hours=4 → ≤6-symbol words)
    whose collision space is small enough for motif mining
    (activity.sax_motifs)."""
    keys = keys or ["metric"]
    cents = snap(F.col("value"), VALUE_DECIMALS)
    pt = series.select(
        *keys,
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        (F.hour(F.col("ts")) / F.lit(int(segment_hours)))
        .cast("int").alias("hour_idx"),
        cents.alias("c"),
    )
    h = pt.groupBy(*keys, "day_ts", "hour_idx").agg(
        F.count(F.lit(1)).alias("hn"),
        F.sum("c").alias("hsum"),
        F.sum(wide("c") * wide("c")).alias("hsxx"),
    )
    d = h.groupBy(*keys, "day_ts").agg(
        wide(F.sum("hn")).alias("dn"),
        wide(F.sum("hsum")).alias("dsum"),
        F.sum("hsxx").alias("dsxx"),
    )
    j = h.join(d, [*keys, "day_ts"])
    hmean = F.col("hsum").cast("double") / F.col("hn").cast("double")
    dmean = F.col("dsum").cast("double") / F.col("dn").cast("double")
    vnum = co_moment("dn", "dsum", "dsum", "dsxx")
    dvar = vnum.cast("double") / (F.col("dn") * F.col("dn")).cast("double")
    z = (hmean - dmean) / F.sqrt(dvar)
    sym = (
        F.when(vnum <= 0, F.lit(None).cast("string"))
        .when(z < F.lit(BREAKS[0]), F.lit("a"))
        .when(z < F.lit(BREAKS[1]), F.lit("b"))
        .when(z < F.lit(BREAKS[2]), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    g = j.select(
        *keys, "day_ts", "hour_idx",
        (vnum > 0).alias("var_ok"), sym.alias("sym"),
    )
    word = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("hour_idx", "sym"))
            ),
            lambda s: s["sym"],
        ),
        "",
    )
    return g.groupBy(*keys, "day_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.when(
            F.min(F.col("var_ok").cast("int")) == 1, word
        ).alias("sax_word"),
    )
