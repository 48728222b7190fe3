"""Canonical schemas for the tables the engine persists and re-reads.

One module, explicit StructTypes everywhere — schema inference is never
used (SURVEY.md §1.1).  Build each schema fresh (never mutate a shared
StructType: StructType.add mutates in place — SURVEY.md §0.3 gotcha).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Derived: raw per-(conv, metric) series points (SURVEY.md §1.2 #2)
# ---------------------------------------------------------------------------

def series_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )


# Dense 1-minute LOCF grid (gapfill.fill_locf)

def filled_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("grid_ts", T.TimestampType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("filled", T.BooleanType(), False),
        ]
    )


# Continuous-aggregate tier row (SURVEY.md §1.2 #5, FIXTURES.md §3)

def tier_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("bucket_ts", T.TimestampType(), False),
            T.StructField("cnt", T.LongType(), False),
            T.StructField("sum", T.DoubleType(), True),
            T.StructField("min", T.DoubleType(), True),
            T.StructField("max", T.DoubleType(), True),
            T.StructField("first", T.DoubleType(), True),
            T.StructField("last", T.DoubleType(), True),
        ]
    )


# Checkpoint manifest (SURVEY.md §1.2 #7, FIXTURES.md §6)

def manifest_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("run_id", T.StringType(), False),
            T.StructField("stage", T.StringType(), False),
            T.StructField("part_key", T.StringType(), False),
            T.StructField("input_rows", T.LongType(), False),
            T.StructField("output_rows", T.LongType(), False),
            T.StructField("content_hash", T.StringType(), False),
            T.StructField("metrics", T.MapType(T.StringType(), T.LongType()), True),
            T.StructField("completed_at", T.TimestampType(), False),
        ]
    )

