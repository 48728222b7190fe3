"""Canonical schemas for every table the engine reads or persists.

One module, explicit StructTypes everywhere — schema inference is never
used (SURVEY.md §1.1).  Build each schema fresh (never mutate a shared
StructType: StructType.add mutates in place — SURVEY.md §0.3 gotcha).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: transcripts (binding schema, BASELINE.json:15)
# ---------------------------------------------------------------------------

def transcripts_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )


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


# Dense gap-filled grid (SURVEY.md §1.2 #3)

def series_filled_schema() -> T.StructType:
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


# Gorilla chunk blobs (SURVEY.md §1.2 #4)

def chunks_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("chunk_start", T.TimestampType(), False),
            T.StructField("n", T.IntegerType(), False),
            T.StructField("blob", T.BinaryType(), False),
            T.StructField("raw_bytes", T.LongType(), False),
            T.StructField("enc_bytes", T.LongType(), False),
        ]
    )


# Correlation report (SURVEY.md §1.2 #6, FIXTURES.md §4)

def corr_report_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("id_a", T.StringType(), False),
            T.StructField("id_b", T.StringType(), False),
            T.StructField("rho", T.DoubleType(), False),
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


METRICS = ("turn_rate", "tool_calls", "token_len")
