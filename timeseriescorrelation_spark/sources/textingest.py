"""Delimited text-tick ingest (SURVEY S1): parse raw tick lines into
typed series records — the Spark reimagining of the reference's line
parser (reference role: Dataset/Dataset.py [pub-med], which read
``name,date,time,value`` feeds into per-series records).

Spark-first shape: one `spark.read.csv` with an explicit schema (no
inference — schema drift fails loudly), or `parse_tick_lines` for feeds
that arrive as raw text (split + to_timestamp, all JVM expressions).
Malformed lines are routed to a quarantine flag instead of dropped
silently — at 100 TB, silent drops are undiagnosable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TICK_SCHEMA = "name string, date string, time string, value double"


def read_ticks_csv(spark: SparkSession, path: str,
                   sep: str = ",") -> DataFrame:
    """Typed CSV tick read -> (series_id, ts, value)."""
    raw = spark.read.csv(path, schema=TICK_SCHEMA, sep=sep, header=False)
    return raw.select(
        F.col("name").alias("series_id"),
        F.to_timestamp(
            F.concat_ws(" ", "date", "time"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts"),
        "value",
    )


def parse_tick_lines(lines: DataFrame, sep: str = ",") -> DataFrame:
    """Raw text lines -> (series_id, ts, value, malformed).

    ``lines`` must have a single ``value`` string column (the
    spark.read.text contract).  A line parses iff it splits into 4
    fields with a valid timestamp and a numeric value; everything else
    is kept with malformed=true for quarantine accounting."""
    parts = F.split(F.col("value"), sep)
    # null-tolerant accessors throughout: ANSI mode (Spark 4 default)
    # raises on malformed input mid-job (bad index, bad cast, bad
    # timestamp); quarantine requires null-on-failure semantics
    ts = F.try_to_timestamp(
        F.concat_ws(" ", F.get(parts, 1), F.get(parts, 2)),
        F.lit("yyyy-MM-dd HH:mm:ss"),
    )
    val = F.get(parts, 3).try_cast("double")
    ok = (
        (F.size(parts) == 4) & ts.isNotNull() & val.isNotNull()
    )
    return lines.select(
        F.get(parts, 0).alias("series_id"),
        ts.alias("ts"),
        val.alias("value"),
        (~ok).alias("malformed"),
    )


TRANSCRIPT_JSONL_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, _corrupt string"
)


def read_transcripts_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL transcript ingest (the other wire format transcripts
    arrive in besides parquet/Iceberg): explicit schema — never
    inference, which at 100 TB means a full extra pass AND silent
    schema drift — with PERMISSIVE corrupt-record quarantine.

    Output = input_hint columns + ``malformed`` boolean; a malformed
    line keeps its raw text in ``_raw`` for diagnosis.  Same
    no-silent-drop policy as parse_tick_lines: at this scale a bad
    producer shard must show up as quarantined rows, not as a
    row-count mystery."""
    raw = spark.read.json(
        path,
        schema=TRANSCRIPT_JSONL_SCHEMA,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]",
    )
    return raw.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        F.col("_corrupt").isNotNull().alias("malformed"),
        F.col("_corrupt").alias("_raw"),
    )
