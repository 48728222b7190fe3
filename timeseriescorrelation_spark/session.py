"""SparkSession factory with engine-standard configs.

Local mode here; on a real cluster the same builder is driven by
spark-submit --py-files (BASELINE.json:14) and master/memory come from
the submit environment.
"""

from __future__ import annotations

import os
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType, TimestampType


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "timeseriescorrelation_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    - AQE on (runtime coalesce + skew-join splitting).
    - UTC session timezone (DuckDB-oracle comparability).
    - Arrow enabled for all pandas-UDF / toPandas paths.
    - shuffle.partitions sized to cores, not the 200 default.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # collect_list/collect_set aggs (the chunk encoder's
        # sort_array(collect_list) shape) run on ObjectHashAggregate,
        # whose default fallback flips to SORT-BASED aggregation after
        # only 128 distinct in-memory groups — re-introducing the
        # O(n log n) per-partition sort the aggregate shape exists to
        # avoid.  Buffered state is bounded by the partition's rows
        # (tens of MB at protocol scale), so a 64k-group map is safe
        .config("spark.sql.objectHashAggregate.sortBased."
                "fallbackThreshold", "65536")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # INT96 (the legacy default) writes NO parquet min/max stats,
        # which blinds manifest-level file skipping (snapshots.scan_plan)
        # and every other engine's row-group pruning on ts columns
        .config("spark.sql.parquet.outputTimestampType",
                "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_partition_count(spark: SparkSession) -> int:
    """`spark.sql.shuffle.partitions` as an int, falling back to
    `sparkContext.defaultParallelism` when the conf value is
    non-numeric — 'auto' is a legal value under AQE auto partition
    sizing, and int('auto') would crash plan construction for the
    operators that pin an explicit repartition count."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A DataFrame of driver-built ``rows`` (tuples in ``schema`` order;
    ``schema`` a StructType or a DDL string), sent to the JVM as one
    Arrow table.  ``createDataFrame(rows, schema)`` would pickle the
    rows through a ``PythonRDD`` map, a Python worker task per call.

    Timestamps are converted to UTC first, so either path stores the
    same instant: as on the pickled path, a naive ``datetime`` is the
    Python process's local time (Arrow would read it in the session
    zone), and an aware one keeps its offset (Arrow would drop it)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = [list(c) for c in zip(*rows)] or [[] for _ in schema.fields]
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, TimestampType):
            cols[i] = [None if v is None else v.astimezone(timezone.utc)
                       for v in cols[i]]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def cache_once(df):
    """`df.cache()` unless an equivalent plan is already cached —
    `storageLevel` consults the CacheManager by logical plan, so a
    second query that rebuilds the same lineage (the corr family's
    shared sketch vectors) reuses the existing cache entry instead of
    re-marking it (which logs `CacheManager: Asked to cache already
    cached data` — r4 verdict hygiene item #3)."""
    sl = df.storageLevel
    return df if (sl.useMemory or sl.useDisk) else df.cache()
