"""Timestamp helpers that tolerate both TIMESTAMP and TIMESTAMP_NTZ.

Parquet written by other engines loads as TIMESTAMP_NTZ in Spark 4;
``unix_micros`` only accepts TIMESTAMP.  The session timezone is pinned
to UTC (session.py), so casting NTZ→TIMESTAMP is instant-preserving and
deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def epoch_day(col: Column | str) -> Column:
    """Whole days since 1970-01-01 (UTC), as a long.  The floor of the
    double µs/86400e6 quotient cannot misround: its fractional part
    is ≥ 1 µs/day, far above half an ulp."""
    return F.floor(epoch_us(col) / F.lit(86_400_000_000))


def weekday(col: Column | str) -> Column:
    """Day of week, 0 = Sunday … 6 = Saturday (the weekend is
    ``isin(0, 6)``): ``pmod(epoch_day + 4, 7)``, 1970-01-01 being a
    Thursday.  Integer arithmetic, so every engine agrees."""
    return F.pmod(epoch_day(col) + F.lit(4), F.lit(7))


def const_partition(col: Column | str) -> Column:
    """A zero that Catalyst cannot constant-fold, for Window
    partitionBy on PROVABLY-BOUNDED inputs (day-carry prefixes,
    post-limit rank frames: tens of rows by construction).

    `partitionBy(lit(0))` is folded away by ConstantFolding, leaving
    an empty partition spec — WindowExec then logs "No Partition
    Defined" on every run even though single-partition execution is
    exactly the intended plan.  Deriving the zero from a data column
    (x * 0 via a 64-bit hash) keeps the spec non-foldable: same
    single-partition execution, no misleading warning, and the intent
    ("this window is single-partition BY DESIGN") is explicit at the
    call site."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(1))
