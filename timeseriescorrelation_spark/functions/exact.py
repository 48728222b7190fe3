"""The exact-arithmetic kit: the one place that states how the engine
keeps its statistics bit-equal to the DuckDB oracle.

The rule, followed by every exact statistic (Pearson, covariance, OLS,
CCC, DiD, ACF, ...):

1. **Snap** each value to integer units once — ``snap(x, d)`` rounds
   ``x·10ᵈ`` half away from zero to a long (Spark ``F.round`` and
   DuckDB ``round`` agree; numpy's ``rint`` is half-even, hence
   `snap_np`).  Values snap to the one grid `VALUE_DECIMALS` (cents,
   ``SCALE`` units per value unit) — the grid behind the oracles'
   ``round(value * 100)``.
2. **Widen** integer units to decimal(38,0) — DuckDB's hugeint —
   BEFORE any product or sum that can leave int64: ``wide(x) *
   wide(y)``, never ``(x * y)`` cast afterwards (that multiplies in
   int64 and overflows past ~3·10⁹ per factor).
3. **Divide once**, in double, at the end — over sums both engines
   computed as the same exact integers.

All of these statistics are sum-product functions of one moment vector
(SPORES, VLDB 2020), so `moments` folds it and `co_moment` forms the
n·Σab − Σa·Σb numerator that callers divide.  Most of them read the
calendar-bucketed cent series `bucket_cents` builds.

The numpy twins (`snap_np`, `wide_np`, `narrow`) serve the streaming
kernels, which run the same integer arithmetic per micro-batch: numpy
wraps int64 silently where Spark ANSI mode raises, so a kernel whose
products can leave int64 widens to Python integers first and narrows
its long state through the overflow check.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WIDE = "decimal(38,0)"
VALUE_DECIMALS = 2
SCALE = 10 ** VALUE_DECIMALS
_I64 = 1 << 63


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def snap(expr: Column | str, decimals: int = 0) -> Column:
    """``expr · 10^decimals`` rounded half away from zero, as a long."""
    x = _col(expr)
    if decimals:
        x = x * F.lit(10 ** int(decimals))
    return F.round(x).cast("long")


def bucket_cents(series: DataFrame, keys: list, grain: str) -> DataFrame:
    """``(*keys, <grain>_ts, y)``: the cent series, ``y`` = the long
    Σ snap(value, VALUE_DECIMALS) per ``(keys, date_trunc(grain, ts))``.
    ``keys`` holds column names or (aliased) Columns."""
    return series.groupBy(
        *keys, F.date_trunc(grain, "ts").alias(f"{grain}_ts")
    ).agg(F.sum(snap("value", VALUE_DECIMALS)).alias("y"))


def wide(expr: Column | str) -> Column:
    """``expr`` as decimal(38,0): the accumulator type of every exact
    sum and product."""
    return _col(expr).cast(WIDE)


def moments(x: Column | str, y: Column | str | None = None, *,
            names: str | None = None) -> list[Column]:
    """The widened moment aggregates of ``x`` (and ``y``): n, Σx, Σy,
    Σx², Σy², Σxy — or n, Σx, Σx² without ``y``.

    ``names`` lists the output aliases in that order, space-separated
    (default ``"n sx sy sxx syy sxy"`` / ``"n sx sxx"``); a ``-``
    drops that moment."""
    wx = wide(x)
    if y is None:
        terms = [wide(F.count(F.lit(1))), F.sum(wx), F.sum(wx * wx)]
        names = names or "n sx sxx"
    else:
        wy = wide(y)
        terms = [
            wide(F.count(F.lit(1))), F.sum(wx), F.sum(wy),
            F.sum(wx * wx), F.sum(wy * wy), F.sum(wx * wy),
        ]
        names = names or "n sx sy sxx syy sxy"
    return [
        t.alias(a) for t, a in zip(terms, names.split(), strict=True)
        if a != "-"
    ]


def co_moment(n: Column | str, sa: Column | str, sb: Column | str,
              sab: Column | str) -> Column:
    """n·Σab − Σa·Σb, exact over widened moments: the co-moment (the
    variance numerator when a = b) that Pearson, covariance and OLS
    divide."""
    return _col(n) * _col(sab) - _col(sa) * _col(sb)


def idiv(a: Column | str, b: Column | str) -> Column:
    """a DIV b over integers (widened or not): the quotient truncated
    toward zero, as a long."""
    return F.call_function("div", _col(a), _col(b))


def snap_np(vals: np.ndarray, decimals: int) -> np.ndarray:
    """numpy twin of `snap`: ``vals · 10^decimals`` rounded half away
    from zero, as int64."""
    x = vals * 10 ** int(decimals)
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(
        np.int64
    )


def wide_np(a: np.ndarray) -> np.ndarray:
    """numpy twin of `wide`: int64 → Python integers (object dtype), so
    products and running sums stay exact instead of wrapping."""
    return np.asarray(a, dtype=np.int64).astype(object)


def narrow(x: int) -> int:
    """A widened integer back into a long (a kernel's state field),
    raising OverflowError outside int64 — the twin of ANSI mode's
    ARITHMETIC_OVERFLOW, where storing it would wrap silently."""
    if not -_I64 <= x < _I64:
        raise OverflowError(f"{x} does not fit a long")
    return int(x)
