"""Output checks against computations that do not share the engine's
code: DuckDB SQL for tiers and driver queries, and exact all-pairs
Pearson for the pruned correlation report.

Each check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

TIER_KEYS = ["conv_id", "metric", "bucket_ts"]
TIER_COLS = TIER_KEYS + ["cnt", "sum", "min", "max", "first", "last"]
_TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}


def duckdb_connect(temp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    return con


def parquet_sql(path: str, ts_col: str = "ts") -> str:
    """SELECT over a Spark-written parquet table (plain, or one level of
    partition directories), with ``ts_col`` as a naive UTC timestamp."""
    files = os.path.join(path, "*.parquet")
    if not glob.glob(files):
        files = os.path.join(path, "*", "*.parquet")
    return (f"SELECT * REPLACE (CAST({ts_col} AS TIMESTAMP) AS {ts_col}) "
            f"FROM read_parquet('{files}', hive_partitioning = false)")


def tier_sql(tier: str, table: str = "series") -> str:
    """A raw-series rollup written independently of the engine: first
    and last follow the (ts, turn_idx) order."""
    return f"""
SELECT conv_id, metric, date_trunc('{_TRUNC[tier]}', ts) AS bucket_ts,
       count(value) AS cnt, sum(value) AS sum,
       min(value) AS min, max(value) AS max,
       first(value ORDER BY ts, turn_idx) AS first,
       last(value ORDER BY ts, turn_idx) AS last
FROM {table}
GROUP BY ALL
"""


def _sorted(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if df[c].dt.tz else df[c]
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(keys).reset_index(drop=True)


def compare_tier(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same buckets; cnt/min/max/first/last exact; sum to 1e-9 relative
    (double sums differ in the last bits with addition order)."""
    got = _sorted(got[TIER_COLS], TIER_KEYS)
    want = _sorted(want[TIER_COLS], TIER_KEYS)
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    problems = []
    for c in TIER_KEYS:
        if not got[c].equals(want[c]):
            problems.append(f"{c} differs")
            return problems
    if not np.array_equal(got["cnt"].astype("int64"),
                          want["cnt"].astype("int64")):
        problems.append("cnt differs")
    for c in ["min", "max", "first", "last"]:
        if not np.array_equal(got[c].to_numpy(float),
                              want[c].to_numpy(float)):
            problems.append(f"{c} differs")
    if not np.allclose(got["sum"].to_numpy(float),
                       want["sum"].to_numpy(float), rtol=1e-9, atol=1e-9):
        problems.append("sum differs")
    return problems


def compare_points(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Equal multisets of (conv_id, metric, ts, value) points."""
    cols = ["conv_id", "metric", "ts", "value"]
    got = _sorted(got[cols], cols)
    want = _sorted(want[cols], cols)
    if len(got) != len(want):
        return [f"points {len(got)} != {len(want)}"]
    if not all(got[c].equals(want[c]) for c in cols):
        return ["decoded points differ"]
    return []


def compare_pairs(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Same (id_a, id_b) pairs, rho to 1e-9."""
    got = got.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    want = want.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    if len(got) != len(want):
        return [f"pairs {len(got)} != {len(want)}"]
    if not (got["id_a"].equals(want["id_a"])
            and got["id_b"].equals(want["id_b"])):
        return ["pair ids differ"]
    if not np.allclose(got["rho"], want["rho"], rtol=0, atol=1e-9):
        return ["rho differs"]
    return []


def _gate_normalize():
    """The driver gate's normalization, from scripts/check_oracle.py."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def compare_oracle(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, sorted column names, order-insensitive exact values —
    the comparison scripts/check_oracle.py makes."""
    normalize = _gate_normalize()
    got, want = normalize(got), normalize(want)
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != {len(want)}")
    if list(got.columns) != list(want.columns):
        problems.append(f"cols {list(got.columns)} != {list(want.columns)}")
    if problems:
        return problems
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a):
            if not np.allclose(a, b, rtol=0, atol=0, equal_nan=True):
                problems.append(f"col {c} differs")
        elif not a.equals(b):
            problems.append(f"col {c} differs")
    return problems
