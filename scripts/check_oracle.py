"""Local replica of the driver's correctness gate: run every
queries()[k] on Spark and oracle_sql()[k] on DuckDB at a given sf dir,
compare row count, sorted column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [key ...]

Prints one OK/FAIL/SKIP line per key, then the totals as
`OK n / FAIL n / SKIP n`.  Each OK and SKIP line ends in `fp=<hex>`, a
short sha256 of Spark's normalized frame (column names, dtypes and the
multiset of rows), so two runs' logs can be diffed to show the same
schema and rows per key, the rows-only keys included.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from timeseriescorrelation_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _canon(v):
    """Arrays as tuples (numpy's repr elides long ones) and numpy scalars
    as Python ones, whose repr round-trips exactly."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v.item() if isinstance(v, np.generic) else v


def fingerprint(df: pd.DataFrame) -> str:
    """Short sha256 over a normalized frame: its column names and dtypes,
    then the reprs of its canonical rows, sorted (row order is not
    part of the result)."""
    head = repr([(c, str(t)) for c, t in df.dtypes.items()])
    rows = sorted(repr(tuple(_canon(v) for v in r))
                  for r in df.itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([head, *rows]).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    passed = skipped = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check) rows={len(got)}"
                  f" fp={fingerprint(got)}")
            skipped += 1
            continue
        try:
            want = normalize(con.sql(oracles[name]).df())
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        if list(got.columns) != list(want.columns):
            problems.append(f"cols {list(got.columns)} != {list(want.columns)}")
        if not problems:
            for c in got.columns:
                a, b = got[c], want[c]
                if pd.api.types.is_float_dtype(a):
                    ok = np.allclose(a, b, rtol=0, atol=0, equal_nan=True)
                    if not ok:
                        mx = float(np.nanmax(np.abs(a.to_numpy() - b.to_numpy())))
                        problems.append(f"col {c} max|Δ|={mx:g}")
                else:
                    if not a.equals(b):
                        problems.append(f"col {c} differs")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"OK   {name}: rows={len(got)} fp={fingerprint(got)}")
            passed += 1

    entrymod.clear_graph_cache()  # release session-pinned graphs
    spark.stop()
    print(f"OK {passed} / FAIL {len(failures)} / SKIP {skipped}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
