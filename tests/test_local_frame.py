"""Driver-built rows reach the JVM as Arrow (``session.local_frame``):
no Python worker runs, and the stored rows equal the pickled path's."""

from __future__ import annotations

import ast
import os
import time
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest

from timeseriescorrelation_spark.schemas import manifest_schema
from timeseriescorrelation_spark.session import local_frame

PKG = Path(__file__).resolve().parents[1] / "timeseriescorrelation_spark"


def test_only_local_frame_calls_create_dataframe():
    """A list-fed ``createDataFrame`` pickles its rows through a Python
    worker; every driver-built frame goes through ``local_frame``."""
    root = PKG.parent
    hits = []
    for p in [*sorted(PKG.rglob("*.py")), root / "__spark_entry__.py"]:
        tree = ast.parse(p.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if (p.name == "session.py" and isinstance(fn, ast.FunctionDef)
                    and fn.name == "local_frame"):
                allowed |= set(ast.walk(fn))
        hits += [
            f"{p.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and getattr(n.func, "attr", None) == "createDataFrame"
            and n not in allowed
        ]
    assert not hits, "createDataFrame outside local_frame:\n" + "\n".join(hits)


def _manifest_rows(now):
    return [
        ("r", "agg_1m", str(p), 10 + p, p, format(p, "x"),
         {"points_out": p}, now)
        for p in range(5)
    ]


@pytest.mark.parametrize("rows", [
    _manifest_rows(datetime(2024, 5, 1, 12, tzinfo=timezone.utc)), [],
], ids=["manifest", "empty"])
def test_local_frame_runs_no_python_worker(spark, rows):
    df = local_frame(spark, rows, manifest_schema())
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert df.schema == manifest_schema()
    assert df.count() == len(rows)


@pytest.fixture
def new_york_tz():
    """The Python process's local zone set to one that is not UTC (the
    session zone), restored afterwards."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_local_frame_rows_equal_the_pickled_path(spark, new_york_tz):
    """Naive datetimes are local time on both paths; aware ones keep
    their instant.  A DDL schema and nested types round-trip too."""
    naive = datetime(2024, 5, 1, 12, 30, 15, 250)
    aware = datetime(2024, 11, 3, 5, 30, tzinfo=timezone(timedelta(hours=2)))
    cases = [
        (_manifest_rows(naive) + _manifest_rows(aware), manifest_schema()),
        ([("a", naive, 1.5, [1.0, 2.0]), ("b", None, None, None)],
         "k string, t timestamp, v double, c array<double>"),
    ]
    for rows, schema in cases:
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        # the stored instants, read in the session zone
        as_text = [f"cast({c} as string)" for c in got.columns]
        assert (got.selectExpr(*as_text).collect()
                == want.selectExpr(*as_text).collect())
