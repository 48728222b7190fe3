"""Engine code caches only through `session.cache_once`, which skips a
plan the CacheManager already holds instead of re-marking it (and
logging "Asked to cache already cached data")."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _engine_files():
    yield ROOT / "__spark_entry__.py"
    for p in sorted((ROOT / "timeseriescorrelation_spark").rglob("*.py")):
        if p.name != "session.py":
            yield p


def test_no_raw_cache_calls_outside_session():
    hits = []
    for path in _engine_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "cache"):
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not hits, hits
