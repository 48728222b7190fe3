"""Engine code numbers rows over a global order only through
`ranks.global_row_number`.  A `Window.orderBy(...)` with no partition
spec moves every row to one task and logs "No Partition Defined for
Window operation!"; the two-pass rank gives the same 1-based ids over
a distinct, totally ordered key without it."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RANKS = ROOT / "timeseriescorrelation_spark" / "operators" / "ranks.py"


def _engine_files():
    yield ROOT / "__spark_entry__.py"
    for p in sorted((ROOT / "timeseriescorrelation_spark").rglob("*.py")):
        if p != RANKS:
            yield p


def test_no_partitionless_window_order_outside_ranks():
    hits = []
    for path in _engine_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "orderBy"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "Window"):
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not hits, hits
