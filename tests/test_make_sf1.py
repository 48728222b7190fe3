"""scripts/make_sf1.py key strides: replicated event ids must still fit
the int32 turn_idx that __spark_entry__.py casts them to."""

from __future__ import annotations

import importlib.util
from pathlib import Path

SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "make_sf1.py"


def test_event_id_stride_fits_int32_turn_idx():
    spec = importlib.util.spec_from_file_location("make_sf1", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # __main__-guarded: builds nothing
    # 99_999 is the sf0.1 maximum event_id
    stride = mod.SHIFTS["events"]["event_id"]
    assert (mod.REPLICAS - 1) * stride + 99_999 < 2**31
