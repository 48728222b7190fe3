"""The driver contract's key set, pinned.

A query key is declared once, by its `q_<key>` builder in
`__spark_entry__.py`; `queries()` is derived from those functions. The
hashes below were taken from the hand-written 434-entry `queries()`
dict and its `oracle_sql()` before the derivation, so any change to the
key set (a stray `q_*` helper, a renamed builder) or to an oracle's SQL
fails here.
"""

from __future__ import annotations

import hashlib
import itertools

import __spark_entry__ as entrymod
import bench

N_KEYS = 434
KEYS_SHA256 = (
    "b7ef428aaff80b8402d57361ec5804d77730c687292d38cae85b9dd55ab17362"
)
ORACLES_SHA256 = (
    "4dd7ed377c7ff8c8de43cd1753e17dd5b55e91a533edcc6bb6afb8cdb48c74a9"
)


def test_key_set_is_pinned():
    keys = sorted(entrymod.queries())
    assert len(keys) == N_KEYS
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    assert digest == KEYS_SHA256


def test_oracle_sql_is_pinned():
    h = hashlib.sha256()
    for key, sql in sorted(entrymod.oracle_sql().items()):
        h.update(key.encode() + b"\0" + sql.encode() + b"\0")
    assert h.hexdigest() == ORACLES_SHA256


def test_every_key_is_built_by_q_key():
    bad = {k: f.__name__ for k, f in entrymod.queries().items()
           if f.__name__ != "q_" + k}
    assert not bad


def test_bench_cohorts_are_disjoint_query_keys():
    keys = set(entrymod.queries())
    cohorts = {"r02": bench.HEADLINE, "r03": bench.HEADLINE_R3,
               "r04": bench.HEADLINE_R4, "r05": bench.HEADLINE_R5}
    for name, cohort in cohorts.items():
        assert len(set(cohort)) == len(cohort), name
        assert set(cohort) <= keys, (name, sorted(set(cohort) - keys))
    for (a, ca), (b, cb) in itertools.combinations(cohorts.items(), 2):
        assert not set(ca) & set(cb), (a, b, sorted(set(ca) & set(cb)))


def test_cohort_totals_keep_the_bench_json_keys():
    names = [n for c in bench.COHORTS.values() for n in c]
    timings = {n: 0.5 + i for i, n in enumerate(names)}
    got = bench.cohort_totals(timings)
    assert list(got) == [
        "frozen_r02_total", "r3_additions_total", "frozen_r03_total",
        "r4_additions_total", "frozen_r04_total", "r5_additions_total",
        "frozen_r05_total",
    ]
    assert got["r3_additions_total"] == round(
        sum(timings[n] for n in bench.HEADLINE_R3), 3)
    assert got["frozen_r04_total"] == round(
        sum(timings[n] for n in
            bench.HEADLINE + bench.HEADLINE_R3 + bench.HEADLINE_R4), 3)
    assert got["frozen_r05_total"] == round(sum(timings.values()), 3)
