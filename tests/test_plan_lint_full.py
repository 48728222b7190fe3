"""Full-surface scalability lint (r4 verdict task #4): EVERY
`queries()` key's physical plan passes plans.audit — no
CartesianProduct, no partition-less ordered Window — except an
explicit allowlist of documented sites, each entry carrying its
citation (empty: no key needs one).  The previous lint covered the
bench HEADLINE only, so nothing *proved* the oracle-only global sort
never leaked into a production path; this enumerates all keys.

The scan executes no queries (plans only), but a handful of
driver-paced keys (kmeans/ADF/greedy/markov) run their small pacing
jobs while BUILDING the DataFrame — sf0.001 keeps that cheap
(~3 min for all 430+ keys on local[32]).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as em  # noqa: E402
from timeseriescorrelation_spark.plans.audit import audit_plan  # noqa: E402

SF = "/root/testdata/sf0.001"

# key -> (allowed finding prefix, citation).  Empty: the oracle-mode
# vocabulary ids (operators/dedup.py `shingle_vocab`, textstats
# `doc_fingerprints_vocab`, lm `dsir_weights`) are numbered by
# ranks.global_row_number, so no key needs a partition-less window.
# An entry must cite its site, and must still be load-bearing.
ALLOW: dict[str, tuple[str, str]] = {}

_KEYS = sorted(em.queries())


@pytest.mark.parametrize("key", _KEYS)
def test_query_plan_passes_lint(spark, key):
    df = em.queries()[key](spark, SF)
    findings = audit_plan(df)
    if key in ALLOW:
        prefix, _cite = ALLOW[key]
        leftover = [f for f in findings if not f.startswith(prefix)]
        assert leftover == [], leftover
        # an allowlist entry must still be LOAD-BEARING — if the
        # finding disappears (operator fixed), the entry must go too
        assert findings, f"stale allowlist entry for {key}"
    else:
        assert findings == [], findings


def test_production_mode_dedup_plans_are_clean(spark):
    """The vocab global sort must appear ONLY behind mode='vocab':
    the same operators in production mode (xxhash64 shingle ids —
    what bench.py runs) lint clean."""
    from timeseriescorrelation_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = em._docs(spark, SF)
    for df in (
        minhash_lsh_pairs(docs, n=3, n_hashes=16, bands=8,
                          tau_num=1, tau_den=5, mode="xxhash64"),
        simhash_pairs(docs, n=3, n_bits=32, max_hamming=6,
                      mode="xxhash64"),
    ):
        assert audit_plan(df) == []


def test_allowlist_covers_only_existing_keys():
    missing = [k for k in ALLOW if k not in em.queries()]
    assert missing == []
