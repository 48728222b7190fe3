"""Build a deterministic sf1 stress fixture (10x sf0.1) for the
round-5 scale-stress bench (r4 verdict task #6): every bounded-n
operator documents a cap, but none had been RUN above sf0.1 — this
fixture gives the first empirical read on which caps actually bind.

No external data (graft rule): sf1 is derived from the driver's own
seeded sf0.1 parquet by KEY-SHIFTED 10x replication — each replica i
offsets every primary/foreign key by i*STRIDE consistently, so joins
stay referentially intact, per-key series keep their sf0.1 length
(the time window is the same 30 days), and the ENTITY axes grow 10x:
10x users (user-pair joins face 100x the pair space), 10x docs (dedup
candidate graphs with dense exact-dup clusters — each doc gains 9
exact replicas, an adversarial-but-realistic shape for the dedup
family), 10x orders/lineitems.  Replication is deterministic (no RNG
at all) and idempotent (skips tables whose output exists).

Usage:  python scripts/make_sf1.py [out_dir]   # default /tmp/testdata_sf1
Then:   SPARK_GRAFT_SF_DIR=/tmp/testdata_sf1 python bench.py
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/testdata_sf1"
REPLICAS = 10

# per-table key columns to offset, with a stride comfortably past the
# sf0.1 max of each key domain (keys stay BIGINT, no collisions).
# __spark_entry__.py casts event_id to an int32 turn_idx, so the largest
# shifted id (REPLICAS - 1) * stride + 99_999 must stay below 2**31.
SHIFTS: dict[str, dict[str, int]] = {
    "events": {"event_id": 10**6, "user_id": 10**6},
    "documents": {"doc_id": 10**7},
    "embeddings": {"vec_id": 10**7},
    "customer": {"c_custkey": 10**6},
    "supplier": {"s_suppkey": 10**5},
    "part": {"p_partkey": 10**6},
    "orders": {"o_orderkey": 10**8, "o_custkey": 10**6},
    "lineitem": {
        "l_orderkey": 10**8, "l_partkey": 10**6, "l_suppkey": 10**5,
    },
    # small dims replicate 1x (join targets must stay unique)
    "region": {},
    "nation": {},
}


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for table, shifts in SHIFTS.items():
        src = f"{SRC}/{table}.parquet"
        dst = f"{OUT}/{table}.parquet"
        if not os.path.exists(src) or os.path.exists(dst):
            continue
        if not shifts:  # dimension table: copy as-is
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}'"
                " (FORMAT parquet)"
            )
            print(f"{table}: copied dim")
            continue
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')"
        ).fetchall()]
        sel = ", ".join(
            f"{c} + r.i * {shifts[c]} AS {c}" if c in shifts else c
            for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} FROM read_parquet('{src}'), "
            f"range({REPLICAS}) AS r(i) ORDER BY r.i) "
            f"TO '{dst}' (FORMAT parquet)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
        print(f"{table}: {n} rows")


if __name__ == "__main__":
    main()
