"""Persistent PQ ANN index — the build-once / probe-many split that
makes the PQ family production-shaped: `ann_pq`-style queries retrain
codebooks and re-encode the corpus per invocation (fine for a gate
query, wrong for a serving path).  Here the index is two parquet
tables under one root —

    <path>/codebooks/   (block, cell, c double[])     — metadata-sized
    <path>/codes/       (vec_id, codes int[])         — m ints per vec

— and a query is pq_topk_adc with both precomputed inputs: zero
training jobs, zero float-corpus reads outside the refine lookups.

Refreshing after corpus growth is a rebuild of `codes/` only (the
codebook is sample-trained and stays valid until the distribution
drifts — monitor with centroid_drift); `mode="overwrite"` keeps the
swap atomic per directory.

Scale notes (100 TB): codes/ is ~m bytes per vector (the 32× PQ
compression), written partitioned like any tier table; the probe path
reads ONLY codes/ + the broadcast codebooks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from timeseriescorrelation_spark.operators.similarity import (
    pq_codebooks,
    pq_encode,
    pq_topk_adc,
)


def build_pq_index(emb: DataFrame, path: str, m: int = 16, ksub: int = 32,
                   n_iter: int = 2, dim: int | None = None) -> None:
    """Train codebooks (bounded-sample, driver-side) and encode the
    corpus; persist both under `path`."""
    cb = pq_codebooks(emb, m=m, ksub=ksub, n_iter=n_iter, dim=dim)
    cb.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    cb_back = emb.sparkSession.read.parquet(
        os.path.join(path, "codebooks")
    )
    codes = pq_encode(emb, cb_back, m=m, dim=dim)
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))


def load_pq_index(spark: SparkSession, path: str) -> tuple[DataFrame,
                                                           DataFrame]:
    """(codebooks, codes) read back from a built index root."""
    return (
        spark.read.parquet(os.path.join(path, "codebooks")),
        spark.read.parquet(os.path.join(path, "codes")),
    )


def pq_index_topk(emb: DataFrame, queries: DataFrame, path: str, k: int = 10,
                  m: int = 16, ksub: int = 32, refine: int = 0) -> DataFrame:
    """ADC top-k against a PERSISTED index: no training, no corpus
    re-encode — the serving path.  `emb` is consulted only for the
    refine re-rank's float lookups (and not at all when refine=0)."""
    cb, codes = load_pq_index(emb.sparkSession, path)
    return pq_topk_adc(emb, queries, k=k, m=m, ksub=ksub,
                       codebooks=cb, codes=codes, refine=refine)
