"""Fixed-point BM25 ranked retrieval (Robertson/Sparck Jones; the
Okapi/Lucene formulation) over the documents table — the missing IR
primitive next to term_salience's tf-idf: given a bag of query terms,
score every matching doc and return a deterministic top-k.

    idf(t)    = ln(1 + (N − df + 0.5)/(df + 0.5))        (Lucene BM25)
    tfn(t, d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    score     = Σ_t idf·tfn

Fixed-point trick: each term's contribution is snapped to integer
micro-units (round(idf·tfn·10⁶) as BIGINT) *before* the per-doc sum,
so the cross-doc aggregation is an exact integer sum — float addition
order (engine-dependent) can never flip a ranking, and the DuckDB
oracle compares bit-for-bit.  ln() is the one libm call in play; both
engines are correctly-rounded to within 1 ulp there, and a 1-ulp slip
only matters if idf·tfn·10⁶ lands exactly on a .5 — measured at
sf0.1: the closest contribution sits 3.4·10⁻⁶ micro-units from a
boundary, ~4 orders of magnitude above the ~4·10⁻¹⁰ a 1-ulp ln drift
can move it, and a flip would be loudly visible in the gate.

Scale notes (100 TB): the terms list is a LITERAL pushed into the
token explode's filter, so the posting set is |terms|-bounded per doc
before any shuffle; df (|terms| rows) and the N/avgdl scalar row are
broadcast; per-doc scores are one hash-agg keyed doc_id; the top-k is
TakeOrderedAndProject (per-partition heaps + driver merge of k), never
a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap
from timeseriescorrelation_spark.operators.dedup import tokenize


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(doc_id, n_terms, score_u): top-k docs by fixed-point BM25 over
    `terms`, ties broken by doc_id ascending.  score_u is the exact
    integer micro-unit score (score_u/10⁶ ≈ the float BM25)."""
    t = tokenize(docs)
    dl = t.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    tf = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    j = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    # expression shapes mirror the oracle SQL token-for-token: each
    # intermediate is one IEEE op on identical operands in both engines
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(k1 + 1.0)) / (
        tfd
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    contrib_u = snap(idf * tfn, 6)
    scored = j.select("doc_id", contrib_u.alias("cu")).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.sum("cu").alias("score_u"),
    )
    return scored.orderBy(F.desc("score_u"), F.asc("doc_id")).limit(int(k))
