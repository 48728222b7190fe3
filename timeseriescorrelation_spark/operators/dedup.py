"""Document deduplication operators for the training-data pipeline:
exact (hash groupBy), n-gram Jaccard (inverted-index self-join),
MinHash+LSH (shingle -> minhash -> band -> bucket-join), and SimHash.

All shingling is word n-grams over whitespace tokens.  Two hash modes:

- ``vocab`` (oracle mode, default in the driver queries): shingle ids are
  ranks in the sorted distinct-shingle vocabulary and every hash is the
  affine family  h_j(x) = (A_j * x + B_j) mod P  (P = 2^31 - 1).  Pure
  integer arithmetic -> bit-identical replication in ANSI SQL, so the
  DuckDB oracle can run the *same* LSH pipeline and the match is exact.
- ``xxhash64`` (scale mode): shingle ids come straight from
  ``F.xxhash64`` — no vocabulary build (which needs a global sort /
  dense-rank over the distinct-shingle set; fine at test scale, an
  unnecessary shuffle at 100 TB).

Scale notes (100 TB): the shingle explode is the dominant row count
(~n_tokens rows per doc); everything downstream is hash-agg with
map-side partial aggregation on doc_id, then the LSH band join touches
only candidate buckets.  The exact n-gram path (``ngram_jaccard_pairs``)
self-joins the inverted index — that is quadratic in bucket size and is
the small-scale/verification path; MinHash-LSH is the scale path.

Reference parity: the reference has no dedup (it is a correlation
engine); these operators are the training-data-pipeline extension
mandated by the build brief, built on the same bucket-join pruning shape
as its e-grid candidate join (SURVEY §2.3 J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap, wide
from timeseriescorrelation_spark.operators.ranks import global_row_number

P31 = (1 << 31) - 1  # Mersenne prime 2^31-1, the affine-hash modulus

# legacy small constants (kept for the positional fingerprint, where
# min-wise mixing doesn't matter — it's a sum, not a min)
A_MUL = 7919
B_ADD = 12345

# MinHash/SimHash affine family h_j(x) = (A_J[j]*x + B_J[j]) mod P31.
# The multipliers MUST be large enough that A*x wraps mod P for small x:
# with small A (e.g. 7919*(j+1)) and dense small ids, A*x < P for every
# x, so argmin_x is the same x for every j and all 16 "hashes" collapse
# into one (observed: signatures formed exact arithmetic sequences).
# Knuth-multiplier-derived constants keep products < 2^62 (int64-safe
# in both Spark and DuckDB).
_KNUTH = 2654435761
A_J = [(_KNUTH * (2 * j + 1)) % P31 for j in range(64)]
B_J = [(_KNUTH * (j + 17) + 912367) % P31 for j in range(64)]


def tokenize(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> (id, toks array<string>) lowercase whitespace tokens."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("toks"),
    )


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """(id, text) -> distinct (doc_id, shingle) word n-grams."""
    t = tokenize(docs, text_col, id_col)
    # Guard short docs: sequence(1, 0) is DESCENDING [1,0] in Spark, and
    # element_at(toks, 0) then throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT.
    # Docs with < n tokens produce an empty index array instead; explode
    # of the empty array drops the doc, matching the oracle's empty
    # generate_series(1, 0).
    idx = F.when(
        F.size("toks") >= n,
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("toks", i + j) for j in range(n)]
        ),
    )
    # per-doc dedup happens INSIDE the row (array_distinct on the
    # shingle array) — a .distinct() after the explode would shuffle
    # every (doc_id, shingle) string across the cluster for a result
    # that is already per-row computable (measured: the distinct was
    # the single most expensive stage of every dedup query at sf0.1)
    return t.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def shingle_vocab(sh: DataFrame) -> DataFrame:
    """Distinct shingles ranked 1..V in sort order (oracle-replicable ids).

    Distributed global rank over the distinct-shingle set (no
    single-partition window) — test/oracle mode only; the scale path
    uses xxhash64 ids (no vocabulary)."""
    vocab, _ = global_row_number(
        sh.select("shingle").distinct(), ["shingle"], "tid"
    )
    return vocab


def shingle_ids(sh: DataFrame, mode: str = "vocab") -> DataFrame:
    """(doc_id, shingle) -> (doc_id, tid long)."""
    if mode == "xxhash64":
        return sh.select(
            "doc_id", F.pmod(F.xxhash64("shingle"), F.lit(P31)).alias("tid")
        )
    vocab = shingle_vocab(sh)
    return sh.join(F.broadcast(vocab), "shingle").select("doc_id", "tid")


def _affine(j: int, x):
    """h_j(x) = (A_J[j]*x + B_J[j]) mod P — A_J[j]*x < 2^62, int64-safe."""
    return (x * F.lit(A_J[j]) + F.lit(B_J[j])) % F.lit(P31)


def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: md5 groupBy -> (text_hash, n_dups, keeper_id).

    keeper_id = min id per group; at scale this is one hash-agg shuffled
    on the 128-bit digest (uniform keys, no skew)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, min_inter: int = 2,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_df: int | None = None) -> DataFrame:
    """Exact pairwise n-gram Jaccard via inverted-index self-join.

    Output (id_a, id_b, inter_n, union_n) for pairs sharing >= min_inter
    shingles; Jaccard = inter_n/union_n kept rational (no floats) so the
    oracle compare is exact.  Quadratic in posting-list length — the
    verification-scale path (MinHash-LSH is the scale path).

    ``max_df`` (scale guard, off by default): drop shingles whose
    document frequency exceeds the cap BEFORE the self-join (the
    stop-shingle list).  One boilerplate shingle in 10^5 docs makes a
    10^10-pair posting-list otherwise; capped runs compute inter_n over
    the surviving shingles only (a df-capped Jaccard, like every
    production stop-word-filtered index — doc sizes stay full, so the
    score is a lower bound of true Jaccard)."""
    sh = shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle", "left_semi")
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter_n"))
        .where(F.col("inter_n") >= min_inter)
    )
    sa = F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                  F.col("sz").alias("sz_a")))
    sb = F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                  F.col("sz").alias("sz_b")))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b", "inter_n",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter_n"))
            .alias("union_n"),
        )
    )


def minhash_signatures(ids: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(doc_id, tid) -> (doc_id, h0..h{n-1}) min over the affine family.

    One hash-agg: n_hashes mins per group, all whole-stage codegen."""
    aggs = [
        F.min(_affine(j, F.col("tid"))).alias(f"h{j}")
        for j in range(n_hashes)
    ]
    return ids.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame, n_hashes: int = 16,
                        bands: int = 4,
                        max_bucket: int | None = None) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band (J1 shape).

    rows-per-band = n_hashes/bands; a pair collides iff one full band
    matches.  The join is a pure equi-join on (band_idx, band values).

    ``max_bucket`` (scale guard, off by default): drop buckets holding
    more than this many docs before the self-join.  One boilerplate
    template shared by 10^6 docs otherwise creates a single bucket
    emitting 10^12 candidate pairs — the classic LSH skew blowup.
    Docs losing a hot band still collide on their other bands, and
    exact-duplicate boilerplate is T1 exact-dedup's job anyway; the
    guard trades recall only on near-dups whose EVERY matching band is
    hot."""
    rows = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.array(
                    *[F.col(f"h{b * rows + r}") for r in range(rows)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select("doc_id", "bk.band_idx", "bk.key")
    if max_bucket is not None:
        w_cnt = (
            banded.groupBy("band_idx", "key")
            .agg(F.count("*").alias("_bn"))
            .where(F.col("_bn") <= max_bucket)
            .select("band_idx", "key")
        )
        banded = banded.join(w_cnt, ["band_idx", "key"], "left_semi")
    a = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "key")
    b = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "key")
    return (
        a.join(b, ["band_idx", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, n_hashes: int = 16,
                      bands: int = 4, tau_num: int = 1, tau_den: int = 5,
                      mode: str = "vocab", text_col: str = "text",
                      id_col: str = "doc_id",
                      max_bucket: int | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> signature -> band
    bucket-join -> exact Jaccard verify at tau = tau_num/tau_den.

    Output (id_a, id_b, inter_n, union_n): candidate pairs whose exact
    Jaccard >= tau (integer cross-multiply — no float compare).  The
    verify joins candidates back to shingle-id sets collected per doc
    (broadcast at test scale; sort-merge on doc_id at 100 TB)."""
    sh = shingles(docs, n, text_col, id_col)
    ids = shingle_ids(sh, mode)
    cand = lsh_candidate_pairs(
        minhash_signatures(ids, n_hashes), n_hashes, bands, max_bucket
    )
    sets = ids.groupBy("doc_id").agg(
        F.collect_set("tid").alias("tids"), F.count("*").alias("sz")
    )
    sa = sets.select(F.col("doc_id").alias("id_a"),
                     F.col("tids").alias("t_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"),
                     F.col("tids").alias("t_b"), F.col("sz").alias("sz_b"))
    verified = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("t_a", "t_b")).alias("inter_n"),
            (F.col("sz_a") + F.col("sz_b")).alias("sum_sz"),
        )
        .select(
            "id_a", "id_b", "inter_n",
            (F.col("sum_sz") - F.col("inter_n")).alias("union_n"),
        )
    )
    return verified.where(
        F.col("inter_n") * F.lit(tau_den) >= F.col("union_n") * F.lit(tau_num)
    )


def simhash_fingerprints(docs: DataFrame, n: int = 3, n_bits: int = 32,
                         mode: str = "vocab", text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(doc) -> (doc_id, fp) n_bits SimHash over shingle-id hashes.

    bit b of fp = sign of sum over shingles of (+1 if bit b of
    g(tid) else -1), g = affine hash 0.  Shaped as ONE wide hash-agg:
    n_bits conditional-sum columns per doc — no (doc, bit) row
    explosion (the earlier explode form multiplied the shingle rows by
    n_bits before the shuffle; this shuffles only |docs| x n_bits agg
    buffers and keeps every expression in codegen)."""
    sh = shingles(docs, n, text_col, id_col)
    ids = shingle_ids(sh, mode).select(
        "doc_id", _affine(0, F.col("tid")).alias("g")
    )
    bit_sums = ids.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("g"), b).bitwiseAND(1) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    fp = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.cast("long").alias("fp"))


def simhash_pairs(docs: DataFrame, n: int = 3, n_bits: int = 32,
                  max_hamming: int = 6, mode: str = "vocab",
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup pairs: block on each of 4 bytes of the
    fingerprint (a pair within hamming<=6 of a 32-bit fp shares at least
    one exact byte when differing bits spread over <4 bytes — standard
    SimHash blocking), then exact hamming via bit_count(xor)."""
    fp = simhash_fingerprints(docs, n, n_bits, mode, text_col, id_col)
    nbytes = n_bits // 8
    blocks = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("fp"), 8 * i)
                        .bitwiseAND(255)
                        .alias("byte"),
                    )
                    for i in range(nbytes)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "fp", "b.blk", "b.byte")
    a = blocks.select(F.col("doc_id").alias("id_a"),
                      F.col("fp").alias("fp_a"), "blk", "byte")
    b = blocks.select(F.col("doc_id").alias("id_b"),
                      F.col("fp").alias("fp_b"), "blk", "byte")
    return (
        a.join(b, ["blk", "byte"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 3) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least one word n-gram with any benchmark document — the n-gram
    overlap rule used to scrub eval sets out of LLM training corpora
    (GPT-3 App. C / LLaMA style, with word-shingle granularity).

    Returns (doc_id, n_overlap) for contaminated corpus docs only,
    where n_overlap counts the DISTINCT benchmark-overlapping shingles
    of that doc (shingles() already emits per-doc-distinct rows).

    Scale note (100 TB corpus): the benchmark side is eval suites —
    thousands of docs, not billions — so its distinct shingle set is
    broadcast and the corpus side is a single scan + in-row shingling
    + broadcast hash semi-join: the corpus is never shuffled.  If the
    benchmark ever outgrew broadcast size, drop the F.broadcast hint
    and Catalyst falls back to a shuffle join on the shingle key.
    """
    bench_sh = shingles(benchmark, n=n).select("shingle").distinct()
    corpus_sh = shingles(docs, n=n)
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def incremental_minhash_dedup(batch: DataFrame, corpus: DataFrame,
                              n: int = 3, n_hashes: int = 16,
                              bands: int = 8, tau_num: int = 1,
                              tau_den: int = 5, mode: str = "vocab",
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              max_bucket: int | None = None) -> DataFrame:
    """Continuous-ingest near-dup gate: score every BATCH (new) doc
    against the existing CORPUS only — the band join is batch-bands ⋈
    corpus-bands, never a self-join, so a daily increment probes the
    standing index at O(|batch|·bands) lookup rows instead of re-
    running all-pairs LSH over corpus ∪ batch (the T3 pipeline's
    shape, which re-pays the corpus quadratically every ingest).

    Output: ONE row per batch doc —
      (doc_id, n_shingles, n_dup_matches, first_match_id)
    where n_dup_matches counts corpus docs whose exact Jaccard with
    this doc is >= tau (integer cross-multiply verify, same rule as
    minhash_lsh_pairs) and first_match_id is the smallest matching
    corpus id (deterministic witness; NULL when clean).  Clean docs
    (n_dup_matches = 0) stay in the output — they ARE the ingest
    decision.

    mode="xxhash64" is the production path: shingle ids are corpus-
    independent, so corpus signatures/bands are computed once,
    persisted, and only probed here.  mode="vocab" (oracle/test) must
    rank the shingle vocabulary over corpus ∪ batch so both sides
    share one id space.

    Scale notes (100 TB corpus, daily batches): corpus bands are a
    precomputed table bucketed on (band_idx, key) — the probe is a
    bucket-local equi-join; `max_bucket` caps boilerplate-hot corpus
    buckets exactly like lsh_candidate_pairs; the verify joins tid
    SETS for candidate docs only (batch-sized left side)."""
    b_docs = batch.select(F.col(id_col).alias("doc_id"), text_col)
    c_docs = corpus.select(F.col(id_col).alias("doc_id"), text_col)
    b_sh = shingles(b_docs, n, text_col)
    c_sh = shingles(c_docs, n, text_col)
    if mode == "vocab":
        # one shared id space: vocab over corpus ∪ batch (test/oracle
        # mode only — the scale path hashes and never builds a vocab)
        vocab = shingle_vocab(b_sh.unionByName(c_sh))
        b_ids = b_sh.join(F.broadcast(vocab), "shingle").select(
            "doc_id", "tid"
        )
        c_ids = c_sh.join(F.broadcast(vocab), "shingle").select(
            "doc_id", "tid"
        )
    else:
        # hash ids are content-derived — each side stands alone, which
        # is exactly what lets the corpus index persist across ingests
        b_ids = shingle_ids(b_sh, mode)
        c_ids = shingle_ids(c_sh, mode)
    b_sig = minhash_signatures(b_ids, n_hashes)
    c_sig = minhash_signatures(c_ids, n_hashes)

    rows = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.array(
                    *[F.col(f"h{b * rows + r}") for r in range(rows)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )

    def _banded(sig):
        return sig.select(
            "doc_id", F.explode(band_structs).alias("bk")
        ).select("doc_id", "bk.band_idx", "bk.key")

    c_banded = _banded(c_sig)
    if max_bucket is not None:
        ok = (
            c_banded.groupBy("band_idx", "key")
            .agg(F.count("*").alias("_bn"))
            .where(F.col("_bn") <= max_bucket)
            .select("band_idx", "key")
        )
        c_banded = c_banded.join(ok, ["band_idx", "key"], "left_semi")
    cand = (
        _banded(b_sig)
        .withColumnRenamed("doc_id", "new_id")
        .join(
            c_banded.withColumnRenamed("doc_id", "old_id"),
            ["band_idx", "key"],
        )
        .select("new_id", "old_id")
        .distinct()
    )

    def _sets(ids):
        return ids.groupBy("doc_id").agg(
            F.collect_set("tid").alias("tids"), F.count("*").alias("sz")
        )

    verified = (
        cand.join(
            _sets(b_ids).select(F.col("doc_id").alias("new_id"),
                                F.col("tids").alias("t_n"),
                                F.col("sz").alias("sz_n")),
            "new_id",
        )
        .join(
            _sets(c_ids).select(F.col("doc_id").alias("old_id"),
                                F.col("tids").alias("t_o"),
                                F.col("sz").alias("sz_o")),
            "old_id",
        )
        .select(
            "new_id", "old_id",
            F.size(F.array_intersect("t_n", "t_o")).alias("inter_n"),
            (F.col("sz_n") + F.col("sz_o")).alias("sum_sz"),
        )
        .where(
            F.col("inter_n") * F.lit(tau_den)
            >= (F.col("sum_sz") - F.col("inter_n")) * F.lit(tau_num)
        )
    )
    matches = verified.groupBy("new_id").agg(
        F.count(F.lit(1)).alias("n_dup_matches"),
        F.min("old_id").alias("first_match_id"),
    )
    per_doc = b_ids.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles")
    )
    return (
        per_doc.join(
            matches.withColumnRenamed("new_id", "doc_id"), "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_dup_matches", F.lit(0))
            .cast("long").alias("n_dup_matches"),
            "first_match_id",
        )
    )


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iter: int = 25, hops: int = 2,
                         stats: dict | None = None) -> DataFrame:
    """Near-duplicate pairs → clusters: min-label propagation until
    fixpoint.  Output (doc_id, cluster) where cluster is the smallest
    doc_id reachable through the pair graph — the representative a
    dedup pipeline keeps.

    Dedup operators emit PAIRS; a training pipeline needs GROUPS
    (transitively: if A~B and B~C, keep one of {A,B,C} even when A~C
    was never scored).  Pairwise keep-rules break exactly there.

    Spark-first shape: labels are a DataFrame, each round is one
    broadcast-free equi-join (neighbor min) + hash-agg, and the loop
    runs DRIVER-SIDE with a convergence probe per round — iterative
    graph algorithms are the one place imperative driver control flow
    is idiomatic Spark (same structure as GraphX/GraphFrames CC).
    Lineage is truncated each round with localCheckpoint, else the
    plan doubles per iteration and planning time explodes.

    Scale notes (100 TB): the graph holds only near-dup CANDIDATE
    pairs — orders of magnitude smaller than the corpus (LSH bucket
    caps bound it; `minhash_lsh_pairs(max_bucket=...)`).  Rounds
    needed = graph diameter; near-dup clusters are dense (template
    families), so diameter stays single-digit in practice — each
    round is one shuffle of |V|+|E| rows.  Raises after `max_iter`
    rounds rather than returning a half-converged labeling."""
    e = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("n"))
        .distinct()
        .withColumn("lbl", F.col("n"))
        .localCheckpoint()
    )
    def _propagate(lbls):
        nbr_min = (
            edges.join(
                lbls.select(
                    F.col("n").alias("b"), F.col("lbl").alias("_nl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_nl").alias("_m"))
            .withColumnRenamed("a", "n")
        )
        return lbls.join(nbr_min, "n", "left").select(
            "n",
            F.least(
                F.col("lbl"), F.coalesce(F.col("_m"), F.col("lbl"))
            ).alias("lbl"),
            (F.coalesce(F.col("_m"), F.col("lbl")) < F.col("lbl"))
            .alias("_chg"),
        )

    for _it in range(max_iter):
        # `hops` propagation steps per materialization: the checkpoint
        # + convergence probe are the per-round fixed cost, so label
        # distance covered per unit of scheduling overhead multiplies;
        # convergence needs diameter/hops + 1 rounds
        nl = labels
        for _h in range(hops - 1):
            nl = _propagate(nl).drop("_chg")
        new_labels = _propagate(nl).localCheckpoint()
        changed = not new_labels.where(F.col("_chg")).isEmpty()
        labels = new_labels.drop("_chg")
        if not changed:
            if stats is not None:
                stats["rounds"] = _it + 1
            return labels.select(
                F.col("n").alias("doc_id"), F.col("lbl").alias("cluster")
            )
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        f"of 2 hops (graph diameter exceeds {2 * max_iter})"
    )


def prefix_jaccard_pairs(docs: DataFrame, n: int = 3, tau_num: int = 1,
                         tau_den: int = 5, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Jaccard τ-join via PREFIX FILTERING (Chaudhuri/Ganti/
    Kaushik "SSJoin" ICDE'06, Xiao et al. "PPJoin" WWW'08) — the
    established deterministic alternative to MinHash-LSH for set-
    similarity joins, with NO false negatives by construction.

    Shingles are keyed by xxhash64 the moment they leave the
    tokenizer, so every shuffle, sort and intersection downstream
    runs on fixed-width longs instead of ~20-byte n-gram strings
    (measured at sf0.1/τ=0.7: 8.6 s → 2.5 s for the identical
    result set).  Equal strings always hash equal, so completeness
    (no false negatives) is untouched; a 64-bit collision could in
    principle inflate inter_n (a false positive) — the same
    corpus-rarity argument the MinHash/SimHash scale paths already
    rely on (~|union|²/2⁶⁴ per pair; ≪1e-12 even at 100 TB shingle
    cardinalities), and the DuckDB oracle compares on raw strings,
    so any collision at gate scale would surface as a hash
    mismatch, not silently pass.

    Order every doc's shingle set by ascending document frequency
    (rarest first, ties by shingle hash); if J(A,B) >= τ then A and
    B must overlap within their first |X| − ceil(τ·|X|) + 1 tokens,
    so only those PREFIX tokens are exploded into the inverted
    index.  The prefix-filter theorem holds for ANY total order
    shared by all docs, so the hash tie-break changes which
    candidates are generated but never the verified output (the
    completeness pytest asserts equality with the naive join).
    Prefix tokens are the RAREST tokens, so posting lists — the
    quadratic term that makes the naive inverted-index join
    (ngram_jaccard_pairs) verification-scale only — stay short
    exactly where it matters.

    Candidates then pass the two PPJoin reductions BEFORE any array
    is shuffled (measured: 788k → 498k candidate pairs at the loose
    τ=0.2, far sharper in the τ≥0.5 near-dup regime):
    - LENGTH filter inside the join: J ≥ τ ⇒ τ·max(|A|,|B|) ≤
      min(|A|,|B|), integer cross-multiply.
    - POSITIONAL filter on the aggregated match set: for the
      earliest shared prefix token (positions i in A, j in B, both
      arrays in the SAME global order) every other shared token
      lies after it in both, so |A∩B| ≤ 1 + min(|A|−i, |B|−j); the
      pair survives only if max over matches of that bound reaches
      α = ceil(τ(|A|+|B|)/(1+τ)).  Computed as max() in the same
      groupBy that dedups candidates — zero extra shuffles.
    Survivors are verified with exact in-row intersection over the
    full sorted hash arrays; the τ test is the integer
    cross-multiply (no floats).

    Output (id_a, id_b, inter_n, union_n), identical to
    ngram_jaccard_pairs at the same τ with min_inter=1 (completeness
    is pytest-asserted).

    Scale notes (100 TB): ONE wide shuffle builds the df-ordered
    per-doc arrays (window count over shingle hash, then collect
    keyed doc — the df join form would shuffle the same rows twice);
    the candidate join shuffles only |docs|·|prefix| slim
    (id, sz, pos, hash) rows keyed by RARE shingles — bounded
    posting lists where the naive join has its hot keys; the verify
    join is filtered candidates × 2 array lookups keyed doc_id.
    Skew guard comes free: a boilerplate shingle shared by every
    doc has maximal df, so it sorts LAST and never enters a prefix
    unless a doc is almost all boilerplate.  (The window form puts
    each hash's count in one task; per-doc array_distinct already
    caps any hash's row count at |docs|, and the task does a
    streaming count, so the hot-key ceiling is a count scan, not a
    buffered sort.)"""
    sh = shingles(docs, n, text_col, id_col).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    shd = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("h"))
    )
    per_doc = (
        shd.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "h"))
            ).alias("arr")
        )
        .select(
            "doc_id",
            F.transform(F.col("arr"), lambda s: s["h"]).alias("arr"),
            F.size("arr").alias("sz"),
        )
    )
    # per_doc feeds THREE join sides (prefix explode + both verify
    # lookups); without materialization Spark recomputes the shingle→
    # df→collect pipeline per branch.  localCheckpoint (eager), NOT
    # cache(): cache() pins executor storage in the CacheManager
    # until an explicit unpersist that a plan-returning function has
    # no place to issue (repeated calls in a long-lived session would
    # leak); localcheckpoint blocks are released by the
    # ContextCleaner when this DataFrame is garbage collected,
    # scoping the memory to the query.
    per_doc = per_doc.localCheckpoint(eager=True)
    # p = sz − ceil(τ·sz) + 1, all-integer: ceil(a/b) = (a+b−1) div b
    p = (
        F.col("sz")
        - F.floor(
            (F.lit(int(tau_num)) * F.col("sz") + F.lit(int(tau_den) - 1))
            / F.lit(int(tau_den))
        ).cast("int")
        + F.lit(1)
    )
    pre = per_doc.select(
        "doc_id", "sz",
        F.posexplode(F.slice("arr", 1, p)).alias("pos", "h"),
    ).withColumn("pos", F.col("pos") + F.lit(1))  # 1-indexed
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, "h")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: τ·max(sz) ≤ min(sz)
            & (
                F.lit(int(tau_num)) * F.greatest("a.sz", "b.sz")
                <= F.lit(int(tau_den)) * F.least("a.sz", "b.sz")
            )
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sz").alias("psz_a"),
            F.col("b.sz").alias("psz_b"),
        )
        .agg(
            F.max(
                F.lit(1) + F.least(
                    F.col("a.sz") - F.col("a.pos"),
                    F.col("b.sz") - F.col("b.pos"),
                )
            ).alias("ub")
        )
        # positional filter: ub ≥ α = ⌈τ(szA+szB)/(1+τ)⌉ ⟺
        # ub·(num+den) ≥ num·(szA+szB) on integers
        .where(
            F.col("ub") * F.lit(int(tau_num) + int(tau_den))
            >= F.lit(int(tau_num)) * (F.col("psz_a") + F.col("psz_b"))
        )
        .select("id_a", "id_b")
    )
    pa = per_doc.select(
        F.col("doc_id").alias("id_a"),
        F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a"),
    )
    pb = per_doc.select(
        F.col("doc_id").alias("id_b"),
        F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b"),
    )
    v = (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("long").alias("inter_n"),
            (F.col("sz_a") + F.col("sz_b")).alias("szsum"),
        )
        .select(
            "id_a", "id_b", "inter_n",
            (F.col("szsum") - F.col("inter_n")).alias("union_n"),
        )
    )
    return v.where(
        F.lit(int(tau_den)) * F.col("inter_n")
        >= F.lit(int(tau_num)) * F.col("union_n")
    )


def connected_components_star(pairs: DataFrame, a_col: str = "id_a",
                              b_col: str = "id_b", max_iter: int = 25,
                              stats: dict | None = None) -> DataFrame:
    """Near-dup pairs → clusters via alternating large-star/small-star
    edge rewrites (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — the round-count upper bound is
    O(log² n) on ANY graph shape, vs label propagation's
    diameter/hops rounds: a length-L chain converges in ~log L
    alternations instead of L/2 propagation rounds, because each
    rewrite HALVES path lengths by pointing nodes at grandparents
    rather than walking one hop.

    large-star(u): every strictly-larger neighbor of u re-points to
    m = min(Γ(u) ∪ {u}).  small-star(u): orient edges toward the
    smaller endpoint, then u and all its smaller neighbors re-point
    to the smallest of them.  Both are ONE groupBy + join per round
    over the current edge set; the edge set only shrinks toward the
    star forest (node → component min), so per-round shuffle volume
    is O(|E|) with |E| bounded by the candidate-pair graph (never
    corpus-wide — same LSH bucket-cap argument as
    connected_components).

    Convergence probe: (count, Σ xxhash64(u,v) as decimal(38,0) —
    exact, ANSI-overflow-safe) over the distinct edge set — two
    scalars per round, driver-paced, same localCheckpoint lineage
    truncation as the propagation variant.
    `stats["rounds"]`, when a dict is passed, records the number of
    large+small alternations actually run (the high-diameter pytest
    asserts it beats propagation).

    Output (doc_id, cluster): identical labeling contract to
    connected_components — cluster is the smallest reachable id;
    tests assert the two implementations agree exactly."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = (
        e.where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("v2"), F.greatest("u", "v").alias("u")
        )
        .select(F.col("u"), F.col("v2").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    # all nodes, for the final self-label union (roots emit no edge)
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint()
    )

    def _sig(ed) -> tuple:
        r = ed.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                wide(F.xxhash64("u", "v"))
            ).alias("h"),
        ).first()
        return (r["c"], r["h"])

    def _large_star(ed):
        bidir = ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            bidir.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed):
        # input edges already oriented u > v
        m = ed.groupBy("u").agg(F.min("v").alias("m"))
        withm = ed.join(m, "u")
        re_pointed = withm.where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        self_edge = m.select("u", F.col("m").alias("v"))
        return (
            re_pointed.unionByName(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    sig = _sig(edges)
    for i in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _sig(edges)
        if new_sig == sig:
            if stats is not None:
                stats["rounds"] = i + 1
            lbl = edges.select(
                F.col("u").alias("doc_id"), F.col("v").alias("cluster")
            )
            roots = nodes.join(
                edges.select(F.col("u").alias("n")), "n", "left_anti"
            ).select(F.col("n").alias("doc_id"), F.col("n").alias("cluster"))
            return lbl.unionByName(roots)
        sig = new_sig
    raise RuntimeError(
        f"connected_components_star: no fixpoint after {max_iter} rounds"
    )


def containment_pairs(docs: DataFrame, n: int = 3, min_inter: int = 2,
                      tau_pct: int = 80, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Asymmetric near-dup detection: doc pairs where the SMALLER
    shingle set is >= tau_pct% contained in the intersection —
    catches quote-inclusion / prefix-truncation dups that symmetric
    Jaccard misses (a 50-line doc fully embedded in a 5000-line doc
    has Jaccard ~1% but containment 100%).

    Candidates come from the shared-shingle posting-list equi-join
    (the ngram_jaccard_pairs source) with an integer threshold
    inter * 100 >= tau_pct * min(sz_a, sz_b) — all-integer, so the
    DuckDB oracle is exact.  Both directed containments are reported
    6-dp (ONE IEEE int/int division each).

    Scale shape: identical to ngram_jaccard_pairs — quadratic in
    posting-list length, so this is the VERIFICATION tier; at corpus
    scale run it only on LSH/prefix-filter candidates (the
    minhash_lsh_pairs or prefix_jaccard_pairs output joined back to
    shingle sets), which this function accepts unchanged since it
    keys only on (doc_id, shingle).
    """
    sh = shingles(docs, n=n, text_col=text_col, id_col=id_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_n"))
        .where(F.col("inter_n") >= int(min_inter))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("sz").alias("sz_b"))
    j = inter.join(sa, "id_a").join(sb, "id_b")
    return (
        j.where(
            F.col("inter_n") * 100
            >= F.lit(int(tau_pct)) * F.least("sz_a", "sz_b")
        )
        .select(
            "id_a", "id_b",
            F.col("inter_n").cast("int").alias("inter_n"),
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            F.round(F.col("inter_n") / F.col("sz_a"), 6)
            .alias("cont_a"),
            F.round(F.col("inter_n") / F.col("sz_b"), 6)
            .alias("cont_b"),
        )
    )


def minhash_error_audit(docs: DataFrame, n: int = 3,
                        n_hashes: int = 16, bands: int = 8,
                        mode: str = "vocab", text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(n_pairs, bias, mae, max_abs_err): estimator QA for the
    MinHash pipeline — over every LSH candidate pair, compare the
    signature agreement estimate ĵ = matches/n_hashes against the
    EXACT shingle Jaccard, and summarize the error.  This is the
    measured answer to "how much do I trust a 16-hash signature"
    (theory: SD ≈ √(j(1−j)/16) ≈ 0.12 mid-range) — the audit that
    justifies (or indicts) the production n_hashes choice, run on the
    candidates the banding actually surfaces.

    Exactness: ĵ = m/16 and j = inter/union are exact rationals; the
    per-pair error snaps to integer µ-units before the cross-pair
    sums (order-free), and bias/mae/max are one shared double tree.

    Scale: the signature table is |docs|×n_hashes ints; the candidate
    join is the LSH equi-join (bounded by banding); the verify join
    reuses the exact-Jaccard path on candidates only."""
    sh = shingles(docs, n, text_col, id_col)
    ids = shingle_ids(sh, mode)
    sig = minhash_signatures(ids, n_hashes)
    pairs = minhash_lsh_pairs(
        docs, n=n, n_hashes=n_hashes, bands=bands,
        tau_num=0, tau_den=1, mode=mode,
        text_col=text_col, id_col=id_col,
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    j = pairs.join(sa, "id_a").join(sb, "id_b")
    m = None
    for k in range(n_hashes):
        term = (F.col(f"a{k}") == F.col(f"b{k}")).cast("int")
        m = term if m is None else m + term
    est = m.cast("double") / F.lit(float(n_hashes))
    true = (
        F.col("inter_n").cast("double")
        / F.col("union_n").cast("double")
    )
    eu = snap(est - true, 6)
    t = j.select(eu.alias("eu"))
    g = t.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("eu").alias("se"),
        F.sum(F.abs(F.col("eu"))).alias("sa"),
        F.max(F.abs(F.col("eu"))).alias("mx"),
    )
    nn = F.col("n_pairs").cast("double")
    return g.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("se").cast("double") / nn / F.lit(1e6), 6)
        .alias("bias"),
        F.round(F.col("sa").cast("double") / nn / F.lit(1e6), 6)
        .alias("mae"),
        F.round(F.col("mx").cast("double") / F.lit(1e6), 6)
        .alias("max_abs_err"),
    )
