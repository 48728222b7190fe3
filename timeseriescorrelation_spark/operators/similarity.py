"""Embedding similarity search over an array<float> column: brute-force
cosine top-k (exact baseline) and an IVF-bucketed variant (scale path).

All vector math uses native higher-order functions (`zip_with` +
`aggregate` fold) — the dot product never leaves the JVM, and the fold
is strictly left-to-right so results are reproducible and
oracle-comparable bit-for-bit up to a final rounding.

Scale notes (100 TB): brute force is O(Q*N) dot products with the query
side broadcast — correct for small Q, the verification path.  IVF cuts
the searched fraction to ~nprobe/n_cells: centroids (tiny) are
broadcast twice (assign + probe); the candidate join is an equi-join on
cell id, so Catalyst plans a shuffle-hash/SMJ on a low-cardinality but
balanced key.  Real kmeans centroids would plug in where
`centroids_by_label` builds label means — the operator contract
(build -> assign -> probe -> rank) is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    WIDE,
    co_moment,
    moments,
    snap,
    snap_np,
    wide,
)
from timeseriescorrelation_spark.operators.correlation import _dot
from timeseriescorrelation_spark.session import cache_once


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_unit_vectors(emb: DataFrame) -> DataFrame:
    """(id, embedding float[]) -> (vec_id, v double[], n) L2-normalized.

    Pre-normalizing makes cosine a plain dot product downstream (one
    division per vector instead of per pair).  The norm is computed ONCE
    per vector in a prior projection — inlining _norm(v) into the
    transform lambda would re-run the O(d) dot-product fold per element
    (O(d^2) per vector)."""
    v = _to_double(F.col("embedding"))
    # all-zero vectors map to the zero vector instead of dividing by
    # zero (an ANSI-mode DIVIDE_BY_ZERO would kill the whole job on one
    # degenerate row); cos(0-vector, anything) = 0, below every
    # threshold, so downstream semantics are unchanged
    unit = F.when(
        F.col("_n") > 0,
        F.transform(F.col("_dv"), lambda x: x / F.col("_n")),
    ).otherwise(F.transform(F.col("_dv"), lambda x: x * F.lit(0.0)))
    return (
        emb.select(
            "vec_id",
            v.alias("_dv"),
        )
        .withColumn("_n", _norm(F.col("_dv")))
        .select("vec_id", unit.alias("v"))
    )


def cosine_neardup_pairs(emb: DataFrame, min_cos: float) -> DataFrame:
    """All pairs with cosine >= min_cos, brute force (id_a < id_b).

    Output (id_a, id_b, cos rounded to 6dp).  O(N^2) — verification
    scale; the LSH/IVF paths bound the pair space at 100 TB."""
    u = with_unit_vectors(emb)
    a = u.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(_dot(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .where(F.col("cos") >= F.lit(min_cos))
    )


def cosine_neardup_pairs_blocked(emb: DataFrame, min_cos: float,
                                 n_blocks: int = 8) -> DataFrame:
    """Distributed block-pair matmul near-dup: no driver-side corpus
    materialization.  Vectors are hashed into ``n_blocks`` blocks; every
    unordered block pair (i, j), i <= j, becomes one shuffle group
    holding block i in the "left" role and block j in the "right" role,
    and each group computes one |Bi| x |Bj| BLAS matmul emitting only
    pairs at or above the threshold (id_a < id_b, cos rounded 6dp).

    Scale shape: each vector is replicated n_blocks+1 times, so shuffle
    volume is O(N * n_blocks) rows while per-group memory is
    O((N/n_blocks) * dim) — pick n_blocks ~ sqrt(cluster parallelism)
    so groups saturate executors without any block needing the full
    corpus.  Compare the previous design (full-corpus toPandas() on the
    driver): that capped N at driver memory; this caps nothing — at
    100 TB raise n_blocks and the per-group matrix shrinks linearly.
    Still exact (every pair lands in exactly one group); LSH/IVF
    prefilters remain the sub-quadratic route when N^2/n_blocks matmuls
    get too hot.

    Float note: BLAS pairwise summation differs from a left-to-right
    fold in the last ulps; outputs are rounded to 6dp like every float
    the oracle gate compares."""
    import numpy as np
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int")
    base = emb.select(
        "vec_id", F.col("embedding").alias("e"),
        blk.alias("blk"),
    )
    rng = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    # left role: vector of block b serves groups (b, j) for j >= b
    left = base.select(
        "vec_id", "e", F.col("blk").alias("bi"),
        F.explode(F.filter(rng, lambda j: j >= F.col("blk"))).alias("bj"),
        F.lit(0).alias("role"),
    )
    # right role: vector of block b serves groups (i, b) for i <= b
    right = base.select(
        "vec_id", "e",
        F.explode(F.filter(rng, lambda i: i <= F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("role"),
    )
    both = left.unionByName(right)

    schema = "id_a long, id_b long, cos double"

    def _pairs(key, pdf):
        bi, bj = key
        l_ = pdf[pdf["role"] == 0]
        r_ = pdf[pdf["role"] == 1]
        if l_.empty or r_.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        lids = l_["vec_id"].to_numpy()
        rids = r_["vec_id"].to_numpy()
        lm = np.stack(l_["e"].to_numpy()).astype(np.float64)
        rm = np.stack(r_["e"].to_numpy()).astype(np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        np.round(sims, 6, out=sims)
        hit = sims >= min_cos
        if bi == bj:
            # same block on both sides: keep the upper triangle by id
            hit &= lids[:, None] < rids[None, :]
            li, ri = np.nonzero(hit)
            id_a, id_b = lids[li], rids[ri]
        else:
            # distinct blocks: ids are NOT ordered by block — orient
            # each found pair by id, never drop it
            hit &= lids[:, None] != rids[None, :]
            li, ri = np.nonzero(hit)
            id_a = np.minimum(lids[li], rids[ri])
            id_b = np.maximum(lids[li], rids[ri])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos": sims[li, ri]})

    return both.groupBy("bi", "bj").applyInPandas(_pairs, schema)


def ann_topk_bruteforce(emb: DataFrame, queries: DataFrame,
                        k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).

    queries: (vec_id, embedding) — broadcast against the corpus; ranking
    is a per-query window top-k (ties broken by neighbor id)."""
    corpus = with_unit_vectors(emb)
    q = with_unit_vectors(queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(_dot(F.col("qv"), F.col("v")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def ann_topk_bruteforce_np(emb: DataFrame, queries_pdf,
                           k: int = 10) -> DataFrame:
    """Numpy/Arrow scale path for brute-force top-k: the query matrix
    (small) is closed over and shipped to every task; each Arrow batch
    computes a Q x batch matmul and emits only its local top-k per
    query, so the final shuffle ranks Q * k * n_batches candidate rows
    instead of Q * N scored rows.

    ~10-100x faster than the per-element HOF dot product on wide
    corpora (HOF lambdas are interpreted per element; matmul is BLAS).
    The HOF variant (`ann_topk_bruteforce`) stays the oracle path: its
    left-to-right fold matches DuckDB summation bit-for-bit, while BLAS
    pairwise summation differs in the low bits.

    queries_pdf: pandas DataFrame with (vec_id, embedding) columns."""
    import numpy as np
    import pandas as pd

    qids = queries_pdf["vec_id"].to_numpy()
    qm = np.stack(queries_pdf["embedding"].to_numpy()).astype(np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    schema = "qid long, nid long, cos double"

    def _score(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = qm @ m.T  # Q x batch
            kk = min(k + 1, sims.shape[1])  # +1: self may be in batch
            part = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
                for j in part[qi]:
                    if ids[j] != qids[qi]:
                        out_q.append(qids[qi])
                        out_n.append(ids[j])
                        out_c.append(sims[qi, j])
            yield pd.DataFrame({"qid": out_q, "nid": out_n, "cos": out_c})

    cand = emb.select("vec_id", "embedding").mapInPandas(_score, schema)
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("cos", 6)), F.asc("nid")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", F.round("cos", 6).alias("cos"))
    )


def centroids_by_label(emb: DataFrame) -> DataFrame:
    """Element-wise mean vector per label -> (cell, c double[]).

    Stand-in coarse quantizer (deterministic; a kmeans fit would slot in
    here).  Shaped as (row, dim) explode -> avg -> re-assemble ordered
    by dim, all native."""
    dims = emb.select(
        F.col("label").alias("cell"),
        F.posexplode(_to_double(F.col("embedding"))).alias("dim", "x"),
    )
    per_dim = dims.groupBy("cell", "dim").agg(F.avg("x").alias("m"))
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """(vec_id, v, cell) -> (cell, c double[]) element-wise mean.

    Same explode -> avg -> ordered re-assemble shape as
    centroids_by_label, but over the (unit) vector column directly."""
    dims = assigned.select(
        "cell", F.posexplode("v").alias("dim", "x")
    )
    per_dim = dims.groupBy("cell", "dim").agg(F.avg("x").alias("m"))
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )


def _assign_cells(unit: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each unit vector to its max-cosine centroid (ties -> the
    lowest cell id, so assignment is deterministic).

    The centroid norm is projected ONCE per centroid row before the
    broadcast — folding _norm(c) inside the scoring expression would
    re-run an O(d) fold per (vector, centroid) pair.  Same IEEE value
    either way (identical expression on identical data), so the SQL
    oracle's inline sqrt(dot(c,c)) still matches."""
    c2 = cents.select("cell", "c", _norm(F.col("c")).alias("_cn"))
    scored = unit.join(F.broadcast(c2)).select(
        "vec_id", "v", "cell",
        (_dot(F.col("v"), F.col("c")) / F.col("_cn")).alias("s"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("vec_id", "v", "cell")
    )


def kmeans_centroids(emb: DataFrame, k: int = 8, n_iter: int = 2) -> DataFrame:
    """Lloyd's k-means (spherical: unit vectors, cosine assignment),
    DataFrame-native and fully deterministic -> (cell, c double[]).

    Init: cell = vec_id mod k (deterministic seeding; no RNG so the
    oracle can replicate every iteration in SQL).  Each iteration is
    assign (broadcast centroids, argmax cosine, lowest-cell ties) then
    re-mean per cell.  Centroids stay tiny (k x dim), so every
    iteration is one broadcast join + two hash-aggs — no driver-side
    math, and the corpus is never collected.  n_iter is small and fixed
    (Lloyd's converges fast on clustered data; unrolled iterations also
    keep the lineage bounded)."""
    unit = cache_once(with_unit_vectors(emb))
    assigned = unit.select(
        "vec_id", "v",
        F.pmod(F.col("vec_id"), F.lit(k)).cast("int").alias("cell"),
    )
    # Each iteration's centroid table is k tiny rows but sits on top of
    # the whole previous iteration's lineage; caching every iteration
    # keeps downstream consumers from re-running the whole assign+mean
    # chain (measured 8.8s -> ~1.3s for the full IVF query at sf0.1).
    # ONE eager count on the final table fills all the caches in a
    # single action (a count per iteration costs ~2x in job overhead);
    # the intermediate caches and the corpus cache are then released,
    # so a long-lived session retains only the final k-row table.
    cents = cache_once(_mean_centroids(assigned))
    intermediates = [cents]
    for _ in range(n_iter):
        cents = cache_once(_mean_centroids(_assign_cells(unit, cents)))
        intermediates.append(cents)
    final = intermediates.pop()
    final.count()
    for c in intermediates:
        c.unpersist()
    unit.unpersist()
    return final


def ann_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
                 nprobe: int = 3,
                 centroids: DataFrame | None = None) -> DataFrame:
    """IVF ANN: assign corpus to nearest centroid cell, probe the
    nprobe closest cells per query, exact-rank inside the probed cells.

    Output (qid, rank, nid, cos).  Deterministic end-to-end, so recall
    vs brute force is testable and the oracle can replicate it.
    ``centroids`` (cell, c double[]) plugs in a real coarse quantizer —
    e.g. kmeans_centroids; default is the label-mean stand-in."""
    cents = (
        centroids
        if centroids is not None
        else centroids_by_label(emb)
    )
    corpus = with_unit_vectors(emb)

    # assign: nearest centroid by cosine (unit corpus x raw centroid —
    # argmax of dot/|c| == argmax of cosine)
    assigned = _assign_cells(corpus, cents)

    q = with_unit_vectors(queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    c2 = cents.select("cell", "c", _norm(F.col("c")).alias("_cn"))
    q_cell = (
        q.join(F.broadcast(c2))
        .select(
            "qid", "qv", "cell",
            (_dot(F.col("qv"), F.col("c")) / F.col("_cn")).alias("s"),
        )
    )
    w_probe = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("cell"))
    probes = (
        q_cell.withColumn("r", F.row_number().over(w_probe))
        .where(F.col("r") <= nprobe)
        .select("qid", "qv", "cell")
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            F.round(_dot(F.col("qv"), F.col("v")), 6).alias("cos"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "cos")
    )


def _pack_cells(codebooks: DataFrame) -> DataFrame:
    """(block, cell, c) -> (block, cells array<struct<cell,c>>) sorted
    by cell ascending — the broadcast-side shape for the in-row argmin
    fold (`_argmin_cell`)."""
    return codebooks.groupBy("block").agg(
        F.array_sort(F.collect_list(F.struct("cell", "c"))).alias("cells")
    )


def _argmin_cell(sv, cells):
    """In-row argmin over a packed centroid array: the cell whose
    centroid minimizes L2²(sv, c), lowest cell on exact float ties
    (the fold scans cells in ascending-cell order with a strict `<`).
    L2² drops the per-row constant dot(sv, sv) — argmin-invariant.

    This replaces the explode→broadcast-join→window-argmin shape: the
    old form materialized |vecs|·m·ksub scored rows and sorted them
    under a row_number window (a full extra shuffle per Lloyd round);
    the fold does the same O(ksub·dsub) flops inside one projection,
    zero extra rows, zero shuffle."""
    scored = F.transform(
        cells,
        lambda e: F.struct(
            (_dot(e["c"], e["c"]) - 2.0 * _dot(sv, e["c"])).alias("s"),
            e["cell"].cast("int").alias("cell"),
        ),
    )
    return F.aggregate(
        scored,
        F.struct(
            F.lit(float("inf")).alias("s"),
            F.lit(-1).cast("int").alias("cell"),
        ),
        lambda acc, e: F.when(e["s"] < acc["s"], e).otherwise(acc),
        lambda acc: acc["cell"],
    )


def pq_codebooks(emb: DataFrame, m: int = 4, ksub: int = 16, n_iter: int = 2,
                 vec_col: str = "embedding", dim: int | None = None,
                 normalize: bool = True, train_cap: int = 65536) -> DataFrame:
    """Product-quantization codebooks -> (block, cell, c double[]):
    per-block Lloyd's k-means over the SUB-vectors of the
    unit-normalized corpus (Jégou et al.'s PQ — the memory-bounded ANN
    path: at d=64, m=8 blocks of one byte each, a 100 TB float corpus
    quantizes 32× smaller, small enough to ADC-scan in memory).

    Training runs DRIVER-SIDE over a bounded deterministic sample
    (TakeOrdered by (md5(id), id), cap = ``train_cap`` rows) — the
    FAISS economics: the codebook is metadata (m·ksub·dsub doubles)
    and k-means quality saturates at ~10³ samples per cell, so corpus
    volume past the cap buys nothing; encoding and the ADC scan stay
    fully distributed and touch every row.  The previous all-Spark
    training paid ~8 scheduler round-trips per Lloyd's iteration to
    compute this metadata (6.1 s of a 5.9 s query at sf0.1).

    Deterministic like kmeans_centroids: the sample set AND order are
    pure functions of the ids, init cell = id mod ksub, L2² argmin
    with lowest-cell tie-break, fixed n_iter; cells that lose all
    members vanish (the argmin folds over EXISTING cells only), same
    as the distributed semantics."""
    import numpy as np

    first_dim = dim if dim is not None else emb.select(
        F.size(_to_double(F.col(vec_col))).alias("d")
    ).first()["d"]
    if first_dim % m:
        raise ValueError(f"dim {first_dim} not divisible by m={m}")
    dsub = first_dim // m
    # normalize=False feeds PRE-SHAPED vectors (e.g. IVF residuals,
    # which must NOT be re-normalized) straight into the quantizer
    unit = (
        with_unit_vectors(emb)
        if normalize
        else emb.select(
            "vec_id",
            _to_double(F.col(vec_col)).alias("v"),
        )
    )
    sample = (
        unit.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(int(train_cap))
        .toPandas()
    )
    ids = sample["vec_id"].to_numpy().astype(np.int64)
    sv = np.array(sample["v"].tolist(), dtype=np.float64).reshape(
        len(ids), int(m), dsub
    )
    init = (ids % int(ksub)).astype(np.int64)
    assign = [init] * int(m)

    def _means(asg):
        out = []
        for b in range(int(m)):
            present = np.unique(asg[b])
            mu = np.stack(
                [sv[asg[b] == c, b].mean(axis=0) for c in present]
            )
            out.append((present, mu))
        return out

    cents = _means(assign)
    for _ in range(int(n_iter)):
        assign = [
            # argmin takes the FIRST minimum; `present` ascends, so
            # ties break to the lowest existing cell id, matching
            # _argmin_cell's fold
            present[
                np.argmin(
                    ((sv[:, b, None, :] - mu[None, :, :]) ** 2).sum(-1),
                    axis=1,
                )
            ]
            for b, (present, mu) in enumerate(cents)
        ]
        cents = _means(assign)
    rows = [
        (b, int(c), [float(x) for x in mu_row])
        for b, (present, mu) in enumerate(cents)
        for c, mu_row in zip(present, mu)
    ]
    return emb.sparkSession.createDataFrame(
        rows, "block int, cell int, c array<double>"
    )


def pq_encode(emb: DataFrame, codebooks: DataFrame, m: int = 4,
              vec_col: str = "embedding", dim: int | None = None,
              normalize: bool = True) -> DataFrame:
    """(vec_id, codes int[]): nearest-cell code per block — the m-byte
    compressed representation the ADC scan reads instead of the float
    vectors.  One broadcast join + one hash-agg: the per-block argmin
    is the in-row `_argmin_cell` fold (no window sort)."""
    first_dim = dim if dim is not None else emb.select(
        F.size(_to_double(F.col(vec_col))).alias("d")
    ).first()["d"]
    dsub = first_dim // m
    # normalize=False feeds PRE-SHAPED vectors (e.g. IVF residuals,
    # which must NOT be re-normalized) straight into the quantizer
    unit = (
        with_unit_vectors(emb)
        if normalize
        else emb.select(
            "vec_id",
            _to_double(F.col(vec_col)).alias("v"),
        )
    )
    rows = unit.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(int(m) - 1))).alias("block"),
        F.col("v"),
    ).select(
        "vec_id", "block",
        F.slice(
            F.col("v"),
            (F.col("block") * F.lit(dsub) + 1).cast("int"),
            F.lit(dsub),
        ).alias("sv"),
    )
    best = rows.join(F.broadcast(_pack_cells(codebooks)), "block").select(
        "vec_id", "block",
        _argmin_cell(F.col("sv"), F.col("cells")).alias("cell"),
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("block", "cell"))),
            lambda s: s["cell"],
        ).alias("codes")
    )


def _query_luts(qunit: DataFrame, codebooks: DataFrame, m: int,
                dsub: int) -> DataFrame:
    """(qid, luts): each query's m·ksub ADC contributions packed into
    ONE row — an array over blocks of cell→contrib maps, the broadcast
    side of the in-row ADC scan (see pq_topk_adc)."""
    qrows = qunit.select(
        "qid",
        F.explode(F.sequence(F.lit(0), F.lit(int(m) - 1))).alias("block"),
        F.col("qv"),
    ).select(
        "qid", "block",
        F.slice(
            F.col("qv"),
            (F.col("block") * F.lit(dsub) + 1).cast("int"),
            F.lit(dsub),
        ).alias("qsv"),
    )
    lut = qrows.join(F.broadcast(codebooks), "block").select(
        "qid", "block", "cell",
        _dot(F.col("qsv"), F.col("c")).alias("contrib"),
    )
    return (
        lut.groupBy("qid", "block")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("cell", "contrib")))
            ).alias("mp")
        )
        .groupBy("qid")
        .agg(
            F.transform(
                # comparator form: a struct holding a MAP is not
                # orderable, so sort on the block field explicitly
                F.array_sort(
                    F.collect_list(F.struct("block", "mp")),
                    lambda a, b: F.when(a["block"] < b["block"], -1)
                    .when(a["block"] > b["block"], 1)
                    .otherwise(0),
                ),
                lambda s: s["mp"],
            ).alias("luts")
        )
    )


def _adc_fold(codes_col, luts_col):
    """In-row ADC score: Σ_b luts[b][codes[b]] via zip_with + fold."""
    return F.aggregate(
        F.zip_with(codes_col, luts_col, lambda c, mp: F.element_at(mp, c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_topk_adc(emb: DataFrame, queries: DataFrame, k: int = 10, m: int = 4,
                ksub: int = 16, n_iter: int = 2,
                codebooks: DataFrame | None = None,
                codes: DataFrame | None = None, refine: int = 0,
                dim: int | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: queries stay
    full-precision, the corpus is its PQ codes; score(q, v) =
    Σ_b ⟨q_b, c_{b, code_b(v)}⟩ ≈ cos(q, v) on unit vectors.

    In-row ADC: each query's lookup table (m·ksub contributions) is
    packed into ONE broadcast row (array over blocks of cell→contrib
    maps) and the scan is a zip_with/fold over the UN-exploded code
    arrays — |corpus|·|q| slim rows and zero aggregation shuffle,
    where the relational form (posexplode codes ⋈ LUT, groupBy (qid,
    vec)) pushed |corpus|·m·|q| rows through a hash-agg.  The corpus
    side touches only the m-int code column, never float vectors; at
    100 TB that is the entire point (the float corpus never re-enters
    the scan).

    ``refine`` > 0 turns on the standard PQ+refine pipeline: the ADC
    scan produces a top-``refine`` shortlist per query and ONLY those
    (query, candidate) pairs re-read their float vectors for an exact
    cosine re-rank — at 100 TB the full-precision reads drop from
    |corpus| to |queries|·refine rows, which is the whole economics of
    PQ (ADC over in-memory codes for the scan, point lookups for the
    finish).  Measured on the clustered test corpus: raw ADC
    recall@10 ≈ 0.4 (coarse codes can't order within-cluster
    neighbors), refine=50 ≈ 1.0.

    Approximate by construction — recall vs the exact scan is pinned
    by pytest on the clustered embeddings corpus, not by the SQL gate
    (same policy as IVF's nprobe sweep)."""
    # one dim probe feeds the whole chain (the naive form ran the
    # same single-row parquet job three times)
    first_dim = dim if dim is not None else emb.select(
        F.size(_to_double(F.col("embedding"))).alias("d")
    ).first()["d"]
    dim = first_dim
    if codebooks is None:
        codebooks = pq_codebooks(emb, m=m, ksub=ksub, n_iter=n_iter, dim=dim)
    if codes is None:
        codes = pq_encode(emb, codebooks, m=m, dim=dim)
    first_dim = dim if dim is not None else emb.select(
        F.size(_to_double(F.col("embedding"))).alias("d")
    ).first()["d"]
    dsub = first_dim // m
    qunit = with_unit_vectors(queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # Pack each query's m·ksub contributions into one row (array over
    # blocks of cell→contrib maps); the scan is a broadcast nested-loop
    # against the UN-exploded code rows with an in-row zip_with/fold —
    # |corpus|·|q| slim rows total, where the relational form
    # (posexplode codes ⋈ lut, groupBy (qid, vec)) shuffled
    # |corpus|·m·|q| rows through a hash-agg.  Broadcast side is
    # |queries| rows of m·ksub doubles — tiny by contract.
    qlut = _query_luts(qunit, codebooks, m, dsub)
    scored = (
        codes.crossJoin(F.broadcast(qlut))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.round(_adc_fold(F.col("codes"), F.col("luts")), 6)
            .alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not refine:
        return ranked.where(F.col("rank") <= int(k)).select(
            "qid", "rank", F.col("vec_id").alias("nid"), "score"
        )
    shortlist = ranked.where(F.col("rank") <= int(refine)).select(
        "qid", "vec_id"
    )
    unit = with_unit_vectors(emb)
    exact = (
        shortlist.join(unit, "vec_id")
        .join(F.broadcast(qunit), "qid")
        .select(
            "qid",
            F.col("vec_id"),
            F.round(_dot(F.col("qv"), F.col("v")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= int(k))
        .select("qid", "rank", F.col("vec_id").alias("nid"), "score")
    )


def ivf_pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                n_cells: int = 8, nprobe: int = 4, m: int = 16, ksub: int = 32,
                n_iter: int = 2, refine: int = 0) -> DataFrame:
    """IVF-PQ with residual encoding — the production ANN architecture
    (FAISS's IVFx,PQy): a coarse k-means quantizer prunes the searched
    fraction to ~nprobe/n_cells, and inside the probed cells vectors
    are represented by PQ codes of their RESIDUAL v − c(cell) (finer
    than PQ on raw vectors: residuals live in a tighter ball, so the
    same ksub spends its resolution where the cell geometry needs it).

        score(q, v) ≈ ⟨q, c(cell)⟩ + Σ_b ⟨q_b, cb_{b, code_b(r)}⟩

    The first term is a per-(query, probed-cell) OFFSET (nprobe·|q|
    doubles, broadcast); the second is the same in-row ADC fold as
    pq_topk_adc with GLOBAL residual codebooks, so one LUT per query
    serves every probed cell.  ``refine`` re-ranks the shortlist
    exactly (float reads = |q|·refine).

    Scale notes (100 TB): the scan touches only (vec_id, cell, codes)
    int rows of the PROBED cells — the join on cell prunes before any
    scoring; float vectors are read once to train/encode and never
    again outside the refine lookups.  Approximate by construction →
    rows-only driver check; recall pinned by pytest (the IVF/PQ
    policy)."""
    first_dim = emb.select(
        F.size(_to_double(F.col("embedding"))).alias("d")
    ).first()["d"]
    dsub = first_dim // m
    cents = kmeans_centroids(emb, k=int(n_cells), n_iter=n_iter)
    corpus = with_unit_vectors(emb)
    assigned = _assign_cells(corpus, cents).localCheckpoint(eager=True)
    resid = assigned.join(F.broadcast(cents), "cell").select(
        "vec_id", "cell",
        F.zip_with("v", "c", lambda a, b: a - b).alias("r"),
    )
    cb = pq_codebooks(resid, m=m, ksub=ksub, n_iter=n_iter,
                      vec_col="r", dim=first_dim,
                      normalize=False)
    codes = pq_encode(resid, cb, m=m, vec_col="r",
                      dim=first_dim, normalize=False)
    codes_cells = codes.join(
        assigned.select("vec_id", "cell"), "vec_id"
    )

    qunit = with_unit_vectors(queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    # probe the nprobe max-cosine cells; carry ⟨q, c⟩ as the offset
    c2 = cents.select("cell", "c", _norm(F.col("c")).alias("_cn"))
    q_cell = qunit.join(F.broadcast(c2)).select(
        "qid", "cell",
        _dot(F.col("qv"), F.col("c")).alias("off"),
        (_dot(F.col("qv"), F.col("c")) / F.col("_cn")).alias("s"),
    )
    w_probe = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("cell"))
    probes = (
        q_cell.withColumn("_r", F.row_number().over(w_probe))
        .where(F.col("_r") <= int(nprobe))
        .select("qid", "cell", "off")
    )
    qlut = _query_luts(qunit, cb, m, dsub)
    scored = (
        codes_cells.join(F.broadcast(probes), "cell")
        .join(F.broadcast(qlut), "qid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            F.round(
                F.col("off") + _adc_fold(F.col("codes"), F.col("luts")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not refine:
        return ranked.where(F.col("rank") <= int(k)).select(
            "qid", "rank", F.col("vec_id").alias("nid"), "score"
        )
    shortlist = ranked.where(F.col("rank") <= int(refine)).select(
        "qid", "vec_id"
    )
    exact = (
        shortlist.join(corpus, "vec_id")
        .join(F.broadcast(qunit), "qid")
        .select(
            "qid", "vec_id",
            F.round(_dot(F.col("qv"), F.col("v")), 6).alias("score"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= int(k))
        .select("qid", "rank", F.col("vec_id").alias("nid"), "score")
    )


def centroid_drift(emb: DataFrame, batch_size: int = 200) -> DataFrame:
    """Ingestion-batch embedding drift: cosine between consecutive
    batch centroids — (batch, n_vecs, cos_prev, drift) with
    drift = 1 − cos.  The monitor that catches "the encoder changed"
    or "the corpus mix shifted" before a retrain consumes the data.

    Batches are `vec_id // batch_size` (deterministic pseudo-time; at
    100 TB pass a real ingestion-commit column instead).  Determinism:
    per-dim sums are EXACT int64 micro-units (round(x·10⁶) — float
    inputs widen to double identically in both engines first), so
    centroids are one double division per (batch, dim); the dot/norm
    accumulations are double sums over d=|dims| terms, snapped at 6dp
    like emb_centroid's norm.

    Scale notes: one hash-agg shuffles |batches|·d rows regardless of
    vector count (map-side partial sums); the consecutive-batch join
    is an equi-join on (batch, dim) of that metadata-sized table.
    """
    per_dim = (
        emb.select(
            (F.col("vec_id") / F.lit(int(batch_size)))
            .cast("long").alias("b"),
            F.posexplode(_to_double(F.col("embedding"))).alias("dim", "x"),
        )
        .groupBy("b", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(snap("x", 6)).alias("s"),
        )
    )
    cur = per_dim.select(
        "b", "dim", F.col("n").alias("nc"), F.col("s").alias("sc"))
    prev = per_dim.select(
        (F.col("b") + 1).alias("b"), "dim",
        F.col("n").alias("np"), F.col("s").alias("sp"))
    mc = F.col("sc").cast("double") / F.col("nc").cast("double")
    mp = F.col("sp").cast("double") / F.col("np").cast("double")
    j = cur.join(prev, ["b", "dim"]).groupBy("b").agg(
        F.max("nc").alias("n_vecs"),
        F.sum(mc * mp).alias("dot"),
        F.sum(mc * mc).alias("nn_c"),
        F.sum(mp * mp).alias("nn_p"),
    )
    cos = F.col("dot") / (F.sqrt(F.col("nn_c")) * F.sqrt(F.col("nn_p")))
    return j.select(
        F.col("b").alias("batch"), "n_vecs",
        F.round(cos, 6).alias("cos_prev"),
        F.round(1 - cos, 6).alias("drift"),
    )


def dim_ablation_overlap(emb: DataFrame, n_queries: int = 5, k: int = 10,
                         keep_dims: int | None = None) -> DataFrame:
    """Matryoshka-style dimension ablation: for each query, the overlap
    between the full-dimension cosine top-k and the top-k computed on
    the first `keep_dims` dimensions (re-normalized) —
    (qid, k, n_overlap, overlap_frac).  The go/no-go measurement for
    "can we store half the dims?": overlap@k ≈ 1 means the truncated
    index preserves retrieval; the ablation costs two brute scans over
    the SAMPLE queries, never a rebuild.

    Determinism: both scores are in-row ordered folds (same shape as
    ann_topk) rounded to 6dp BEFORE ranking, ranks tie-break on
    candidate id, overlap is exact integer set intersection.

    Scale notes: query side is `n_queries` rows broadcast twice; each
    scan is one pass over the corpus with an O(d) in-row fold; the
    overlap join touches 2·k rows per query.
    """
    u_full = with_unit_vectors(emb)
    d = emb.select(
        F.size(_to_double(F.col("embedding"))).alias("d")
    ).first()["d"]
    kd = keep_dims if keep_dims is not None else d // 2
    trunc = emb.select(
        "vec_id",
        F.slice(_to_double(F.col("embedding")), 1, int(kd)).alias("_tv"),
    )
    u_trunc = (
        trunc.withColumn("_n", _norm(F.col("_tv")))
        .select(
            "vec_id",
            F.when(
                F.col("_n") > 0,
                F.transform(F.col("_tv"), lambda x: x / F.col("_n")),
            ).otherwise(
                F.transform(F.col("_tv"), lambda x: x * F.lit(0.0))
            ).alias("v"),
        )
    )

    def _topk(u):
        q = u.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
        c = u.select(F.col("vec_id").alias("nid"), F.col("v").alias("cv"))
        scored = (
            c.join(F.broadcast(q), F.col("nid") != F.col("qid"))
            .select(
                "qid", "nid",
                F.round(_dot(F.col("qv"), F.col("cv")), 6).alias("cos"),
            )
        )
        w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
        return scored.select(
            "qid", "nid", F.row_number().over(w).alias("r")
        ).where(F.col("r") <= int(k))

    full = _topk(u_full).select("qid", "nid")
    part = _topk(u_trunc).select("qid", "nid")
    hits = full.join(part, ["qid", "nid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    base = full.groupBy("qid").agg(F.count(F.lit(1)).alias("_kk"))
    return base.join(hits, "qid", "left").select(
        "qid", F.lit(int(k)).alias("k"),
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0)).cast("double")
            / F.col("_kk").cast("double"), 6
        ).alias("overlap_frac"),
    )


def int8_quantize_recall(emb: DataFrame, n_queries: int = 5,
                         k: int = 10) -> DataFrame:
    """Int8 scalar-quantization recall: for each sample query, the
    overlap between the float cosine top-k and the top-k ranked by the
    symmetric-SQ int8 score — (qid, k, n_overlap, recall).  The go/no-go
    measurement for the standard 4x index-memory cut (unit vector →
    per-vector scale s = max|v_i|, q_i = round(v_i·127/s), score =
    ⟨qa,qb⟩·sa·sb/127²).

    Quantized components are whole numbers in [−127, 127] carried as
    doubles, so the dot product is EXACT (|Σ| ≤ d·127² ≪ 2⁵³) and both
    engines rank identical scores; scores round to 6dp before ranking,
    ties break on candidate id.  All-zero vectors quantize to the zero
    vector (scale-0 guard, same policy as with_unit_vectors).

    Scale notes: the quantization is one in-row pass (at 100 TB this is
    the map stage that writes the int8 index); scoring is two brute
    scans over broadcast sample queries, 2·k rows per query join after.
    """
    u = with_unit_vectors(emb)
    qz = u.withColumn(
        "_s", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).select(
        "vec_id", "v", "_s",
        F.when(
            F.col("_s") > 0,
            F.transform(
                "v", lambda x: F.round(x * F.lit(127.0) / F.col("_s"))
            ),
        ).otherwise(
            F.transform("v", lambda x: x * F.lit(0.0))
        ).alias("q"),
    )

    def _topk(score_col):
        qs = qz.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
            F.col("q").alias("qq"), F.col("_s").alias("qscale"),
        )
        scored = qz.join(
            F.broadcast(qs), F.col("vec_id") != F.col("qid")
        ).select(
            "qid", F.col("vec_id").alias("nid"),
            F.round(score_col, 6).alias("score"),
        )
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
        return scored.select(
            "qid", "nid", F.row_number().over(w).alias("r")
        ).where(F.col("r") <= int(k)).select("qid", "nid")

    exact = _topk(_dot(F.col("qv"), F.col("v")))
    approx = _topk(
        _dot(F.col("qq"), F.col("q"))
        * F.col("qscale") * F.col("_s") / F.lit(127.0 * 127.0)
    )
    hits = exact.join(approx, ["qid", "nid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("_kk"))
    return base.join(hits, "qid", "left").select(
        "qid", F.lit(int(k)).alias("k"),
        F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        F.round(
            F.coalesce("n_overlap", F.lit(0)).cast("double")
            / F.col("_kk").cast("double"), 6
        ).alias("recall"),
    )


def _cov_from_moments(g: DataFrame) -> DataFrame:
    """(i, j, n, sa, sb, sab) decimal moments → (i, j, n, cov): the
    shared terminal double tree of both covariance forms."""
    s = co_moment("n", "sa", "sb", "sab").cast("double")
    return g.select(
        "i", "j",
        F.col("n").cast("long").alias("n"),
        F.round(
            s / (F.col("n") * F.col("n")).cast("double") / 1e12, 6
        ).alias("cov"),
    )


def _gram_partials(emb: DataFrame) -> DataFrame:
    """Per-partition integer Gram: one mapInPandas pass computes the
    µ-snapped Xᵀ X, Σx, and row count of each partition with NO
    shuffle of exploded rows; the returned d(d+1)/2-per-partition
    moment rows aggregate to the SAME decimal(38,0) integers the
    exact join form produces (the snap happens before any sum, so
    partial sums of integers are exact at any partitioning).

    Exactness inside a partition: int64 block matmul with the block
    size chosen so block_rows · max|xu|² < 2⁶² (no int64 overflow is
    possible), blocks combined in arbitrary-precision Python ints
    (object dtype), emitted as Decimal."""
    import numpy as np
    import pandas as pd
    from decimal import Decimal

    schema = f"i int, j int, n {WIDE}, sa {WIDE}, sb {WIDE}, sab {WIDE}"

    def _partial(batches):
        d = None
        n_tot = 0
        S = None
        G = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xu = snap_np(X, 6)
            if d is None:
                d = Xu.shape[1]
                S = np.zeros(d, dtype=object)
                G = np.zeros((d, d), dtype=object)
            mx = int(np.abs(Xu).max())
            mx = mx if mx > 0 else 1
            blk = max(1, (1 << 62) // (mx * mx))
            for s0 in range(0, len(Xu), blk):
                B = Xu[s0:s0 + blk]
                G += B.T @ B
                S += B.sum(axis=0)
            n_tot += len(Xu)
        if d is None:
            return
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({
            "i": (iu + 1).astype("int32"),
            "j": (ju + 1).astype("int32"),
            "n": [Decimal(n_tot)] * len(iu),
            "sa": [Decimal(int(S[a])) for a in iu],
            "sb": [Decimal(int(S[b])) for b in ju],
            "sab": [Decimal(int(G[a, b])) for a, b in zip(iu, ju)],
        })

    return emb.select("embedding").mapInPandas(_partial, schema)


def embedding_covariance(emb: DataFrame, mode: str = "exact") -> DataFrame:
    """Exact population covariance of the embedding matrix — the PCA
    precursor (eigen-decompose the returned d×d matrix on the driver;
    it is metadata-sized at any corpus scale):

        (i, j, n, cov)   for 1 ≤ i ≤ j ≤ d

    Exactness: elements snap to integer µ-units once, the centered
    second moment S_ij = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ accumulates in
    decimal(38,0)/hugeint (µ-products overflow int64 past ~10⁶ rows),
    and cov = S_ij / n² descaled by 1e12 is one double expression over
    the exact integers — bit-equal cross-engine after 6 dp.

    Two physical forms over the SAME integers (pytest-pinned equal,
    tests/test_similarity.py::test_covariance_gram_equals_exact):

    - mode="exact": posexplode to (row, dim, xu), self-equi-join on
      the row id restricted to i ≤ j, one hash-agg of d(d+1)/2
      groups.  The oracle-checkable reference (emb_cov gate key), but
      the join blows each row up d(d+1)/2× — at d=64 that is a
      2080×-row shuffle, untenable past ~10⁸ rows.
    - mode="gram": the scale path (round-3 verdict task #2) — ONE
      mapInPandas pass computes each partition's integer Xᵀ X /
      Σx / count (int64 block matmul, object-int combine), and the
      only shuffled data is d(d+1)/2 moment rows PER PARTITION.
      Because the µ-snap precedes every sum, the aggregated moments
      are bit-identical to the exact form's — same cov to the last
      ulp, not an approximation."""
    if mode == "gram":
        g = _gram_partials(emb).groupBy("i", "j").agg(
            F.sum("n").alias("n"),
            F.sum("sa").alias("sa"),
            F.sum("sb").alias("sb"),
            F.sum("sab").alias("sab"),
        )
        return _cov_from_moments(g)
    x = emb.select(
        F.col("vec_id").alias("rid"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "rid",
        (F.col("dim0") + 1).alias("dim"),
        snap(F.col("v").cast("double"), 6).alias("xu"),
    )
    a = x.select("rid", F.col("dim").alias("i"), F.col("xu").alias("xa"))
    b = x.select("rid", F.col("dim").alias("j"), F.col("xu").alias("xb"))
    g = (
        a.join(b, "rid")
        .where(F.col("i") <= F.col("j"))
        .groupBy("i", "j")
        .agg(*moments("xa", "xb", names="n sa sb - - sab"))
    )
    return _cov_from_moments(g)


def triplet_mining(emb: DataFrame, queries: DataFrame,
                   k: int = 10) -> DataFrame:
    """Hard-negative triplet mining for contrastive training: per
    anchor, the nearest SAME-label vector (the positive) and the k
    nearest DIFFERENT-label vectors (the hard negatives), with the
    triplet margin cos_pos − cos_neg — the quantity a triplet/InfoNCE
    loss trains against; rows with margin ≤ 0 are the active
    (violating) triplets worth sampling first.

        (qid, rank, pos_id, cos_pos, neg_id, cos_neg, margin)

    Determinism: cosines snap to 6 dp BEFORE ranking (broadcast
    brute-force scoring, ann_topk_bruteforce's discipline) with the
    neighbor-id tiebreak; the margin is one subtraction of two snapped
    doubles.  Anchors with no same-label peer drop out (no positive
    exists).

    Scale notes (100 TB): one broadcast of the |queries|-row anchor
    set against the corpus scan — no corpus self-join; both rankings
    ride the SAME scored relation (one window sort per ranking, k
    small).  Past brute-force scale, feed the scored relation from
    ann_topk_ivf's probe set instead; the mining logic is unchanged."""
    corpus = with_unit_vectors(emb)
    lbl = emb.select("vec_id", F.col("label").alias("n_label"))
    corpus = corpus.join(lbl, "vec_id")
    q = with_unit_vectors(queries).join(lbl, "vec_id") \
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                F.col("n_label").alias("q_label"))
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "q_label",
            F.col("vec_id").alias("nid"), "n_label",
            F.round(_dot(F.col("qv"), F.col("v")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    pos = (
        scored.where(F.col("n_label") == F.col("q_label"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("qid", F.col("nid").alias("pos_id"),
                F.col("cos").alias("cos_pos"))
    )
    neg = (
        scored.where(F.col("n_label") != F.col("q_label"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", F.col("nid").alias("neg_id"),
                F.col("cos").alias("cos_neg"))
    )
    return neg.join(pos, "qid").select(
        "qid", "rank", "pos_id", "cos_pos", "neg_id", "cos_neg",
        F.round(F.col("cos_pos") - F.col("cos_neg"), 6).alias("margin"),
    )


def auc_by_label(emb: DataFrame) -> DataFrame:
    """One-vs-rest retrieval ROC-AUC per label — the embedding-space
    eval primitive: can "cosine to the class centroid" rank same-label
    vectors above the rest?  (label, n_pos, n_neg, auc) per label.

    Leakage-honest split: centroids from EVEN ids only, every ODD id
    scored against every label's centroid.  Determinism end-to-end:

    - components snap to int64 micro-units (round(x·10⁶)), so per-
      (label, dim) centroid sums, per-(vec, label) dot products, and
      both squared norms are EXACT integer hash-aggs (order-free);
    - score = dot/(√nv·√nc) is one fixed IEEE expression over those
      exact ints, snapped to micro-units;
    - AUC uses the tie-correct Mann-Whitney midrank identity WITHOUT
      a pos×neg pair join: group by distinct score, one cumulative
      window over the |distinct scores| rows per label, then
      2U = Σ np_s·(2·cum_neg_below + nn_s) — exact integers; AUC =
      2U / (2·n_pos·n_neg), ONE divide, 6 dp.

    Scale shape: the centroid table is |labels|·d rows (broadcast);
    scoring shuffles |vecs|·|labels| aggregate cells, never pairs;
    the AUC window is metadata-sized per label.
    """
    base = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("lab"),
        F.posexplode(_to_double(F.col("embedding"))).alias("dim", "x"),
    ).select(
        "vid", "lab", "dim",
        snap("x", 6).alias("xu"),
    )
    cent = (
        base.where(F.col("vid") % 2 == 0)
        .groupBy(F.col("lab").alias("L"), "dim")
        .agg(F.sum("xu").alias("s"))
    )
    nc = cent.groupBy("L").agg(
        F.sum(F.col("s") * F.col("s")).alias("nc")
    )
    ev = base.where(F.col("vid") % 2 == 1)
    dots = (
        ev.join(F.broadcast(cent), "dim")
        .groupBy("vid", "lab", "L")
        .agg(
            F.sum(F.col("xu") * F.col("s")).alias("dot"),
            F.sum(F.col("xu") * F.col("xu")).alias("nv"),
        )
    )
    scored = dots.join(F.broadcast(nc), "L").select(
        "L",
        F.when(F.col("lab") == F.col("L"), F.lit(1))
        .otherwise(F.lit(0)).alias("y"),
        snap(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("nv").cast("double"))
               * F.sqrt(F.col("nc").cast("double"))),
            6,
        ).alias("score_u"),
    )
    g = scored.groupBy("L", "score_u").agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1) - F.col("y")).alias("nn"),
    )
    w = (
        Window.partitionBy("L").orderBy("score_u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.withColumn(
        "cumnn", F.coalesce(F.sum("nn").over(w), F.lit(0))
    )
    per = cum.groupBy(F.col("L").alias("label")).agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(
            F.col("np") * (F.lit(2) * F.col("cumnn") + F.col("nn"))
        ).alias("u2"),
    )
    return per.select(
        "label", "n_pos", "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("u2").cast("double")
                / (F.lit(2.0) * F.col("n_pos").cast("double")
                   * F.col("n_neg").cast("double")),
                6,
            ),
        ).alias("auc"),   # one-class eval sets have no ROC: NULL
    )


# DCG position weights: W[p] = round(10^6 / log2(p+1)) for p = 1..10,
# precomputed so the discount is an exact INTEGER constant in every
# engine (log2 never runs at query time).
NDCG_W10 = [1000000, 630930, 500000, 430677, 386853, 356207,
            333333, 315465, 301030, 289065]


def ndcg_int8_at_k(emb: DataFrame, n_queries: int = 5,
                   k: int = 10) -> DataFrame:
    """Position-weighted ranking quality of the int8 index:
    NDCG@k of the symmetric-SQ int8 ranking against graded relevance
    from the exact cosine ranking (rel = k+1−exact_rank for the exact
    top-k, 0 beyond) — (qid, k, dcg_u, ndcg) per sample query.

    recall@k (int8_quantize_recall) treats a #1-for-#10 swap and a
    #10-for-#11 swap identically; NDCG charges by POSITION — the
    standard retrieval metric when rank order matters downstream.

    Determinism: both rankings snap scores to 6dp and tie-break on
    candidate id (the ann_int8 contract); relevance grades and the
    NDCG_W10 discounts are integers, so dcg_u = Σ rel·W[pos] is an
    exact integer and ndcg is ONE divide by the constant ideal
    Σ(k+1−i)·W[i].

    Scale notes: two brute scans over broadcast sample queries (k·|q|
    rows after ranking), the rel⋈pos join is 2k rows per query.
    """
    if k != 10:
        raise ValueError("NDCG_W10 is precomputed for k=10")
    u = with_unit_vectors(emb)
    qz = u.withColumn(
        "_s", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).select(
        "vec_id", "v", "_s",
        F.when(
            F.col("_s") > 0,
            F.transform(
                "v", lambda x: F.round(x * F.lit(127.0) / F.col("_s"))
            ),
        ).otherwise(
            F.transform("v", lambda x: x * F.lit(0.0))
        ).alias("q"),
    )

    def _ranked(score_col):
        qs = qz.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
            F.col("q").alias("qq"), F.col("_s").alias("qscale"),
        )
        scored = qz.join(
            F.broadcast(qs), F.col("vec_id") != F.col("qid")
        ).select(
            "qid", F.col("vec_id").alias("nid"),
            F.round(score_col, 6).alias("score"),
        )
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
        return scored.select(
            "qid", "nid", F.row_number().over(w).alias("r")
        ).where(F.col("r") <= int(k))

    exact = _ranked(_dot(F.col("qv"), F.col("v"))).select(
        "qid", "nid", (F.lit(int(k) + 1) - F.col("r")).alias("rel")
    )
    wmap = F.array(*[F.lit(x) for x in NDCG_W10])
    approx = _ranked(
        _dot(F.col("qq"), F.col("q"))
        * F.col("qscale") * F.col("_s") / F.lit(127.0 * 127.0)
    ).select(
        "qid", "nid",
        F.element_at(wmap, F.col("r")).cast("long").alias("wp"),
    )
    idcg = sum((k + 1 - i) * w for i, w in enumerate(NDCG_W10, 1))
    per = (
        approx.join(exact, ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0)).cast("long")
                * F.col("wp")
            ).alias("dcg_u")
        )
    )
    return per.select(
        "qid", F.lit(int(k)).alias("k"), "dcg_u",
        F.round(
            F.col("dcg_u").cast("double") / F.lit(float(idcg)), 6
        ).alias("ndcg"),
    )


# Truncated RBO (p = 9/10, k = 10) as EXACT integers: the depth-d
# term (1-p)·p^(d-1)·o_d/d scales by C = 2520·10^10 (2520 = lcm 1..10
# clears every /d) to W'_d = 9^(d-1)·10^(10-d)·(2520/d); a candidate
# at positions (pa, pb) in the two rankings joins the overlap at
# every depth >= max(pa, pb), contributing the SUFFIX sum
# RBO_S[max(pa,pb)].  rbo = Σ contributions / C, one divide; C is the
# identical-rankings total Σ_d d·W'_d = 2520·(10^10 − 9^10), so the
# reported score is the NORMALIZED truncated RBO (identical → exactly
# 1.0 — raw truncated RBO tops out at 1−p^k ≈ 0.651).
RBO_S10 = [5932493265528, 3412493265528, 2278493265528, 1598093265528,
           1138823265528, 808148865528, 560143065528, 368824305528,
           218160782028, 97629963228]
RBO_C10 = 16413303309480


def rbo_int8_at_k(emb: DataFrame, n_queries: int = 5,
                  k: int = 10) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, truncated at k,
    p=0.9) between the exact-cosine and int8-quantized rankings —
    (qid, k, n_common, rbo_u, rbo).  The third member of the ranking-
    eval family: recall@k is position-blind, NDCG needs graded
    relevance, RBO compares two RANKINGS directly with top-weighted
    geometric emphasis — the right metric for "did quantization
    change what users see first?".

    Exactness: both rankings snap scores to 6dp with id tie-breaks
    (the ann_int8 contract); each common candidate contributes the
    integer suffix weight RBO_S10[max(pos_exact, pos_int8)], so
    rbo_u = Σ contributions is an exact int64 and rbo is ONE divide
    by the constant C.

    Scale shape: two brute scans over broadcast sample queries, then
    a 2k-row-per-query positions join.
    """
    if k != 10:
        raise ValueError("RBO_S10 is precomputed for k=10")
    u = with_unit_vectors(emb)
    qz = u.withColumn(
        "_s", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).select(
        "vec_id", "v", "_s",
        F.when(
            F.col("_s") > 0,
            F.transform(
                "v", lambda x: F.round(x * F.lit(127.0) / F.col("_s"))
            ),
        ).otherwise(
            F.transform("v", lambda x: x * F.lit(0.0))
        ).alias("q"),
    )

    def _ranked(score_col, pos_name):
        qs = qz.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
            F.col("q").alias("qq"), F.col("_s").alias("qscale"),
        )
        scored = qz.join(
            F.broadcast(qs), F.col("vec_id") != F.col("qid")
        ).select(
            "qid", F.col("vec_id").alias("nid"),
            F.round(score_col, 6).alias("score"),
        )
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
        return scored.select(
            "qid", "nid", F.row_number().over(w).alias(pos_name)
        ).where(F.col(pos_name) <= int(k))

    exact = _ranked(_dot(F.col("qv"), F.col("v")), "pa")
    approx = _ranked(
        _dot(F.col("qq"), F.col("q"))
        * F.col("qscale") * F.col("_s") / F.lit(127.0 * 127.0),
        "pb",
    )
    smap = F.array(*[F.lit(x) for x in RBO_S10])
    common = exact.join(approx, ["qid", "nid"]).select(
        "qid",
        F.element_at(smap, F.greatest("pa", "pb")).alias("contrib"),
    )
    qids = exact.select("qid").distinct()
    per = common.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("contrib").alias("rbo_u"),
    )
    return (
        qids.join(per, "qid", "left")
        .select(
            "qid", F.lit(int(k)).alias("k"),
            F.coalesce("n_common", F.lit(0)).cast("long")
            .alias("n_common"),
            F.coalesce("rbo_u", F.lit(0)).cast("long").alias("rbo_u"),
            F.round(
                F.coalesce("rbo_u", F.lit(0)).cast("double")
                / F.lit(float(RBO_C10)), 6
            ).alias("rbo"),
        )
    )


def mrr_int8_at_k(emb: DataFrame, n_queries: int = 5,
                  k: int = 10) -> DataFrame:
    """Mean-reciprocal-rank view of int8 quantization loss: where does
    each query's TRUE nearest neighbor (exact-cosine rank 1) land in
    the int8 ranking?  (qid, k, exact_top1, int8_pos, rr_u, rr) — the
    fourth member of the ranking-eval family: recall@k is position-
    blind, NDCG needs grades, RBO compares whole rankings; MRR answers
    the single-best-answer question (known-item search, dedup lookup,
    "find THE canonical doc"), charging 1/position for the one item
    that matters.

    Exactness: both rankings snap scores to 6dp with id tie-breaks
    (the ann_int8 contract); rr_u = 2520 div pos is an EXACT integer
    (2520 = lcm 1..10 clears every /pos), 0 when the true neighbor
    fell past k — rr is rr_u/2520, ONE display divide.  Averaging
    across queries stays exact in integer space (Σ rr_u div n).

    Scale shape: the same two brute scans over broadcast sample
    queries the sibling evals pay; the positions join is 1 row (the
    exact top-1) against k rows per query."""
    if k != 10:
        raise ValueError("the 2520 reciprocal table is for k=10")
    u = with_unit_vectors(emb)
    qz = u.withColumn(
        "_s", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).select(
        "vec_id", "v", "_s",
        F.when(
            F.col("_s") > 0,
            F.transform(
                "v", lambda x: F.round(x * F.lit(127.0) / F.col("_s"))
            ),
        ).otherwise(
            F.transform("v", lambda x: x * F.lit(0.0))
        ).alias("q"),
    )

    def _ranked(score_col, pos_name, depth):
        qs = qz.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
            F.col("q").alias("qq"), F.col("_s").alias("qscale"),
        )
        scored = qz.join(
            F.broadcast(qs), F.col("vec_id") != F.col("qid")
        ).select(
            "qid", F.col("vec_id").alias("nid"),
            F.round(score_col, 6).alias("score"),
        )
        w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
        return scored.select(
            "qid", "nid", F.row_number().over(w).alias(pos_name)
        ).where(F.col(pos_name) <= int(depth))

    top1 = _ranked(_dot(F.col("qv"), F.col("v")), "pa", 1).select(
        "qid", F.col("nid").alias("exact_top1")
    )
    approx = _ranked(
        _dot(F.col("qq"), F.col("q"))
        * F.col("qscale") * F.col("_s") / F.lit(127.0 * 127.0),
        "pb", k,
    )
    j = top1.join(
        approx,
        (top1["qid"] == approx["qid"])
        & (top1["exact_top1"] == approx["nid"]),
        "left",
    ).select(
        top1["qid"], "exact_top1",
        F.col("pb").cast("long").alias("int8_pos"),
    )
    return j.select(
        "qid", F.lit(int(k)).alias("k"), "exact_top1", "int8_pos",
        F.coalesce(
            F.expr("2520 div int8_pos"), F.lit(0)
        ).cast("long").alias("rr_u"),
        F.round(
            F.coalesce(F.expr("2520 div int8_pos"), F.lit(0))
            .cast("double") / F.lit(2520.0), 6
        ).alias("rr"),
    )


def pca_project(emb: DataFrame, n_components: int = 4, whiten: bool = False,
                cov_mode: str = "gram") -> DataFrame:
    """(vec_id, label?, pc1..pcP, evr1..evrP): project every embedding
    onto its corpus's top-P principal components — the standard
    dimensionality cut in front of IVF/PQ indexing and the
    decorrelation step (whiten=True) OPQ-style quantizers assume.

    Three stages, each at its natural home:
      1. exact d×d covariance on the CLUSTER (embedding_covariance —
         decimal38 moments, metadata-sized output at any corpus scale);
      2. eigendecomposition on the DRIVER (numpy.linalg.eigh of a d×d
         symmetric matrix — microseconds; the same driver-paced-small
         policy as the k-means centroid step, similarity.py:354);
      3. projection back on the CLUSTER: the (P×d) component matrix is
         closed over (broadcast-sized) and applied as one BLAS matmul
         per Arrow batch via mapInPandas — no shuffle at all; the
         output is narrow (P doubles/row).

    Determinism: eigh of a fixed symmetric matrix is deterministic
    within one numpy build, eigenvalues are returned ascending and
    re-sorted descending, and each component's sign is fixed by
    making its largest-|loading| coordinate positive — so scores are
    reproducible run-to-run.  Cross-ENGINE exactness is deliberately
    not claimed (no SQL engine eigendecomposes): this is a rows-only
    surface whose invariants — Var(pc_k) = λ_k, zero cross-covariance,
    descending explained variance, unit variance when whitened — are
    pinned by pytest instead.

    evr columns repeat the corpus-level explained-variance ratios on
    every row (cheap, keeps the result self-describing through
    downstream joins)."""
    import numpy as np

    spark = emb.sparkSession
    d = len(emb.select("embedding").first()[0])
    # exact mean (µ-snapped, same units as embedding_covariance)
    mean_rows = (
        emb.select(F.posexplode("embedding").alias("dim0", "v"))
        .groupBy("dim0")
        .agg(
            F.sum(snap(F.col("v").cast("double"), 6)).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    )
    mean = np.zeros(d)
    for r in mean_rows:
        mean[r["dim0"]] = (r["s"] / r["c"]) / 1e6
    # default cov_mode="gram": the one-pass partial-Gram scale path —
    # identical integers to the exact join form (see
    # embedding_covariance), without the d(d+1)/2× exploded shuffle
    cov_rows = embedding_covariance(
        emb, mode=cov_mode
    ).collect()
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"] - 1, r["j"] - 1] = r["cov"]
        cov[r["j"] - 1, r["i"] - 1] = r["cov"]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    lam = np.maximum(evals[order], 0.0)
    W = evecs[:, order].T  # P x d
    for p in range(W.shape[0]):  # sign fix: largest |loading| positive
        j = int(np.argmax(np.abs(W[p])))
        if W[p, j] < 0:
            W[p] = -W[p]
    evr = lam / max(float(np.trace(cov)), 1e-300)
    scale = np.ones(len(lam))
    if whiten:
        scale = 1.0 / np.sqrt(np.maximum(lam, 1e-300))
    P = len(lam)
    pc_cols = ", ".join(f"pc{i + 1} double" for i in range(P))
    evr_cols = ", ".join(f"evr{i + 1} double" for i in range(P))
    schema = f"vec_id long, {pc_cols}, {evr_cols}"
    evr_r = [round(float(v), 6) for v in evr]

    def _proj(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sc = ((m - mean) @ W.T) * scale
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for i in range(P):
                out[f"pc{i + 1}"] = np.round(sc[:, i], 6)
            for i in range(P):
                out[f"evr{i + 1}"] = evr_r[i]
            yield pd.DataFrame(out)

    return emb.select("vec_id", "embedding").mapInPandas(_proj, schema)


def silhouette_clusters(emb: DataFrame, k: int = 8,
                        n_iter: int = 2) -> DataFrame:
    """(cell, n, mean_silhouette): simplified (centroid-based)
    silhouette per k-means cluster — the clustering-quality gauge for
    emb_clusters/ann_ivf: for each point, a = cosine distance to its
    OWN centroid, b = min distance to any OTHER centroid,
    s = (b − a)/max(a, b) ∈ [−1, 1]; means near 1 = tight separated
    clusters, near 0 = overlapping, negative = misassigned.

    Simplified (O(N·k) against centroids) rather than full silhouette
    (O(N²) pairwise) — the only form that scales; the centroid table
    is k rows broadcast, so the whole operator is one broadcast join
    + two hash aggs after the (deterministic, vec_id%k-seeded)
    Lloyd's fit.

    Determinism: per-point silhouettes are snapped to integer
    MICRO-units before the mean (float means are addition-order-
    dependent; integer sums are not) — the same policy as theil's
    micro-nats.  a/b themselves come through max/min (order-free)."""
    cents = kmeans_centroids(emb, k, n_iter)
    unit = with_unit_vectors(emb)
    asg = _assign_cells(unit, cents)
    c2 = cents.select(
        F.col("cell").alias("ccell"), "c",
        _norm(F.col("c")).alias("_cn"),
    )
    dist = asg.crossJoin(F.broadcast(c2)).select(
        "vec_id", "cell", "ccell",
        (
            F.lit(1.0) - _dot(F.col("v"), F.col("c")) / F.col("_cn")
        ).alias("d"),
    )
    ab = dist.groupBy("vec_id", "cell").agg(
        F.max(
            F.when(F.col("ccell") == F.col("cell"), F.col("d"))
        ).alias("a_d"),
        F.min(
            F.when(F.col("ccell") != F.col("cell"), F.col("d"))
        ).alias("b_d"),
    )
    top = F.greatest(F.col("a_d"), F.col("b_d"))
    sil = F.when(
        top > 0, (F.col("b_d") - F.col("a_d")) / top
    ).otherwise(F.lit(0.0))
    per = ab.select(
        "cell", snap(sil, 6).alias("sm")
    )
    return per.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sm").alias("ssm")
    ).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("ssm").cast("double") / F.lit(1.0e6)
            / F.col("n").cast("double"), 6
        ).alias("mean_silhouette"),
    )


def embedding_mmd(emb: DataFrame) -> DataFrame:
    """Degree-2 polynomial-kernel MMD² between every pair of embedding
    sources (labels) — the two-sample distribution-shift test a
    training-data pipeline runs before mixing corpora:

        (label_a, label_b, n_a, n_b, mmd2)   for label_a < label_b

    For the homogeneous quadratic kernel k(x,y) = (xᵀy)², the biased
    V-statistic MMD² collapses to the squared Frobenius distance of
    the per-source second-moment matrices M_L = (1/n_L)·Σ x xᵀ:

        MMD²(A,B) = E_aa'k + E_bb'k − 2·E_ab k = ‖M_A − M_B‖²_F

    so NO pair-of-rows join exists anywhere — each source reduces to a
    d×d moment matrix (metadata-sized) and the pair comparison runs on
    those.  Exactness: elements snap to µ-units once, moment sums
    accumulate in decimal(38,0), the per-entry difference
    (S^a_ij·n_b − S^b_ij·n_a)/(n_a·n_b) snaps to 1e-9 units as ONE
    double expression over exact integers, and the Frobenius fold is
    an integer hash-agg (off-diagonal entries weighted 2×) descaled by
    1e18 — bit-equal cross-engine after 6 dp.

    Scale notes (100 TB): stage 1 is the emb_cov posexplode self-join
    (d(d+1)/2 blow-up; past ~10⁸ rows switch to the mapInPandas
    partial-Gram form noted there); stage 2 joins L·d(d+1)/2 rows
    pairwise — thousands of rows at any corpus size, broadcast-safe."""
    x = emb.select(
        F.col("label").alias("lbl"),
        F.col("vec_id").alias("rid"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "lbl", "rid",
        (F.col("dim0") + 1).alias("dim"),
        snap(F.col("v").cast("double"), 6).alias("xu"),
    )
    a = x.select("lbl", "rid", F.col("dim").alias("i"),
                 F.col("xu").alias("xa"))
    b = x.select(F.col("rid").alias("rid2"), F.col("dim").alias("j"),
                 F.col("xu").alias("xb"))
    mom = (
        a.join(b, (F.col("rid") == F.col("rid2"))
               & (F.col("i") <= F.col("j")))
        .groupBy("lbl", "i", "j")
        .agg(wide(F.count(F.lit(1))).alias("n"),
             F.sum(wide("xa") * wide("xb")).alias("s"))
    )
    l = mom.select(F.col("lbl").alias("label_a"), "i", "j",
                   F.col("n").alias("na"), F.col("s").alias("sa"))
    r = mom.select(F.col("lbl").alias("label_b"), "i", "j",
                   F.col("n").alias("nb"), F.col("s").alias("sb"))
    paired = l.join(F.broadcast(r), ["i", "j"]).where(
        F.col("label_a") < F.col("label_b")
    )
    # per-entry moment difference in 1e-9 real units: µ² scale is
    # 1e12, so descale by 1e12 then rescale by 1e9 → divide by 1e3.
    d_ij = wide(F.round(
        (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
        .cast("double")
        / (F.col("na") * F.col("nb")).cast("double") / 1e3
    ))
    wgt = F.when(F.col("i") == F.col("j"), F.lit(1)).otherwise(F.lit(2))
    return (
        paired.select("label_a", "label_b", "na", "nb",
                      (d_ij * d_ij * wide(wgt)).alias("t"))
        .groupBy("label_a", "label_b")
        .agg(F.max(F.col("na")).alias("n_a"),
             F.max(F.col("nb")).alias("n_b"),
             F.sum("t").alias("ss"))
        .select(
            "label_a", "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("ss").cast("double") / 1e18, 6).alias("mmd2"),
        )
    )


def embedding_mahalanobis(emb: DataFrame) -> DataFrame:
    """(vec_id, label, d_eff, md2, is_outlier): diagonal-covariance
    Mahalanobis distance of every embedding from ITS OWN source's
    centroid — the training-data QA pass that surfaces mislabeled or
    corrupted vectors before they poison a mix:

        md² = Σ_d (x_d − μ_d)² / σ²_d

    Per (label, dim) the moments are exact µ-unit integers (n, S, Q);
    each dim's term is ONE double expression over them,
    (n·x−S)²/(n·Q−S²), snapped to 1e-6 units and INTEGER-summed — so
    the per-row reduction is order-free (a raw double Σ over exploded
    dims would hash-differ across partitionings).  Zero-variance dims
    drop out (d_eff counts the dims that scored); is_outlier flags
    md² > 93.217 ≈ χ²₆₄(0.99), decided on the exact integer µ-sum
    (md2_u > 93 217 000), exact even on-threshold.

    Scale notes (100 TB): stats are a (labels·d)-row hash-agg
    (metadata-sized — broadcast); the scoring join is posexplode →
    broadcast-equi-join → per-vector hash-agg, one shuffle keyed by
    vec_id.  No pair joins anywhere."""
    x = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("lbl"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "vid", "lbl",
        (F.col("dim0") + 1).alias("dim"),
        snap(F.col("v").cast("double"), 6).alias("xu"),
    )
    stats = x.groupBy("lbl", "dim").agg(
        *moments("xu", names="n s q"),
    )
    j = x.join(F.broadcast(stats), ["lbl", "dim"])
    num = (F.col("n") * F.col("xu") - F.col("s")).cast("double")
    den = co_moment("n", "s", "s", "q")
    term_u = F.when(
        den.cast("double") > 0,
        snap(F.lit(1e6) * num * num / den.cast("double")),
    )
    g = j.select("vid", "lbl", term_u.alias("tu")).groupBy(
        "vid", "lbl"
    ).agg(
        F.count("tu").alias("d_eff"),
        F.sum("tu").alias("md2_u"),
    )
    return g.select(
        F.col("vid").alias("vec_id"),
        F.col("lbl").alias("label"),
        F.col("d_eff").cast("long").alias("d_eff"),
        F.round(F.col("md2_u").cast("double") / 1e6, 6).alias("md2"),
        (F.col("md2_u") > F.lit(93217000)).alias("is_outlier"),
    )


def embedding_anisotropy(emb: DataFrame) -> DataFrame:
    """(n_vecs, n_dims, avg_cos, mean_norm2): corpus anisotropy — the
    average cosine similarity between all DISTINCT vector pairs, via
    the exact identity for unit vectors

        Σ_{i≠j} cos(u_i, u_j) = ‖Σ u_i‖² − Σ‖u_i‖²

    (Ethayarajh 2019's anisotropy diagnostic: contextual-embedding
    spaces collapse into a cone — avg_cos ≫ 0 — which silently
    inflates every cosine threshold downstream; mean_norm2 = ‖μ‖² is
    the common-direction mass whitening/PCA would remove, directly
    actionable against pca_project(whiten=True)).

    No pair join: the identity reduces the O(n²) pairwise mean to
    per-dimension SUMS.  Unit coordinates snap to integer µ-units
    first, so Σu and Σu² are exact decimal integers and both engines
    share one terminal double tree.  Zero vectors stay in n (they
    contribute cos = 0 pairs — the with_unit_vectors convention).

    Scale: one posexplode hash-agg to d rows, one d-row aggregate.
    At 100 TB the d-row shuffle is metadata."""
    u = with_unit_vectors(emb)
    ex = u.select(
        F.posexplode("v").alias("dim", "x")
    ).select(
        "dim",
        snap("x", 6).alias("xu"),
    )
    g = ex.groupBy("dim").agg(
        F.sum(wide("xu")).alias("sd"),
        F.sum(wide("xu") * wide("xu")).alias("sq"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(F.col("sd") * F.col("sd")).alias("ssd"),
        F.sum("sq").alias("ssq"),
    )
    nvec = u.agg(F.count(F.lit(1)).alias("n_vecs"))
    j = tot.crossJoin(F.broadcast(nvec))
    nd = F.col("n_vecs").cast("double")
    return j.select(
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("n_dims").cast("long").alias("n_dims"),
        F.round(
            (F.col("ssd") - F.col("ssq")).cast("double")
            / (nd * (nd - F.lit(1.0))) / F.lit(1e12),
            6,
        ).alias("avg_cos"),
        F.round(
            F.col("ssd").cast("double") / (nd * nd) / F.lit(1e12),
            6,
        ).alias("mean_norm2"),
    )
