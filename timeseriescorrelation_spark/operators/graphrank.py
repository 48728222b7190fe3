"""Fixed-point PageRank over a weighted edge list — the iterative
graph primitive next to dedup's connected components (min-label
propagation answers "which nodes touch"; PageRank answers "which
nodes matter").  Driven here over the event-type transition graph; at
scale the same operator ranks conversation reply/reference graphs.

Pure-INTEGER power iteration: ranks live in micro-units (Σ ≈ 10⁶·|V|)
and every update is

    pr'(v) = floor(0.15·10⁶) + Σ_{(u,v)∈E} (85·pr(u)·w(u,v)) DIV (100·wout(u))

— integer multiply + integer floor-division only, NO doubles anywhere,
so K iterations are bit-identical in any engine and the DuckDB oracle
simply unrolls them as K CTEs.  Dangling mass (nodes with no
out-edges) vanishes — the standard simplification; totals are then a
checksum of danglingness, not exactly 10⁶·|V|.

Scale notes (100 TB graphs): each iteration is ONE equi-join of the
edge list against the rank table keyed src (edges pre-grouped with
their out-weight, so the join input is |E| rows) + one hash-agg keyed
dst + a left join back onto the node set for rank sources with no
in-edges.  K is fixed (no convergence test ⇒ no driver round-trip per
step beyond the K loop itself); for long chains compose with
localCheckpoint every few iterations exactly as connected_components
does.  Integer bound: 85·pr·w < 2⁶³ holds while pr·w < 10¹⁷ — at
micro-unit ranks (≤10⁶·|V|/danglingness) and count weights that is
w·|V| < 10¹¹; widen to decimal(38,0) beyond (documented seam).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    co_moment,
    idiv,
    moments,
    wide,
)

DAMP_NUM, DAMP_DEN = 85, 100   # d = 0.85 as an exact rational
BASE_U = 150_000               # floor((1-d)·10⁶)
M_U = 1_000_000


def pagerank_fixedpoint(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """(node, pr_u): integer micro-unit PageRank after exactly n_iter
    power iterations from the uniform start (10⁶ per node)."""
    e = edges.groupBy("src", "dst").agg(
        F.sum("w").cast("long").alias("w")
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
    e = e.join(wout, "src").select(
        "src", "dst",
        "w", "wout",
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    pr = nodes.select("node", F.lit(M_U).cast("long").alias("pr_u"))
    for _ in range(int(n_iter)):
        contrib = (
            e.join(pr, e["src"] == pr["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM} * pr_u * w) DIV ({DAMP_DEN} * wout)"
                ).alias("cu"),
            )
            .groupBy("node")
            .agg(F.sum("cu").alias("inflow"))
        )
        pr = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(BASE_U).cast("long")
                + F.coalesce(F.col("inflow"), F.lit(0))
            ).alias("pr_u"),
        )
    return pr


def pagerank_conserving(edges: DataFrame, n_iter: int = 3,
                        teleport: DataFrame | None = None) -> DataFrame:
    """(node, pr_u): integer PageRank whose total mass is conserved at
    EXACTLY 10⁶·|V| every iteration — the dangling-mass seam
    pagerank_fixedpoint documents, closed with pure-integer remainder
    accounting (no doubles anywhere, so the DuckDB oracle unrolls the
    K iterations bit-exactly):

    - damped outflow out(u) = (85·pr(u)) DIV 100 leaves u; each edge
      carries (out·w) DIV wout and the per-src floor remainder
      out − Σ floors goes to u's smallest dst (deterministic,
      SQL-replicable as min(dst));
    - dangling nodes (no out-edges) contribute out(u) to a global
      pool; every node also contributes its UNDAMPED remainder
      pr(u) − out(u) (the 15% teleport share — conservation makes the
      base term proportional to current total, not a constant);
    - the pool pays each node pool DIV N, and the final mod-N
      remainder lands on the globally smallest node (≤ N−1 µ-units of
      deterministic skew — sub-ppm at any real N).

    Every pool is integers in/integers out, so Σ pr_u after each
    iteration equals Σ before it — the pytest asserts the invariant
    on a graph with a genuine dangling node.

    Scale notes: same join shape as pagerank_fixedpoint plus one
    hash-agg for per-src remainders and a 1-row pool aggregate
    (broadcast crossJoin — the engine's standard scalar-join
    pattern).  Integer bound identical (85·pr·w < 2⁶³).  The static
    tables (edges, nodes, remainder sinks) and each iteration's rank
    table are localCheckpoint-ed — every iteration references them
    SEVERAL times (flows, pool, dangling anti-join), so without
    lineage truncation the DAG re-derives the whole prefix per
    reference and plan cost grows multiplicatively with n_iter (the
    dedup_clusters fixpoint lesson; measured 14.8 s → ~1 s at
    sf0.001)."""
    e = edges.groupBy("src", "dst").agg(
        F.sum("w").cast("long").alias("w")
    )
    wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
    e = e.join(wout, "src").select(
        "src", "dst",
        "w", "wout",
    ).localCheckpoint(eager=True)
    wout = e.select("src", "wout").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # smallest destination per src: the per-src remainder sink
    dst0 = e.groupBy("src").agg(F.min("dst").alias("dst0"))

    # PERSONALIZED variant (teleport not None): the pooled mass
    # (dangling + undamped 15% shares) pays out only to the teleport
    # set — rank concentrates around the seeds, the "related nodes"
    # query (Jeh & Widom 2003 personalization, re-expressed in the
    # conserving integer scheme; the uniform start only shifts the
    # transient of the fixed-K loop).  teleport=None keeps the exact
    # classic path — the three existing gate oracles stay bit-exact.
    tele = None
    if teleport is not None:
        tele = (
            teleport.select("node").distinct()
            .join(nodes, "node")
            .localCheckpoint(eager=True)
        )

    pr = nodes.select("node", F.lit(M_U).cast("long").alias("pr_u"))
    for _ in range(int(n_iter)):
        pr = pr.localCheckpoint(eager=False)
        o = pr.withColumn(
            "out_u",
            F.expr(f"({DAMP_NUM} * pr_u) DIV {DAMP_DEN}"),
        )
        flows = (
            e.join(o, e["src"] == o["node"])
            .select(
                "src", "dst",
                F.expr("(out_u * w) DIV wout").alias("fl"),
                "out_u",
            )
        )
        per_src = flows.groupBy("src").agg(
            F.sum("fl").alias("fl_sum"), F.first("out_u").alias("out_u")
        )
        rem_rows = (
            per_src.join(dst0, "src")
            .select(
                F.col("dst0").alias("node"),
                (F.col("out_u") - F.col("fl_sum")).alias("amt"),
            )
        )
        inflow = (
            flows.select(F.col("dst").alias("node"), F.col("fl").alias("amt"))
            .unionByName(rem_rows)
            .groupBy("node")
            .agg(F.sum("amt").alias("inflow"))
        )
        # pool = dangling damped outflow + everyone's undamped share
        is_dangling = o.join(
            wout.select(F.col("src").alias("node")), "node", "left_anti"
        )
        pool = (
            o.select(
                (F.col("pr_u") - F.col("out_u")).alias("p")
            ).unionByName(is_dangling.select(F.col("out_u").alias("p")))
            .agg(F.sum("p").alias("pool"))
        )
        counts = (tele if tele is not None else nodes).agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("node_min"),
        )
        scalars = F.broadcast(pool.crossJoin(counts))
        base = nodes.join(inflow, "node", "left")
        if tele is not None:
            base = base.join(
                tele.withColumn("is_t", F.lit(1)), "node", "left"
            )
            payout = F.when(
                F.col("is_t") == 1, F.expr("pool DIV n_nodes")
            ).otherwise(F.lit(0))
        else:
            payout = F.expr("pool DIV n_nodes")
        pr = (
            base.crossJoin(scalars)
            .select(
                "node",
                (
                    F.coalesce(F.col("inflow"), F.lit(0))
                    + payout
                    + F.when(
                        F.col("node") == F.col("node_min"),
                        F.expr("pool % n_nodes"),
                    ).otherwise(F.lit(0))
                ).cast("long").alias("pr_u"),
            )
        )
    return pr


def bfs_depths(edges: DataFrame, seeds: DataFrame,
               max_depth: int = 10) -> DataFrame:
    """Breadth-first shortest-hop depths from a seed set over an
    undirected edge list — (node, depth), unreachable nodes absent.
    The third graph primitive next to connected components ("which
    touch") and PageRank ("which matter"): "how FAR is everything
    from here" (blast-radius / influence-distance queries).

    Driver-paced frontier expansion, one equi-join + anti-join per
    level, localCheckpoint truncating lineage per level (the CC/
    PageRank pacing policy): levels = eccentricity of the seed set,
    each level's cost is |frontier ⋈ edges|.  Early-exits when the
    frontier empties; max_depth bounds pathological chains."""
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(
            edges.select(
                F.col("dst").alias("a"), F.col("src").alias("b")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("int").alias("depth"),
    ).localCheckpoint(eager=True)
    frontier = visited
    for d in range(1, int(max_depth) + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(d).cast("int").alias("depth"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected graph — one number for
    "do hubs attach to hubs" (r > 0, social-network-like) or "hubs to
    leaves" (r < 0, infrastructure-like), the fourth graph primitive
    next to CC / PageRank / BFS (those say which, how much, how far;
    this says how the graph is WIRED).  r = Pearson over the
    (deg(u), deg(v)) pairs of every directed edge of the symmetrized
    graph (the standard Newman formulation; both directions included,
    so the two marginals coincide).

    Exactness: degrees are exact integer counts; all five moments
    accumulate in decimal(38,0)/hugeint (deg products overflow int64
    on hub-heavy graphs long before 2⁶³ edges exist); r is the usual
    one-expression assembly of exact moments.

    Scale notes (100 TB): distinct-edge dedup + one degree hash-agg +
    two shuffle joins of the edge list against the |nodes|-row degree
    table + a 1-row aggregate — no windows, no iteration."""
    # the deduped edge list is referenced five times downstream (sym
    # twice, degree agg, both sides of the moment join) — without a
    # checkpoint the whole upstream pair-construction pipeline
    # re-executes per reference (measured 29 shuffles on the
    # co-activity source; the pagerank_dangling fix, same cause)
    e = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).where(F.col("a") != F.col("b")).distinct().localCheckpoint(
        eager=True
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # deg is |nodes|-sized — too big to broadcast unconditionally at
    # graph scale, but hash-joinable without sorting either side
    # (SHUFFLE_HASH builds on the deg side per partition; degree skew
    # on the probe side is bounded by max-degree, not key count)
    j = (
        sym.join(deg.withColumnRenamed("d", "da").hint("shuffle_hash"),
                 "a")
        .join(
            deg.select(F.col("a").alias("b"),
                       F.col("d").alias("db")).hint("shuffle_hash"),
            "b",
        )
    )
    m = j.agg(*moments("da", "db"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("d").alias("max_degree"),
    )
    n = F.col("n")
    num = co_moment("n", "sx", "sy", "sxy").cast("double")
    dx = co_moment("n", "sx", "sx", "sxx").cast("double")
    dy = co_moment("n", "sy", "sy", "syy").cast("double")
    return m.crossJoin(F.broadcast(nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        (n.cast("long") / 2).cast("long").alias("n_edges"),
        F.round(n.cast("double") / F.col("n_nodes"), 6)
        .alias("mean_degree"),
        F.col("max_degree").cast("long").alias("max_degree"),
        F.when(
            (dx > 0) & (dy > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("assortativity"),
    )


def edge_jaccard(edges: DataFrame, strategy: str = "wedge") -> DataFrame:
    """SCAN-style structural similarity of every EDGE: for each
    connected pair (u, v), the Jaccard of their (open) neighbor sets

        common = |Γ(u) ∩ Γ(v)|   (= triangles through the edge)
        jaccard = common / (deg(u) + deg(v) − common)

    High-jaccard edges sit INSIDE a community (their endpoints see
    the same crowd); low-jaccard edges are bridges — the SCAN
    cluster/hub/outlier trichotomy reduced to its one load-bearing
    number.  Output (u, v, common, deg_u, deg_v, jaccard) with u < v,
    one row per deduped input edge; counts and degrees are exact
    int64, jaccard is the single terminal double divide (6 dp).

    Restricting pairs to EDGES (not all co-wedge pairs) bounds output
    at |E| and makes the common-neighbor count the standard wedge
    join: edge (u,v) ⋈ adj(u,w) ⋈ adj(v,w), shuffle volume
    O(Σ_edge deg(u)) = O(wedges) — the same cost triangle counting
    pays, and the hub mitigation is the same: cap or sample hub
    adjacency before the join (operators/dedup.py max_bucket policy).

    ``strategy="dense"`` swaps the wedge join for broadcast adjacency
    ARRAYS: each edge intersects its endpoints' sorted neighbor lists
    in-row (size(array_intersect)) — identical integers, ZERO extra
    shuffle.  Right when the node set is cohort-bounded and
    |V|·avg_deg fits a broadcast (the hub-capped co-activity graphs:
    measured 13.5M wedge-join rows → 53k in-row intersections at
    sf0.1); the wedge join remains the default because unbounded
    node sets can't broadcast — the standard broadcast-vs-shuffle
    judgment, made explicit."""
    e = edges.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).where(F.col("u") != F.col("v")).distinct().localCheckpoint(
        eager=True
    )
    adj = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).withColumnRenamed("v", "w")
    if strategy == "dense":
        nbrs = adj.groupBy("u").agg(
            F.sort_array(F.collect_set("w")).alias("nbrs")
        )
        j = (
            e.join(
                F.broadcast(nbrs.select(F.col("u"),
                                        F.col("nbrs").alias("nu"))),
                "u",
            )
            .join(
                F.broadcast(nbrs.select(F.col("u").alias("v"),
                                        F.col("nbrs").alias("nv"))),
                "v",
            )
        )
        return j.select(
            "u", "v",
            F.size(F.array_intersect("nu", "nv")).cast("long")
            .alias("common"),
            F.size("nu").cast("long").alias("deg_u"),
            F.size("nv").cast("long").alias("deg_v"),
            F.round(
                F.size(F.array_intersect("nu", "nv")).cast("double")
                / (F.size("nu") + F.size("nv")
                   - F.size(F.array_intersect("nu", "nv")))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    common = (
        e.join(adj.withColumnRenamed("u", "_a"),
               F.col("u") == F.col("_a"))
        .join(
            adj.select(F.col("u").alias("_b"), F.col("w").alias("_w")),
            (F.col("v") == F.col("_b")) & (F.col("w") == F.col("_w")),
            "left_semi",
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        e.join(common, ["u", "v"], "left")
        .na.fill({"common": 0})
        .join(deg.select(F.col("u"), F.col("d").alias("deg_u")), "u")
        .join(deg.select(F.col("u").alias("v"),
                         F.col("d").alias("deg_v")), "v")
    )
    return out.select(
        "u", "v", "common", "deg_u", "deg_v",
        F.round(
            F.col("common")
            / (F.col("deg_u") + F.col("deg_v") - F.col("common")),
            6,
        ).alias("jaccard"),
    )


def kcore_peel(edges: DataFrame, k: int, n_rounds: int) -> DataFrame:
    """(node, core_deg): survivors of ``n_rounds`` of PARALLEL k-core
    peeling — each round simultaneously deletes every node whose
    degree inside the current survivor set is < k — with their degree
    inside the final survivor set.

    Parallel (synchronous) peeling is deterministic with no tie rule
    at all: a round's deletions depend only on the survivor SET, never
    on intra-round order, so the DuckDB oracle unrolls the same K
    rounds bit-exactly (the pagerank unroll pattern).  Once a round
    deletes nothing the set is the true k-core and further rounds are
    no-ops, so with n_rounds >= the graph's peel depth the output IS
    the k-core; pytest asserts convergence at the fixture scale.

    Scale shape: each round is one hash-agg over surviving edges plus
    two semi-joins on node keys (partition-parallel, no global sort);
    rounds needed = peel depth, typically O(10) on social-ish graphs.
    For 10^12-edge graphs, checkpoint the survivor frame every few
    rounds (the dedup.connected_components localCheckpoint policy)
    to cap lineage; at this fixed small K the plan stays shallow.
    Input may be directed or undirected; it is symmetrized and
    self-loops dropped before peeling.
    """
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    # materialize the symmetrized edge set ONCE: every round references
    # it twice (both semi-joins), so without lineage truncation the
    # plan re-derives the upstream edge build 2·n_rounds times and the
    # DAG grows multiplicatively (the pagerank_conserving lesson;
    # measured 18.5 s → ~1 s at sf0.1 on the co-activity graph)
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive = und.select(F.col("a").alias("node")).distinct()
    deg = None
    for _ in range(int(n_rounds)):
        alive = alive.localCheckpoint(eager=False)
        deg = (
            und.join(alive.select(F.col("node").alias("a")), "a", "left_semi")
            .join(alive.select(F.col("node").alias("b")), "b", "left_semi")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        alive = deg.where(F.col("core_deg") >= k).select(
            F.col("a").alias("node")
        )
    final_deg = (
        und.join(alive.select(F.col("node").alias("a")), "a", "left_semi")
        .join(alive.select(F.col("node").alias("b")), "b", "left_semi")
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
    return final_deg.select(F.col("a").alias("node"), "core_deg")


def adamic_adar_scores(edges: DataFrame, top_k: int = 100,
                       strategy: str = "wedge") -> DataFrame:
    """Top-k link-prediction scores over an undirected graph given as
    distinct (src < dst) pairs: for each node pair (u, v) sharing at
    least one neighbor, common-neighbor count plus two weighted
    variants in exact pico-units —

      ra_p = sum over common w of 10^12 // deg(w)          (Resource
             Allocation index, pure integer arithmetic), and
      aa_p = sum over common w of 10^12 // L(w) with
             L(w) = floor(10^6 * ln(deg(w)))               (Adamic-
             Adar with the micro-nat integer-ln snap that km_survival
             uses: ONE float op per node quantized to the 1e-6 grid,
             every sum afterwards exact, so DuckDB reproduces it
             bit-for-bit).

    Wedge centers have deg >= 2, so L >= floor(1e6*ln 2) = 693147 and
    the integer division never sees zero.

    Scale shape: the wedge join costs sum(deg(w)^2) rows — on skewed
    graphs cap or sample high-degree centers first (their 1/ln(deg)
    weight contributes least per wedge; the bounded co-activity
    builder in hybrid.py is the upstream cap for event graphs).  The
    degree table is nodes-sized and broadcast; output is TakeOrdered
    top-k (aa_p desc, u, v), never a global sort.
    """
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if strategy == "dense":
        # broadcast-adjacency ALL-PAIRS path: V**2 in-row
        # intersections + broadcast weight maps replace the
        # sum(deg**2)-row wedge shuffle -- identical integers
        # (pytest-pinned), but V**2 is the price: right ONLY for
        # small dense cohorts (the 416-node hourly graph), measured
        # UNUSABLE on the ~1.5k-node minute graph where the wedge
        # join wins outright -- which is why wedge stays the default
        # AND the shipped minute-graph query
        und0 = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).withColumnRenamed("b", "w").distinct()
        deg0 = und0.groupBy(F.col("a").alias("n")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        wmaps = deg0.where(F.col("deg") >= 2).agg(
            F.map_from_entries(
                F.collect_list(F.struct(
                    F.col("n"),
                    F.expr("1000000000000L div deg"),
                ))
            ).alias("ra_map"),
            F.map_from_entries(
                F.collect_list(F.struct(
                    F.col("n"),
                    F.expr(
                        "1000000000000L div cast(floor("
                        "log(cast(deg as double)) * 1000000.0)"
                        " as long)"
                    ),
                ))
            ).alias("aa_map"),
        )
        nbrs = und0.groupBy(F.col("a").alias("n")).agg(
            F.sort_array(F.collect_set("w")).alias("nb")
        )
        pairs = (
            nbrs.select(F.col("n").alias("u"), F.col("nb").alias("nu"))
            .crossJoin(F.broadcast(
                nbrs.select(F.col("n").alias("v"),
                            F.col("nb").alias("nv"))
            ))
            .where(F.col("u") < F.col("v"))
            .crossJoin(F.broadcast(wmaps))
        )
        # wedge centers have deg >= 2 by construction of the maps;
        # deg-1 commons are filtered by the map lookup coalescing 0
        ids = F.array_intersect("nu", "nv")
        kept = F.filter(
            ids, lambda x: F.element_at("ra_map", x).isNotNull()
        )
        scored = pairs.select(
            "u", "v",
            F.size(kept).cast("long").alias("common_n"),
            F.aggregate(
                kept, F.lit(0).cast("long"),
                lambda acc, x: acc + F.element_at("ra_map", x),
            ).alias("ra_p"),
            F.aggregate(
                kept, F.lit(0).cast("long"),
                lambda acc, x: acc + F.element_at("aa_map", x),
            ).alias("aa_p"),
        ).where(F.col("common_n") >= 1)
        return (
            scored.orderBy(F.desc("aa_p"), "u", "v")
            .limit(int(top_k))
            .select("u", "v", "common_n", "ra_p", "aa_p")
        )
    # und is referenced three times (degree dim + both wedge sides),
    # but its build is cheap next to the Σdeg² wedge join — measured:
    # an eager localCheckpoint here made the query SLOWER (8.6 s vs
    # 5.6 s at sf0.1) by serializing the barrier before the wedge
    # stage, so re-derivation wins (contrast kcore_peel, where the
    # SAME edge build re-derived 2·n_rounds times did need it)
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # only wedge centers (deg >= 2) ever need a weight — and deg=1
    # would put ln(1)=0 in the divisor
    wdim = deg.where(F.col("deg") >= 2).select(
        "w",
        F.expr("1000000000000L div deg").alias("ra_w"),
        F.expr(
            "1000000000000L div cast(floor(log(cast(deg as double))"
            " * 1000000.0) as long)"
        ).alias("aa_w"),
    )
    # weight the 220k-row edge table ONCE before the wedge self-join
    # (deg-1 centers can't form wedges, so the inner join drops
    # nothing) rather than re-joining the Σdeg²-row wedge output; and
    # hint SHUFFLE_HASH — sort-merge on the duplicate-heavy center key
    # buffers each key group quadratically during the merge, measured
    # 7.2 s vs 2.9 s warm at sf0.1 (33M wedges, max deg 222)
    wund = und.join(F.broadcast(wdim), und.a == wdim.w).select(
        "a", "b", "ra_w", "aa_w"
    )
    x, y = wund.alias("x"), und.alias("y")
    scored = (
        x.join(y.hint("shuffle_hash"),
               (F.col("x.a") == F.col("y.a"))
               & (F.col("x.b") < F.col("y.b")))
        .groupBy(F.col("x.b").alias("u"), F.col("y.b").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("common_n"),
            F.sum("x.ra_w").alias("ra_p"),
            F.sum("x.aa_w").alias("aa_p"),
        )
    )
    return (
        scored.orderBy(F.desc("aa_p"), "u", "v")
        .limit(int(top_k))
        .select("u", "v", "common_n", "ra_p", "aa_p")
    )


def label_propagation(edges: DataFrame, n_rounds: int) -> DataFrame:
    """(node, lbl): community labels after ``n_rounds`` of SYNCHRONOUS
    label propagation (Raghavan et al. 2007) — every node
    simultaneously adopts the most frequent label among its
    neighbors, ties to the SMALLEST label; labels start as own id.

    Synchronous + min-tie makes each round a pure function of the
    previous labeling (no visit order), so the DuckDB oracle unrolls
    the same K rounds bit-exactly — the kcore_peel/pagerank policy
    for iterative graph ops.  The mode-with-min-tie pick packs into
    ONE int64 (cnt·2³² − (lbl+1), max-agg, decode) so the per-round
    aggregate stays hash-aggregable — never a struct max_by
    (SortAggregate trap) or a rank window.

    Node ids must be integers in [0, 2³²−1) (pack bound); hash or
    dense-rank string ids upstream.  Sync LPA can 2-cycle on
    bipartite-ish structure rather than converge — n_rounds is the
    contract, matching the bounded-peel semantics.

    Scale shape per round: one edge⋈labels equi-join + two hash-aggs
    ((node, lbl) counts, then per-node max) — all partition-parallel;
    per-round localCheckpoint truncates lineage (the
    pagerank_conserving lesson).
    """
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lbl = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").cast("long").alias("lbl")
    )
    two32 = 1 << 32
    for _ in range(int(n_rounds)):
        lbl = lbl.localCheckpoint(eager=False)
        votes = (
            und.join(lbl, und["b"] == lbl["node"])
            .groupBy(F.col("a"), F.col("lbl").alias("nl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        packed = (
            votes.groupBy("a")
            .agg(
                F.max(
                    F.col("cnt") * F.lit(two32) - (F.col("nl") + 1)
                ).alias("m")
            )
        )
        lbl = packed.select(
            F.col("a").alias("node"),
            (
                (F.expr(f"m div {two32}") + 1) * F.lit(two32)
                - F.col("m") - 1
            ).alias("lbl"),
        )
    return lbl


def clustering_coefficients(edges: DataFrame,
                            strategy: str = "wedge") -> DataFrame:
    """Per-node local clustering coefficient — the fifth classic graph
    primitive next to CC / PageRank / BFS / assortativity: of the
    pairs of my neighbors, what fraction know each other?

        coeff(u) = 2·tri(u) / (deg(u)·(deg(u)−1))

    Derivation rides the edge_jaccard wedge machinery: a triangle
    {u, v, w} contributes to the common-neighbor count of BOTH of u's
    incident edges (w on (u,v), v on (u,w)), so Σ_{edges at u} common
    = 2·tri(u) exactly — one unpivot + one hash-agg after the per-edge
    counts, no new wedge join.  tri is an exact integer (the halving
    divides an even int); coeff is ONE rounded divide, NULL for
    deg < 2 (no neighbor pairs to close).

    Output: (node, deg, n_triangles, coeff).

    Scale notes: inherits edge_jaccard's bound (wedge join capped by
    the hub-capped builder upstream); the per-node reduce adds one
    |E|-row unpivot and a nodes-sized hash-agg."""
    ej = edge_jaccard(edges, strategy=strategy)
    stacked = ej.select(
        F.col("u").alias("node"), "common", F.col("deg_u").alias("deg")
    ).unionByName(
        ej.select(
            F.col("v").alias("node"), "common",
            F.col("deg_v").alias("deg"),
        )
    )
    per = stacked.groupBy("node").agg(
        F.max("deg").alias("deg"),
        F.sum("common").alias("s2"),
    )
    return per.select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.expr("s2 div 2").cast("long").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                F.col("s2").cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ),
        ).alias("coeff"),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, w_total, w_reciprocated, reciprocity):
    weighted reciprocity of a directed graph — the share of edge
    mass that flows back:

        r = Σ_{i≠j} min(w_ij, w_ji) / Σ_{i≠j} w_ij

    Self-loops are excluded (they are trivially reciprocal).  r = 1
    on a symmetric graph, 0 on a DAG.  On the event-type transition
    graph this reads as "how much of the traffic is a dialogue vs a
    one-way funnel".

    Exact: weights are integer counts; min/sums exact; r is one
    division.  Scale: one self-equi-join on the AGGREGATED edge list
    (|V|² worst case, vocabulary-bounded), never on raw events."""
    e = edges.select(
        F.col("src").alias("s"),
        F.col("dst").alias("d"),
        F.col("w").cast("long").alias("w"),
    ).where(F.col("src") != F.col("dst"))
    rev = e.select(
        F.col("s").alias("d"), F.col("d").alias("s"),
        F.col("w").alias("w_rev"),
    )
    j = e.join(rev, ["s", "d"], "left").select(
        "w", F.coalesce("w_rev", F.lit(0)).alias("w_rev")
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("w").alias("w_total"),
        F.sum(F.least(F.col("w"), F.col("w_rev"))).alias("w_recip"),
    )
    return agg.select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("w_total").cast("long").alias("w_total"),
        F.col("w_recip").cast("long").alias("w_reciprocated"),
        F.round(
            F.col("w_recip").cast("double")
            / F.col("w_total").cast("double"), 6
        ).alias("reciprocity"),
    )


def hits_fixedpoint(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """(node, hub_u, auth_u): Kleinberg HITS after exactly n_iter
    UNNORMALIZED integer power iterations, normalized once at the end
    by integer DIV into micro-units — PageRank's companion question
    ("which nodes matter" vs "which nodes point at what matters"):

        a_k(v) = Σ_{(u,v)∈E} w·h_{k-1}(u)      (authority pull)
        h_k(u) = Σ_{(u,v)∈E} w·a_k(v)          (hub push)

    from h_0 = 1.  Per-round normalization (the textbook form) would
    need a float divide inside the loop; because each round is
    HOMOGENEOUS (scaling h scales a and h by the same factor), all K
    rounds run in widened integers (`functions.exact`) and ONE final
    integer division h·10⁶ DIV Σh yields the same micro-unit ranking
    bit-exactly in any engine — the pagerank_fixedpoint discipline
    applied to the two-sided iteration.

    Scale notes: per round, two equi-joins of the grouped edge list
    against a |V|-row score table + two hash-aggs — the PageRank loop
    run twice; K fixed, localCheckpoint seam as connected_components
    for long chains.  Integer bound: scores grow like (σ₁²)^K — with
    count weights W_tot per node-neighborhood, h_K ~ (deg·w)^{2K};
    the widened scores hold 2 rounds at w·deg ≲ 10⁹ per hop (ANSI
    mode errors loudly beyond)."""
    e = edges.groupBy("src", "dst").agg(
        F.sum("w").cast("long").alias("w")
    ).select(
        "src", "dst", "w"
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    h = nodes.select("node", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(int(n_iter)):
        a = (
            e.join(h, e["src"] == h["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(wide("w") * wide("h")).alias("a"))
        )
        h = (
            e.join(a, e["dst"] == a["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(wide("w") * wide("a")).alias("h"))
        )
    hf = nodes.join(h, "node", "left").select(
        "node", wide(F.coalesce("h", F.lit(0))).alias("h")
    )
    af = nodes.join(a, "node", "left").select(
        "node", wide(F.coalesce("a", F.lit(0))).alias("a")
    )
    j = hf.join(af, "node")
    tot = j.agg(F.sum("h").alias("th"), F.sum("a").alias("ta"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "node",
            idiv(F.col("h") * M_U, "th").alias("hub_u"),
            idiv(F.col("a") * M_U, "ta").alias("auth_u"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity contribution per community — the quality
    score that adjudicates a graph partition (label_propagation's
    output here): how much denser is each community than the
    degree-preserving random graph?

        (lbl, n_nodes, deg_sum, e_in, q_contrib)
        Q = Σ_c q_contrib,   q_contrib = (i_c·M − d_c²) / M²

    with M = |directed symmetrized edge set| = 2m, i_c = directed
    intra-community edge count (even by symmetry; e_in = i_c/2), and
    d_c = Σ degrees.  The numerator and denominator are EXACT
    integers in decimal(38,0)/hugeint (M² overflows int64 past ~3·10⁹
    directed edges), descaled by one double divide rounded 6 dp —
    bit-equal cross-engine.

    `labels` is any (node, lbl) assignment; the graph is symmetrized,
    self-loop-free, and deduplicated EXACTLY as label_propagation
    builds it, so composing the two scores the partition on the very
    graph that produced it.

    Scale notes (100 TB): two label-table equi-joins (labels are
    nodes-sized — broadcast while they fit), two hash-aggs, one 1-row
    total crossJoin (broadcast by construction).  Communities with no
    internal edge (sync-LPA 2-cycles can strand one) still appear via
    the left join, i_c = 0."""
    e = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    lab = labels.select("node", "lbl")
    tot = und.agg(wide(F.count(F.lit(1))).alias("M"))
    degs = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    dc = (
        degs.join(lab, "node")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            wide(F.sum("deg")).alias("d_sum"),
        )
    )
    la = lab.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    ic = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(wide(F.count(F.lit(1))).alias("i_c"))
    )
    i_c = F.coalesce(F.col("i_c"), wide(F.lit(0)))
    return (
        dc.join(ic, "lbl", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lbl",
            "n_nodes",
            F.col("d_sum").cast("long").alias("deg_sum"),
            (i_c / 2).cast("long").alias("e_in"),
            F.round(
                (i_c * F.col("M") - F.col("d_sum") * F.col("d_sum"))
                .cast("double")
                / (F.col("M") * F.col("M")).cast("double"), 6
            ).alias("q_contrib"),
        )
    )
