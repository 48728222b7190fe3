"""Unigram language-model statistics for training-data curation:

- doc_surprisal: per-document mean token surprisal −ln p(tok) under
  the corpus unigram model — the cheap LM-quality screen (gibberish
  and boilerplate sit at the two tails; natural text in the middle).
  The standard curation recipe before a real-LM perplexity pass.
- source_drift: KL(source ‖ corpus) over token distributions per
  source — distribution-shift monitoring between ingest feeds
  ("did feed X start sending something else?").

Fixed-point cross-engine determinism (same trick as bm25.bm25_topk):
every ln() result is snapped to integer micro-units *before* any sum,
so aggregation is exact integer arithmetic and float addition order
can never change a result; DuckDB matches bit-for-bit.  All
probabilities enter ln() as a single division of two exact integers.

Scale notes (100 TB): token counts collapse in map-side partial aggs
(shuffle ~ |vocab| for the model, ~ |doc×distinct-tok| for scoring);
the vocab model joins the token stream keyed by token — at real vocab
sizes that's a shuffle join keyed on a zipfian column, so the hot
1000 tokens ride the SAME broadcast-threshold logic AQE applies, and
the corpus-total row is a 1-row broadcast.  No windows, no driver
round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import snap, wide
from timeseriescorrelation_spark.operators.dedup import tokenize
from timeseriescorrelation_spark.operators.ranks import global_row_number
from timeseriescorrelation_spark.session import local_frame


def _tokens(docs: DataFrame) -> DataFrame:
    return tokenize(docs).select("doc_id", F.explode("toks").alias("tok"))


def doc_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_toks, surprisal_u): mean −ln p(tok) per doc in
    integer micro-nats; p(tok) = corpus_count(tok)/corpus_total, so
    every token's surprisal is ln of one exact-integer ratio.  The
    per-doc mean divides the exact integer sum by the exact token
    count — one IEEE division, bit-equal cross-engine — then floors
    back to integer micro-nats (floor, not round: ties impossible)."""
    t = _tokens(docs)
    vocab = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("n_total"))
    per_tok = (
        t.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            snap(
                F.log(
                    F.col("n_total").cast("double")
                    / F.col("c").cast("double")
                ),
                6,
            ).alias("su"),
        )
    )
    g = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("su").alias("ssum"),
    )
    return g.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.floor(
            F.col("ssum").cast("double") / F.col("n_toks").cast("double")
        ).cast("long").alias("surprisal_u"),
    )


def bigram_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, surprisal2_u): per-document mean bigram
    surprisal −ln p(w_i | w_{i−1}) in integer micro-nats under the
    corpus bigram LM with Laplace(+1) smoothing:

        p(b | a) = (c(ab) + 1) / (c_hist(a) + V)

    where c(ab) is the corpus bigram count, c_hist(a) = Σ_b c(ab)
    (occurrences of `a` as a history), and V = |corpus vocabulary|.
    The unigram screen (doc_surprisal) scores word RARITY; this one
    scores word ORDER — shuffled or templated text keeps its unigram
    profile but its bigrams collapse to the smoothing floor, which is
    exactly the signal a curation pass wants next.

    Same fixed-point discipline as doc_surprisal: every ln() sees one
    division of two exact integers and is snapped to integer
    micro-nats before the per-doc sum, so cross-engine results are
    bit-identical.

    Scale notes (100 TB): bigrams are built IN-ROW (zip_with over the
    token array — no window, no self-join); the model is two hash-aggs
    with map-side combine (shuffle ~ |distinct bigrams| + |vocab|);
    scoring joins the bigram stream keyed by (a, b) with AQE's skew
    handling on the zipfian head, and V is a 1-row broadcast."""
    t = tokenize(docs)
    bg = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("g"),
    ).select("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    pair_n = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    hist_n = bg.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    vocab_n = (
        t.select(F.explode("toks").alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    per_bg = (
        bg.join(pair_n, ["a", "b"])
        .join(hist_n, "a")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "doc_id",
            snap(
                F.log(
                    (F.col("c_a") + F.col("v")).cast("double")
                    / (F.col("c_ab") + F.lit(1)).cast("double")
                ),
                6,
            ).alias("su"),
        )
    )
    g = per_bg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("su").alias("ssum"),
    )
    return g.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.floor(
            F.col("ssum").cast("double") / F.col("n_bigrams").cast("double")
        ).cast("long").alias("surprisal2_u"),
    )


def source_drift(docs: DataFrame) -> DataFrame:
    """(source, n_toks, kl_u): KL(source ‖ corpus) in integer
    micro-nats — Σ_tok p_s(tok)·ln(p_s(tok)/p(tok)), computed as the
    exact-integer-weighted sum of per-token micro-nat logs divided by
    the source's exact token total.

    ln(p_s/p) = ln((c_s·N)/(c·N_s)) — one division of two exact
    integer PRODUCTS, so both engines feed ln() the same double.
    Zero-count corpus tokens can't occur (source ⊆ corpus), so KL is
    always finite."""
    t = _tokens(docs).join(
        docs.select("doc_id", "source"),
        "doc_id",
    )
    per_src = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("cs")
    )
    vocab = per_src.groupBy("tok").agg(F.sum("cs").alias("c"))
    src_tot = per_src.groupBy("source").agg(F.sum("cs").alias("ns"))
    tot = vocab.agg(F.sum("c").alias("n_total"))
    j = (
        per_src.join(vocab, "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(tot))
    )
    # per-token term, scaled by the integer weight cs BEFORE snapping:
    # round(cs · ln((cs·N)/(c·ns)) · 1e6) keeps the weighting exact.
    # The integer products go through decimal(38,0) (hugeint in the
    # oracle): cs·N at a 10¹⁴-token corpus would overflow int64
    term_u = snap(
        F.col("cs").cast("double")
        * F.log(
            (wide("cs") * wide("n_total")).cast("double")
            / (wide("c") * wide("ns")).cast("double")
        ),
        6,
    )
    g = j.groupBy("source").agg(
        F.max("ns").alias("n_toks"),
        F.sum(term_u).alias("ksum"),
    )
    return g.select(
        "source",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.floor(
            F.col("ksum").cast("double") / F.col("n_toks").cast("double")
        ).cast("long").alias("kl_u"),
    )


def collocations_pmi(docs: DataFrame, min_pair_n: int = 5) -> DataFrame:
    """(tok_a, tok_b, pair_n, pmi_u): adjacent-bigram pointwise mutual
    information in integer micro-nats — collocation discovery ("which
    token pairs co-occur far above chance?"), the classic first step
    of phrase/vocab induction over a training corpus.

        PMI = ln( p(a,b) / (p(a)·p(b)) )
            = ln( (pair_n · N_tok²) / (N_pair · c_a · c_b) )

    — ONE ln of a ratio of two exact integer products (decimal(38,0)
    widened; c_a·c_b·N_pair at a 10¹⁴-token corpus overflows int64³),
    snapped to micro-nats.  Unordered pairs (a<b collapses both
    directions); pairs below min_pair_n are dropped (PMI of rare
    pairs is noise — standard practice).

    Scale notes (100 TB): bigrams come from one in-row zip of the
    token array with its tail (no self-join); both the unigram and
    bigram tables collapse map-side to ~|vocab| and ~|bigram vocab|
    rows; the final join keys bigrams onto two broadcast-or-shuffled
    unigram lookups.  No windows, no driver loops."""
    t = tokenize(docs)
    big = t.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice(
                    "toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))
                ),
                lambda a, b: F.struct(
                    F.least(a, b).alias("tok_a"),
                    F.greatest(a, b).alias("tok_b"),
                ),
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    uni = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    pairs_all = big.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("pair_n")
    )
    # normalizer uses the UNFILTERED bigram total: p(a,b) must not
    # depend on the reporting threshold
    n_pair = pairs_all.agg(F.sum("pair_n").alias("n_pair"))
    pairs = pairs_all.where(F.col("pair_n") >= int(min_pair_n))
    j = (
        pairs.join(
            uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca")),
            "tok_a",
        )
        .join(
            uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb")),
            "tok_b",
        )
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pair))
    )
    pmi_u = snap(
        F.log(
            (wide("pair_n") * wide("n_tok") * wide("n_tok")).cast("double")
            / (wide("n_pair") * wide("ca") * wide("cb")).cast("double")
        ),
        6,
    )
    return j.select(
        "tok_a", "tok_b",
        F.col("pair_n").cast("long").alias("pair_n"),
        pmi_u.alias("pmi_u"),
    )


def phrase_search(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """(doc_id, n_hits): documents containing the exact token phrase,
    via a POSITIONAL inverted index — the retrieval primitive BM25's
    bag-of-words scoring can't express ("merge batch part", in that
    order, adjacent).

    Each phrase term i joins the index on its token, then the
    candidate rows equi-join on (doc_id, pos − i): a document matches
    where all |phrase| terms share one anchor position.  That is the
    standard positional-index phrase plan (Lucene's exact
    PhraseQuery): |phrase| equi-joins over SHORT posting lists, never
    a regex scan of every document's text.

    Scale notes (100 TB): posting lists shuffle keyed by token (only
    the phrase's tokens survive the pushed-down isin filter); the
    position join is keyed (doc_id, anchor) — all equi-joins; n_hits
    per doc is one hash-agg."""
    if len(phrase) < 2:
        raise ValueError("phrase_search: need >= 2 tokens")
    t = tokenize(docs)
    idx = t.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).where(F.col("tok").isin(list(phrase)))
    anchored = None
    for i, term in enumerate(phrase):
        side = idx.where(F.col("tok") == term).select(
            "doc_id", (F.col("pos") - F.lit(i)).alias("anchor")
        )
        anchored = side if anchored is None else anchored.join(
            side, ["doc_id", "anchor"]
        )
    return (
        anchored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


def zipf_fit(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Zipf-law fit over the corpus token frequency spectrum: the
    log-log regression ln(freq) ~ α·ln(rank) over the top_k tokens —
    natural language sits near α ≈ −1, and a corpus that drifts far
    from it (α ≈ 0: near-uniform boilerplate/spam; α « −1: tiny
    effective vocabulary) fails the LM-data sniff test.  Returns one
    row: (vocab, n_tokens, zipf_alpha, r2, top_token).

    Ranking: top_k by (freq DESC, token ASC) — a TakeOrdered top-k,
    never a full global sort; the subsequent rank window runs on the
    top_k-row result (bounded, single small partition by construction).

    Exactness: ranks are the integers 1..top_k and freqs exact BIGINTs,
    so x = ln(rank), y = ln(freq) are deterministic up to libm's last
    ulp — every regression moment (Σx, Σx², Σy, Σy², Σxy) is
    micro-snapped per term and integer-summed (the periodogram/hurst
    discipline), then α and r² are closed-form doubles of those exact
    integers.

    Scale notes (100 TB): one explode + hash-agg (map-side combinable)
    collapses the corpus to its vocabulary; top-k + a 100-row window +
    a 1-row aggregate after that."""
    tf = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tot = tf.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("f").alias("n_tokens")
    )
    top = tf.orderBy(F.col("f").desc(), F.col("tok").asc()).limit(
        int(top_k)
    )
    # rank WITHOUT a global window: (f desc, tok) is a total order on
    # the top_k-row table, so r = 1 + |rows strictly ahead| via a
    # broadcast self-join — top_k² comparisons on ≤100 rows, versus a
    # WindowExec that drags the table to one partition (and warns);
    # identical to row_number because the key is unique per tok
    a, b = top.alias("a"), top.alias("b")
    ahead = (F.col("b.f") > F.col("a.f")) | (
        (F.col("b.f") == F.col("a.f")) & (F.col("b.tok") < F.col("a.tok"))
    )
    ranked = (
        a.join(F.broadcast(b), ahead, "left")
        .groupBy(F.col("a.tok").alias("tok"), F.col("a.f").alias("f"))
        .agg((F.count(F.col("b.tok")) + 1).cast("long").alias("r"))
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("f").cast("double"))

    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(snap(x, 6)).alias("sx"),
        F.sum(snap(x * x, 6)).alias("sxx"),
        F.sum(snap(y, 6)).alias("sy"),
        F.sum(snap(y * y, 6)).alias("syy"),
        F.sum(snap(x * y, 6)).alias("sxy"),
        F.min(F.when(F.col("r") == 1, F.col("tok"))).alias("top_token"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # micro-units cancel in the ratios: (n·Σxy − ΣxΣy) has units µ²
    # in the cross terms and µ·n in the n-scaled ones — scale the
    # n-scaled terms by 1e6 so everything is µ² before dividing
    num = n * sxy * F.lit(1e6) - sx * sy
    dx = n * sxx * F.lit(1e6) - sx * sx
    dy = n * syy * F.lit(1e6) - sy * sy
    return m.crossJoin(F.broadcast(tot)).select(
        F.col("vocab").cast("long").alias("vocab"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(num / dx, 6).alias("zipf_alpha"),
        F.round(num * num / (dx * dy), 6).alias("r2"),
        "top_token",
    )


def dsir_weights(docs: DataFrame, target_source: str, n_buckets: int = 4096,
                 mode: str = "vocab") -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every NON-target document by how much more
    likely its hashed-bigram bag is under the target domain's unigram
    bucket model than under the raw pool's —

        logw = Σ_bigram [ ln p̂_target(bucket) − ln p̂_raw(bucket) ]

    with add-1 smoothing on both models.  Resampling itself is then
    just weighted_sample / topk_global on the returned weights.

    Output (doc_id, source, n_bigrams, logw_u) — logw in integer
    micro-nats, the module's fixed-point discipline: each bucket's
    log-ratio is ln of exact-integer ratios snapped to µ-nats BEFORE
    the per-doc sum, so the sum is exact integer arithmetic and
    bit-equal cross-engine.  Docs with < 2 tokens have no bigrams and
    drop out (score undefined, not 0).

    Bucketing: bigram → dense vocab rank → affine mix → mod B.
    mode="vocab" (default) ranks by global sort — oracle-replicable,
    test scale; mode="xxhash64" skips the vocabulary entirely
    (bucket = xxhash64(bigram) mod B) — the 100 TB path, identical
    statistics, no global sort.  The B-row model table broadcasts;
    the only wide shuffle is the bigram count hash-agg."""
    from timeseriescorrelation_spark.operators.dedup import (
        A_J, B_J, P31,
    )

    base = docs.select(
        "doc_id",
        "source",
        F.split(F.lower(F.col("text")), r"\s+").alias("toks"),
    )
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = base.select(
        "doc_id", "source",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i),
                    F.element_at("toks", i + F.lit(1)),
                ),
            )
        ).alias("bg"),
    )
    if mode == "xxhash64":
        bucketed = bg.select(
            "doc_id", "source",
            F.pmod(F.xxhash64("bg"), F.lit(n_buckets)).alias("bkt"),
        )
    else:
        ranked, _ = global_row_number(
            bg.select("bg").distinct(), ["bg"], "tid"
        )
        vocab = ranked.select(
            "bg",
            F.pmod(
                F.col("tid") * F.lit(A_J[0]) + F.lit(B_J[0]),
                F.lit(P31),
            ).__mod__(F.lit(n_buckets)).alias("bkt"),
        )
        bucketed = bg.join(F.broadcast(vocab), "bg").select(
            "doc_id", "source", "bkt"
        )
    is_t = F.col("source") == target_source
    per_bkt = bucketed.groupBy("bkt").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("cr"),
    )
    tot = per_bkt.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    model = per_bkt.crossJoin(F.broadcast(tot)).select(
        "bkt",
        snap(
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("nt") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("nr") + n_buckets).cast("double")
            ),
            6,
        ).alias("lr_u"),
    )
    return (
        bucketed.where(~is_t)
        .join(F.broadcast(model), "bkt")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lr_u").cast("long").alias("logw_u"),
        )
    )


def trigram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, n_trigrams, n_novel, novelty): per document, the
    share of its distinct word n-grams that appear in NO
    earlier-id document — the curation-order novelty score.  A crawl
    processed in doc_id order wants high-novelty docs first and can
    drop the long tail of boilerplate re-statements; this is the
    per-doc aggregate view of what dedup_ngram_jaccard scores
    pairwise (novelty 1.0 = contributes only unseen text, ~0 =
    restates the corpus so far).

    "Earlier" is the data's own deterministic order (min doc_id per
    n-gram claims it), so the score is reproducible under any
    partitioning — no timestamps consulted.  Counts are exact
    integers off ONE posting-list hash-agg (min per shingle) joined
    back to the per-doc lists; novelty is one divide, 6 dp.  Docs
    with < n tokens drop (no n-grams — the shingles contract).

    Scale: shingles is in-row (array_distinct before explode); the
    min-agg and the join are both |postings|-sized equi-shuffles —
    the exact-dedup shape, no pair joins anywhere."""
    from timeseriescorrelation_spark.operators.dedup import shingles

    sh = shingles(docs, n=n)
    first = sh.groupBy("shingle").agg(
        F.min("doc_id").alias("first_doc")
    )
    j = sh.join(first, "shingle")
    g = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
        .alias("n_novel"),
    )
    return g.select(
        "doc_id",
        F.col("n_trigrams").cast("long").alias("n_trigrams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.round(
            F.col("n_novel").cast("double")
            / F.col("n_trigrams").cast("double"), 6
        ).alias("novelty"),
    )


def lang_temperature_weights(docs: DataFrame, alpha: float = 0.3) -> DataFrame:
    """(lang, n_docs, p_nat, p_samp, boost): temperature-based
    multilingual sampling weights — the mC4/XLM-R α-sampling rule
    (Conneau et al. 2020) a multilingual training-data pipeline
    applies before packing:

        q_l ∝ p_l^α,   p_l = n_l / N,   α ∈ (0, 1]

    α < 1 up-samples tail languages (boost = q_l/p_l > 1) and
    down-samples the head — the knob between "natural" (α=1) and
    "uniform" (α→0).

    Exactness recipe: p_l^α = exp(α·ln p_l) needs TWO libm calls, so
    both are snapped at their boundaries (the micro-nat ln policy,
    doc_surprisal): ln(n_l/N) of the exact-integer ratio rounds to
    integer µ-nats, α·(µ/1e6) is one shared IEEE product, and exp of
    it snaps to integer 1e-9 units BEFORE normalization — so the
    final q_l is a ratio of exact integers in both engines, and the
    ≤1-ulp libm differences live strictly inside half-unit snap
    margins (the logit_fit single-surface argument, twice).

    Scale: one hash-agg to |languages| rows; everything after is
    metadata-sized (broadcast total, window normalization)."""
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = g.agg(F.sum("n_docs").alias("nn"))
    j = g.crossJoin(F.broadcast(tot))
    lnp_u = snap(
        F.log(F.col("n_docs").cast("double") / F.col("nn").cast("double")), 6
    )
    e_u = snap(
        F.exp(F.lit(float(alpha)) * (lnp_u.cast("double") / F.lit(1e6))), 9
    )
    t = j.select(
        "lang", "n_docs", "nn", e_u.alias("eu"),
    )
    # broadcast 1-row normalizer, not a partition-less window: same
    # value, but WindowExec would log a single-partition warning on
    # every run (and the plan-lint watches for that shape)
    se = t.agg(F.sum("eu").alias("se"))
    t = t.crossJoin(F.broadcast(se))
    return t.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.col("n_docs").cast("double") / F.col("nn").cast("double"),
            6,
        ).alias("p_nat"),
        F.round(
            F.col("eu").cast("double") / F.col("se").cast("double"),
            6,
        ).alias("p_samp"),
        F.round(
            (F.col("eu").cast("double") / F.col("se").cast("double"))
            / (F.col("n_docs").cast("double")
               / F.col("nn").cast("double")),
            6,
        ).alias("boost"),
    )


def coverage_greedy(docs: DataFrame, k: int = 5, ngram: int = 1) -> DataFrame:
    """(round, doc_id, gain, covered_total): greedy max-coverage
    selection of k documents by NEW distinct tokens covered — the
    submodular data-selection primitive (facility-location greedy,
    Nemhauser 1−1/e guarantee) an LLM curation pipeline runs to pick
    a maximally-diverse seed set; dsir_weights scores documents
    against a target, this picks the set that COVERS the corpus.

    Deterministic: each round picks the document with the most
    not-yet-covered distinct tokens, ties to the smallest id — an
    integer argmax both engines replay; the oracle unrolls the k
    rounds (each an anti-join of covered tokens + count + argmax),
    bit-exact.  Rounds with zero remaining gain stop early.

    Scale: the token postings table is |doc|·|distinct tokens/doc|;
    each round is one anti-join + one hash-agg + a 1-row TakeOrdered;
    the covered set is localCheckpointed per round (the CC/pagerank
    pacing policy).  k is small by design — greedy selection is a
    seed-set tool, not a ranking."""
    # coverage unit: distinct word `ngram`s (1 = plain tokens; ≥2 when
    # the unigram vocabulary is too small to discriminate documents —
    # empty tokens filtered BEFORE gram assembly so both engines see
    # identical grams)
    arr = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda x: x != F.lit(""),
    )
    if int(ngram) <= 1:
        toks = docs.select(
            "doc_id", F.explode(arr).alias("tok")
        ).distinct().localCheckpoint(eager=True)
    else:
        n = int(ngram)
        t = docs.select("doc_id", arr.alias("toks"))
        idx = F.when(
            F.size("toks") >= n,
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        gram = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at("toks", i + j) for j in range(n)]
            ),
        )
        toks = t.select(
            "doc_id", F.explode(F.array_distinct(gram)).alias("tok")
        ).localCheckpoint(eager=True)
    spark = docs.sparkSession
    covered = None
    rows = []
    total = 0
    for i in range(int(k)):
        rem = toks if covered is None else toks.join(
            covered, "tok", "left_anti"
        )
        pick = (
            rem.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not pick or pick[0]["gain"] == 0:
            break
        did, gain = pick[0]["doc_id"], int(pick[0]["gain"])
        total += gain
        rows.append((i + 1, did, gain, total))
        new_cov = toks.where(F.col("doc_id") == did).select("tok")
        covered = (
            new_cov if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=True)
    # doc_id keeps the SOURCE id type (string ids are first-class —
    # int(did) would crash the first non-integer caller, r4 advice)
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("round", IntegerType(), False),
        StructField("doc_id", docs.schema["doc_id"].dataType, True),
        StructField("gain", LongType(), False),
        StructField("covered_total", LongType(), False),
    ])
    return local_frame(spark, rows, schema)
