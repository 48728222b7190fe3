"""Text analysis for the training-data pipeline: token counting
(whitespace + BPE-ish regex), quality scoring (length / stopword /
uniqueness ratios), a deterministic language-ID heuristic, and an
order-sensitive document fingerprint.

Everything is native pyspark.sql.functions (regexp/array/aggregate) —
no Python in the hot path; each operator is a single projection or
hash-agg, embarrassingly parallel over docs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.exact import (
    co_moment,
    moments,
    snap,
)
from timeseriescorrelation_spark.operators.dedup import (
    A_MUL,
    B_ADD,
    P31,
    tokenize,
)
from timeseriescorrelation_spark.operators.ranks import global_row_number

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: letter runs | digit runs | single other glyph
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality stats: (doc_id, n_chars, n_tokens, n_uniq,
    stop_cnt, bpe_cnt, avg_tok_len, stop_ratio).

    Counts are exact ints; the two ratios are rounded doubles."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size("toks")
    stop_cnt = F.size(F.filter("toks", lambda x: F.array_contains(stops, x)))
    tok_chars = F.aggregate(
        "toks", F.lit(0), lambda acc, x: acc + F.length(x)
    )
    # single narrow projection — tokens are derived from the same
    # lowered text in-row (joining a separate tokenize() output back on
    # doc_id would shuffle the whole corpus for a per-row computation)
    joined = docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars"),
        F.lower(F.col("text")).alias("_lt"),
    ).withColumn("toks", F.split(F.col("_lt"), r"\s+"))
    return joined.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        stop_cnt.alias("stop_cnt"),
        F.regexp_count("_lt", F.lit(BPE_RE)).alias("bpe_cnt"),
        F.round(
            tok_chars.cast("double") / n_tokens.cast("double"), 6
        ).alias("avg_tok_len"),
        F.round(
            stop_cnt.cast("double") / n_tokens.cast("double"), 6
        ).alias("stop_ratio"),
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical text cleaning for the training pipeline: lowercase,
    strip control characters, collapse whitespace runs to one space,
    trim.  Pure per-row projection (no shuffle); emits the cleaned text
    plus how many characters cleaning removed (a cheap quality signal —
    heavily-cleaned docs are usually junk)."""
    raw = F.col("text")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), r"[\x00-\x1f\x7f]", " "),
            r"\s+", " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        (F.length(raw) - F.length(cleaned)).alias("chars_removed"),
    )


def langid_heuristic(docs: DataFrame) -> DataFrame:
    """Deterministic n-gram-style language heuristic ->
    (doc_id, vowel_ratio, pred_lang).

    Buckets the vowel/letter ratio (a real — if crude — char-ngram
    signal; the synthetic corpus is same-vocab so the value here is the
    oracle-checked plumbing, not linguistic accuracy)."""
    lt = F.lower(F.col("text"))
    vowels = F.regexp_count(lt, F.lit(r"[aeiou]"))
    letters = F.regexp_count(lt, F.lit(r"[a-z]"))
    ratio = F.when(letters > 0, vowels.cast("double") / letters.cast("double")).otherwise(F.lit(0.0))
    pred = (
        F.when(ratio >= 0.46, F.lit("fi"))
        .when(ratio >= 0.42, F.lit("es"))
        .when(ratio >= 0.38, F.lit("en"))
        .when(ratio >= 0.34, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("vowel_ratio"),
        pred.alias("pred_lang"),
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """Order-sensitive positional fingerprint per doc:

        fp = sum over positions p (1-based) of p * g(token_p)  mod 2^31,
        g(tok) = (A * crc32(tok) + B) mod P31.

    crc32 is bit-identical across Spark and standard zlib/DuckDB-side
    reimplementation is avoided by exposing token hashes via the vocab
    path in the driver query instead; this native version uses crc32 for
    the scale path.  Reordering any two distinct tokens changes fp."""
    t = tokenize(docs)
    g = (
        F.crc32(F.col("tok").cast("binary")) * F.lit(A_MUL) + F.lit(B_ADD)
    ) % F.lit(P31)
    # each term reduced mod 2^31 BEFORE the sum: the raw sum of
    # (pos * g) terms overflows int64 (ANSI throw) past ~2^20 tokens
    # in one doc; (Σ (aᵢ mod m)) mod m == (Σ aᵢ) mod m, so per-term
    # reduction changes nothing and the sum stays < n·2^31
    term = ((F.col("pos") + 1) * g) % F.lit(1 << 31)
    return (
        t.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % F.lit(1 << 31)).alias("fp"))
    )


def doc_fingerprints_vocab(docs: DataFrame) -> DataFrame:
    """Oracle-mode fingerprint: g over rank-in-vocabulary token ids
    (ANSI-SQL-replicable; same shape as `doc_fingerprints`)."""
    t = tokenize(docs).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    vocab, _ = global_row_number(t.select("tok").distinct(), ["tok"], "tid")
    g = (F.col("tid") * F.lit(A_MUL) + F.lit(B_ADD)) % F.lit(P31)
    # per-term mod 2^31 before the sum — see doc_fingerprints (int64
    # overflow guard; identical result, and the DuckDB oracle's HUGEINT
    # sum is unaffected)
    term = ((F.col("pos") + 1) * g) % F.lit(1 << 31)
    return (
        t.join(F.broadcast(vocab), "tok")
        .select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % F.lit(1 << 31)).alias("fp"))
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition measures (the Gopher/MassiveText
    repetition filters, adapted to whitespace tokens):

      - dup_tok_frac:   1 - distinct/total tokens
      - dup_2gram_frac: 1 - distinct/total word bigrams
      - top_tok_frac:   occurrences of the most frequent token / total

    Everything is computed IN-ROW with array HOFs — no explode, no
    shuffle, no vocabulary: the operator is embarrassingly parallel
    and scales linearly with corpus bytes.  The top-token scan is
    O(n_tokens · n_distinct) per document, which is the right trade at
    corpus scale: a groupBy-token alternative would shuffle every
    token of every document for a per-document answer.
    """
    toks = F.split(F.lower(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("t"))
    n = F.size("t")
    nd = F.size(F.array_distinct("t"))
    idx2 = F.when(
        n >= 2, F.sequence(F.lit(1), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    g2 = F.transform(
        idx2,
        lambda i: F.concat_ws(
            " ", F.element_at("t", i), F.element_at("t", i + 1)
        ),
    )
    # max token multiplicity == longest equal-adjacent run of the
    # SORTED token array: one O(n log n) sort + one O(n) fold, vs the
    # naive distinct×filter scan which is O(n_tokens · n_distinct)
    # per document (measured 8× slower on the documents fixture — HOF
    # lambdas are interpreted, so the constant matters)
    top_cnt = F.aggregate(
        F.array_sort("t"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return (
        d.where(n > 0)
        .select(
            "doc_id",
            n.alias("n_toks"),
            nd.alias("n_distinct_toks"),
            F.round(1 - nd / n.cast("double"), 6).alias("dup_tok_frac"),
            F.size(g2).alias("n_2grams"),
            F.when(
                F.size(g2) > 0,
                F.round(
                    1
                    - F.size(F.array_distinct(g2))
                    / F.size(g2).cast("double"),
                    6,
                ),
            ).alias("dup_2gram_frac"),
            F.round(top_cnt / n.cast("double"), 6).alias("top_tok_frac"),
        )
    )


def chunk_windows(docs: DataFrame, width: int = 50,
                  stride: int = 40) -> DataFrame:
    """Context-window chunking: token windows of `width` with `stride`,
    the tail covered exactly once (last start = 1 + stride·ceil((n −
    width)/stride)).  In-row generator, no shuffle; emits (doc_id,
    chunk_idx, n_toks, chunk_md5) so downstream checks can verify
    chunk CONTENT, not just counts."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("t"))
    n = F.size("t")
    last_start = F.lit(1) + F.lit(stride) * F.expr(
        f"(greatest(size(t) - {width}, 0) + {stride - 1}) div {stride}"
    )
    starts = F.sequence(
        F.lit(1).cast("long"),
        last_start.cast("long"),
        F.lit(stride).cast("long"),
    )
    return (
        d.where(n > 0)
        .select(
            "doc_id", "t",
            F.posexplode(starts).alias("chunk_idx", "start"),
            n.alias("_n"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.col("_n") - F.col("start").cast("int") + 1, F.lit(width)
            ).alias("n_toks"),
            F.md5(
                F.concat_ws(
                    " ", F.expr(f"slice(t, cast(start AS int), {width})")
                )
            ).alias("chunk_md5"),
        )
    )


def chunk_dup_stats(docs: DataFrame, width: int = 50,
                    stride: int = 40) -> DataFrame:
    """Cross-document chunk-level duplication (the chunked
    approximation of exact-substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"):
    a chunk is duplicated when its md5 occurs in MORE THAN ONE
    distinct document; per doc report the duplicated-chunk fraction —
    the signal substring-dedup pipelines threshold on before cutting.

    Scale: one shuffle keyed on chunk_md5 (uniform 128-bit keys — no
    skew) for the distinct-doc counts, one shuffle back on chunk_md5
    to tag chunks, one hash-agg on doc_id.  Never all-pairs; corpus
    never collected.  count(distinct doc_id) per md5 is exact; at
    100 TB swap in approx HLL registers (operators/sketches.py) if
    ±2% suffices."""
    ch = chunk_windows(docs, width, stride)
    df = ch.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    tagged = ch.join(df, "chunk_md5")
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup_chunks"),
        F.round(
            F.sum((F.col("n_docs") > 1).cast("long"))
            / F.count("*").cast("double"),
            6,
        ).alias("dup_frac"),
    )


def pack_sequences(docs: DataFrame, budget: int = 2048) -> DataFrame:
    """Token-budget sequence packing — the training-batch construction
    step: assign docs to fixed-budget packs and report per pack

        (group, pack_id, n_docs, n_tokens, first_doc, last_doc)

    Deterministic offset packing: docs are laid out in (group, doc_id)
    order; each doc's pack is floor(preceding-token-count / budget) —
    the pack where the doc STARTS in the virtual concatenated stream
    (docs may straddle a boundary; the trainer's loader splits them,
    the pack table tells it what to read).  A greedy first-fit packer
    is inherently sequential; the offset rule is the order-preserving
    distributed form every sharded pretraining loader actually uses,
    and it is a pure function of the data — reproducible and
    oracle-checkable.

    Scale notes (100 TB): one projection (in-row token count on the
    whitespace split — same tokenizer as text_stats), one cumulative
    window per group (shuffle keyed by group; add a date/shard column
    to the group for narrower partitions at extreme corpus sizes), one
    hash-agg."""
    w = Window.partitionBy("grp").orderBy("doc_id")
    pre = F.coalesce(
        F.sum("_nt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    d = docs.select(
        F.col("source").alias("grp"),
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), r"\s+")).alias("_nt"),
    ).withColumn(
        "pack_id", F.floor(pre / F.lit(int(budget))).cast("long")
    )
    return d.groupBy("grp", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def vocab_growth(docs: DataFrame, batch_size: int = 100) -> DataFrame:
    """(batch_id, n_docs, batch_vocab, new_tokens, cum_vocab): the
    Heaps-law vocabulary-growth curve over ingestion order — how many
    NEVER-BEFORE-SEEN tokens each batch of `batch_size` docs
    contributes, and the running vocabulary size.  A flattening curve
    means the corpus is saturating (more data, no new language); a
    batch spiking `new_tokens` off-trend is a domain shift or an
    encoding bug arriving mid-ingest.

    Exact by construction — everything is distinct-counting over
    whitespace tokens (the engine's tokenizer convention), no floats.

    Scale notes (100 TB): the token explode is linear and collapses
    map-side to distinct (token, batch); first-sightings come from ONE
    hash-agg min over those (state = |vocab|, the quantity being
    measured); the cumulative window runs on |batches| rows —
    metadata-sized, single-partition BY DESIGN (const_partition)."""
    from timeseriescorrelation_spark.functions.timeutil import (
        const_partition,
    )

    b = F.floor(F.col("doc_id") / F.lit(int(batch_size))).cast("long")
    toks = docs.select(
        b.alias("batch_id"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "").distinct()
    per_batch = toks.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("batch_vocab")
    )
    firsts = toks.groupBy("tok").agg(F.min("batch_id").alias("batch_id"))
    new_per = firsts.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("new_tokens")
    )
    ndocs = docs.groupBy(
        F.floor(F.col("doc_id") / F.lit(int(batch_size)))
        .cast("long").alias("batch_id")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    joined = (
        ndocs.join(per_batch, "batch_id", "left")
        .join(new_per, "batch_id", "left")
        .select(
            "batch_id", "n_docs",
            F.coalesce("batch_vocab", F.lit(0)).alias("batch_vocab"),
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
    )
    w = (
        Window.partitionBy(const_partition("batch_id"))
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "batch_id", "n_docs", "batch_vocab", "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("cum_vocab"),
    )


def source_scorecard(docs: DataFrame) -> DataFrame:
    """Per-source training-data quality scorecard — the one-screen
    answer to "which corpus slices are worth their tokens": document
    and exact-duplicate counts, tokens/doc, distinct-token ratio,
    stopword ratio, BPE-pieces-per-char, and the majority language
    with its share.

    Every ratio is a corpus-level quotient of EXACT integer sums
    (Σstop_cnt/Σn_tokens etc.), never a mean of per-doc float ratios —
    means of rounded doubles would inherit engine summation order,
    and corpus-level ratios are the statistically right weighting
    anyway (a 10-token doc should not count like a 10k-token one).
    The per-doc integer columns inline text_stats' expressions rather
    than joining its output back on doc_id: that join would shuffle
    the corpus for per-row arithmetic (see text_stats' own note).

    Scale notes (100 TB): one projection over the corpus → two
    hash-aggs (md5 dup counts keyed by the hash; the scorecard keyed
    by source) + one narrow (doc_id, lang)⋈(doc_id, source) shuffle
    join for the language mode — all map-side combinable, output is
    |sources| rows."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS])
    base = docs.select(
        "source",
        F.md5(F.col("text")).alias("_h"),
        F.length(F.col("text")).alias("n_chars"),
        F.lower(F.col("text")).alias("_lt"),
    ).withColumn("t", F.split(F.col("_lt"), r"\s+"))
    ints = base.select(
        "source", "_h", "n_chars",
        F.size("t").alias("nt"),
        F.size(F.array_distinct("t")).alias("nu"),
        F.size(F.filter("t", lambda x: F.array_contains(stops, x)))
        .alias("sc"),
        F.regexp_count("_lt", F.lit(BPE_RE)).alias("bc"),
    )
    hc = ints.groupBy("_h").agg(F.count(F.lit(1)).alias("_dn"))
    per = ints.join(hc, "_h").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("_dn") > 1, 1).otherwise(0)).alias("n_dup"),
        F.sum("n_chars").alias("schars"),
        F.sum("nt").alias("st"),
        F.sum("nu").alias("su"),
        F.sum("sc").alias("ss"),
        F.sum("bc").alias("sb"),
    )
    lid = langid_heuristic(docs)
    lmode = (
        lid.join(
            docs.select("doc_id", "source"),
            "doc_id",
        )
        .groupBy("source", "pred_lang")
        .agg(F.count(F.lit(1)).alias("lc"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lc").desc(), F.col("pred_lang").asc()
    )
    top_lang = (
        lmode.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("source", F.col("pred_lang").alias("top_lang"),
                F.col("lc").alias("_lc"))
    )
    return per.join(F.broadcast(top_lang), "source").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_dup").cast("long").alias("n_dup_docs"),
        F.col("schars").cast("long").alias("total_chars"),
        F.round(F.col("st").cast("double") / F.col("n_docs"), 6)
        .alias("tok_per_doc"),
        F.round(F.col("su").cast("double") / F.col("st"), 6)
        .alias("uniq_ratio"),
        F.round(F.col("ss").cast("double") / F.col("st"), 6)
        .alias("stop_ratio"),
        F.round(F.col("sb").cast("double") / F.col("schars"), 6)
        .alias("bpe_per_char"),
        "top_lang",
        F.round(F.col("_lc").cast("double") / F.col("n_docs"), 6)
        .alias("lang_share"),
    )


def text_readability(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, flesch, band):
    Flesch reading-ease per document — the classic training-data
    quality signal one tier up from text_stats' token ratios:

        flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)

    with W = words ([a-z]+ runs of the lowered text), S = sentence
    terminators ([.!?]+ runs, floor 1), Y = syllables approximated as
    vowel-group runs ([aeiouy]+) — the standard dictionary-free
    heuristic, exact and engine-agnostic because all three are plain
    regex run counts (identical under Java regex and RE2; no
    lookarounds, no Unicode classes).

    The 3-way band is decided in INTEGER cross-multiplied form
    (206835·S·W − 1015·W² − 84600·Y·S vs thr·1000·S·W — fits long to
    ~10⁷-word docs), so a document landing exactly on 60 or 30
    classifies identically in Spark and DuckDB; the float flesch is
    display-only.

    Scale: in-row, whole-stage-codegen'd, no shuffle."""
    lt = F.lower(F.col("text"))
    w = F.regexp_count(lt, F.lit(r"[a-z]+"))
    s0 = F.regexp_count(F.col("text"), F.lit(r"[.!?]+"))
    y = F.regexp_count(lt, F.lit(r"[aeiouy]+"))
    d = docs.select(
        "doc_id",
        w.cast("long").alias("n_words"),
        F.greatest(s0, F.lit(1)).cast("long").alias("n_sentences"),
        y.cast("long").alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    W = F.col("n_words")
    S = F.col("n_sentences")
    Y = F.col("n_syllables")
    num = 206835 * S * W - 1015 * W * W - 84600 * Y * S
    flesch = num.cast("double") / (1000 * S * W).cast("double")
    band = F.when(num >= 60000 * S * W, "easy") \
        .when(num >= 30000 * S * W, "standard") \
        .otherwise("difficult")
    return d.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round(flesch, 6).alias("flesch"), band.alias("band"),
    )


def hapax_share(docs: DataFrame) -> DataFrame:
    """(source, n_tokens, vocab, hapax, hapax_share, type_token_ratio):
    hapax-legomena share per corpus slice — the vocabulary-health
    companion to zipf_fit/vocab_growth: a healthy natural corpus keeps
    a large once-only vocabulary fringe (≈ half the types, Zipf);
    template/bot text collapses it toward 0, OCR noise inflates it
    toward 1.

    Token = lowercased whitespace run (the shared shingle/BPE
    convention).  All four statistics are exact integers off two
    stacked hash aggs ((source, token) → source); the two shares are
    one division each.

    Scale: the (source, token) agg is vocabulary-bounded after
    map-side combine; nothing beyond it sees document text."""
    tok = docs.select(
        F.col("source").alias("src"),
        F.explode(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("t"),
    ).where(F.col("t") != "")
    per_tok = tok.groupBy("src", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = per_tok.groupBy("src").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
    )
    return agg.select(
        F.col("src").alias("source"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("hapax").cast("long").alias("hapax"),
        F.round(
            F.col("hapax").cast("double") / F.col("vocab").cast("double"),
            6,
        ).alias("hapax_share"),
        F.round(
            F.col("vocab").cast("double")
            / F.col("n_tokens").cast("double"), 6
        ).alias("type_token_ratio"),
    )


def charset_report(docs: DataFrame) -> DataFrame:
    """(source, n_docs, n_chars, letter_share, digit_share,
    space_share, nonascii_share, punct_share): character-class
    composition per corpus slice — the cheapest encoding-health
    tripwire there is (mojibake shows up as a nonascii_share step;
    scraped tables as digit/punct inflation; binary spill as
    everything-at-once).

    Class counts are exact integers computed IN-ROW as
    length(text) − length(regexp_replace(text, class, '')) (codegen'd,
    no tokenization); shares are one division each over the slice
    sums.  punct = everything not letter/digit/whitespace/non-ASCII.

    Scale: in-row counting + one hash agg; |slices| output rows."""
    t = F.col("text")

    def cnt(pat):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pat, ""))
        ).cast("long")

    per = docs.select(
        F.col("source").alias("src"),
        F.length(t).cast("long").alias("nc"),
        cnt("[A-Za-z]").alias("letters"),
        cnt("[0-9]").alias("digits"),
        cnt(r"\s").alias("spaces"),
        cnt("[^\\x00-\\x7F]").alias("nonascii"),
    )
    agg = per.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").alias("n_chars"),
        F.sum("letters").alias("letters"),
        F.sum("digits").alias("digits"),
        F.sum("spaces").alias("spaces"),
        F.sum("nonascii").alias("nonascii"),
    ).where(F.col("n_chars") > 0)
    nc = F.col("n_chars").cast("double")
    punct = (
        F.col("n_chars") - F.col("letters") - F.col("digits")
        - F.col("spaces") - F.col("nonascii")
    )
    return agg.select(
        F.col("src").alias("source"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.col("letters").cast("double") / nc, 6)
        .alias("letter_share"),
        F.round(F.col("digits").cast("double") / nc, 6)
        .alias("digit_share"),
        F.round(F.col("spaces").cast("double") / nc, 6)
        .alias("space_share"),
        F.round(F.col("nonascii").cast("double") / nc, 6)
        .alias("nonascii_share"),
        F.round(punct.cast("double") / nc, 6).alias("punct_share"),
    )


def doc_compressibility(docs: DataFrame, level: int = 6) -> DataFrame:
    """(doc_id, n_bytes, z_bytes, ratio): zlib compression ratio per
    document — the classic cheap redundancy score in web-corpus
    pipelines (CCNet-style): boilerplate/template/repeated text
    compresses far below natural prose; near-random noise sits near
    (or above) 1.  Complements doc_repetition's n-gram view with a
    whole-document universal-coding one.

    Arrow-batched pandas UDF over stdlib zlib (deterministic for a
    given level) — the sanctioned Python path for work SQL cannot
    express; in-row, no shuffle, so the UDF cost is one C call per
    document.  Rows-only correctness (no SQL engine zlib); invariants
    pinned in tests/test_compressibility.py."""
    from pyspark.sql.functions import pandas_udf

    lvl = int(level)

    @pandas_udf("long")
    def _zlen(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.fillna("").map(
            lambda s: len(zlib.compress(s.encode("utf-8"), lvl))
        )

    b = F.octet_length(F.col("text")).cast("long")
    out = docs.select(
        "doc_id",
        b.alias("n_bytes"),
        _zlen(F.col("text")).alias("z_bytes"),
    )
    return out.select(
        "doc_id", "n_bytes", "z_bytes",
        F.round(
            F.when(
                F.col("n_bytes") > 0,
                F.col("z_bytes").cast("double")
                / F.col("n_bytes").cast("double"),
            ), 6
        ).alias("ratio"),
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_distinct, char_entropy, entropy_norm):
    Shannon entropy of each document's (lowercased) character
    distribution — the cheap gibberish/encoding detector: natural
    English sits near 4.1 bits, base64 blobs near 6, single-character
    runs at 0.  Normalized form divides by log2(n_distinct) (NULL
    for single-symbol docs).

        H = log2(n) − Σ c·log2(c) / n      (exact integer c, n)

    with every c·log₂(c) term snapped to integer MICRO-bits before
    the order-free sum (the theil ln policy).

    Scale: the char explode is corpus-bytes-sized but collapses
    map-side to ≤|alphabet| rows per (doc, partition); everything
    after is per-doc aggregates."""
    t = docs.select(
        "doc_id",
        F.lower(F.col("text")).alias("_lt"),
    ).where(F.length("_lt") > 0)
    chars = t.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(_lt)),"
                   " i -> substring(_lt, i, 1))")
        ).alias("ch"),
    )
    per = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            snap(F.col("c").cast("double")
                 * F.log2(F.col("c").cast("double")), 6)
        ).alias("clg_u"),
    )
    n = F.col("n").cast("double")
    h = F.log2(n) - (F.col("clg_u").cast("double") / F.lit(1.0e6)) / n
    k = F.col("k").cast("double")
    hn = F.when(F.col("k") > 1, h / F.log2(k))
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.col("k").cast("long").alias("n_distinct"),
        F.round(h, 6).alias("char_entropy"),
        F.round(hn, 6).alias("entropy_norm"),
    )


def code_likeness(docs: DataFrame, threshold_permille: int = 15) -> DataFrame:
    """(doc_id, n_chars, n_lines, n_symbols, n_indents, code_score,
    is_code): prose-vs-code triage for a training-data pipeline —
    the mix decision (how much code does this corpus carry, and do we
    route code to a different tokenizer/dedup policy?) needs a score
    that is cheap, in-row, and identical in every engine.

    Features are EXACT substring occurrence counts via the
    length-difference trick (len(t) − len(replace(t, s, ''))) / |s| —
    no regex (Java util.regex vs RE2 disagree on enough corner cases
    to be a cross-engine hazard; literal replace cannot):

        symbols  = 3·';' + 3·('{'+'}') + 2·'=' + '('
        indents  = '\\n'+4 spaces  and  '\\n'+tab
        score    = 1000·(symbols + 4·indents) / (n_chars + 1)

    is_code is decided by INTEGER cross-multiplication
    (1000·num > thr·(n_chars+1)), never by comparing the rounded
    double score to the threshold — flags stay deterministic even
    exactly on-threshold (the bollinger_daily discipline).

    Scale: pure in-row expressions, no shuffle at all; compose with
    source_scorecard for the per-source mix."""
    t = F.col("text")

    def cnt(s: str, sql_lit: str) -> Column:
        return (
            (F.length(t) - F.length(F.expr(
                f"replace(text, {sql_lit}, '')"
            ))) / F.lit(len(s))
        ).cast("long")

    semi = cnt(";", "';'")
    lb = cnt("{", "'{'")
    rb = cnt("}", "'}'")
    eq = cnt("=", "'='")
    lp = cnt("(", "'('")
    nl = cnt("\n", "chr(10)")
    ind4 = cnt("\nXXXX", "chr(10) || '    '")
    indt = cnt("\nX", "chr(10) || chr(9)")
    n_sym = (3 * semi + 3 * (lb + rb) + 2 * eq + lp).alias("n_symbols")
    n_ind = (ind4 + indt).alias("n_indents")
    num = (3 * semi + 3 * (lb + rb) + 2 * eq + lp
           + 4 * (ind4 + indt))
    n_chars = F.length(t).cast("long")
    thr = int(threshold_permille)
    return docs.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        (nl + 1).alias("n_lines"),
        n_sym,
        n_ind,
        F.round(
            F.lit(1000.0) * num.cast("double")
            / (n_chars + 1).cast("double"), 6
        ).alias("code_score"),
        (1000 * num > F.lit(thr) * (n_chars + 1)).alias("is_code"),
    )


def boilerplate_ngrams(docs: DataFrame, min_df: int = 3,
                       n: int = 3) -> DataFrame:
    """Boilerplate share per document — the C4/RefinedWeb-style
    template detector: a word n-gram whose document frequency reaches
    `min_df` distinct docs is boilerplate (nav bars, license headers,
    signature blocks), and each doc reports how much of it is made of
    such material:

        (doc_id, n_shingles, n_boiler, boiler_ratio)

    n_shingles counts ALL n-gram instances (within-doc repeats
    included — a doc that is one template pasted five times should
    score five times, which per-doc array_distinct would hide);
    n_boiler counts the instances whose n-gram is corpus-boilerplate;
    the ratio is one integer-rational divide rounded to 6 dp.

    Shape: tokenize in-row, explode instances, one hash-agg for the
    doc-frequency table, one equi-join back, one per-doc hash-agg.
    Scale notes (100 TB): the df table keeps only df ≥ min_df rows
    (template mass is a tiny fraction of the shingle vocabulary —
    broadcast it while it fits, the join stays an equi-join either
    way); at corpus scale swap the shingle STRING for xxhash64(shingle)
    so the shuffle carries 8-byte keys, the same trade the dedup
    family documents."""
    t = tokenize(docs)
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
    inst = t.select("doc_id", F.explode(sh).alias("shingle"))
    boiler = (
        inst.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("shingle", F.lit(1).alias("is_b"))
    )
    return (
        inst.join(boiler, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_b"), F.lit(0)))
             .cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id", "n_shingles", "n_boiler",
            F.round(
                F.col("n_boiler").cast("double")
                / F.col("n_shingles").cast("double"), 6
            ).alias("boiler_ratio"),
        )
    )


def heaps_fit(docs: DataFrame, n: int = 3, batch_size: int = 50) -> DataFrame:
    """(n_batches, beta, ln_k, r2): the Heaps'-law exponent fitted to
    the n-GRAM vocabulary-growth curve — V(N) ≈ K·N^β, the one-number
    answer to "is more data still buying new language?" (β → 0 means
    the corpus is saturating; β ≈ 1 means every batch brings fresh
    phrasing).  The n-gram vocabulary (default trigram) is the right
    unit for template-heavy or small-lexicon corpora: a UNIGRAM vocab
    can saturate in the first batch (this synthetic corpus has ~31
    word types — cum_vocab constant, the fit degenerate), while the
    n-gram space keeps growing as long as composition does.

    Log-log OLS over (cum_docs, cum_ngram_vocab) per ingestion batch.
    The two ln() calls are the only libm ops, SNAPPED to 1e-6 integers
    per point BEFORE the moment sums (raw double Σ over an unordered
    hash-agg would inherit summation order); β, ln K and r² are
    integer-rational expressions with one double divide each.

    Scale: one distinct (batch, shingle) hash-agg + one min-per-
    shingle hash-agg (the vocab_growth shape over shingles), a
    |batches|-row cumulative window, ONE output row."""
    from timeseriescorrelation_spark.functions.timeutil import (
        const_partition,
    )
    from timeseriescorrelation_spark.operators.dedup import shingles

    b = (F.floor(F.col("doc_id") / F.lit(int(batch_size)))
         .cast("long").alias("batch_id"))
    sh = shingles(docs.select("doc_id", "text"), n=n)
    tk = sh.select(
        F.floor(F.col("doc_id") / F.lit(int(batch_size))).cast("long")
         .alias("batch_id"),
        "shingle",
    ).distinct()
    firsts = tk.groupBy("shingle").agg(
        F.min("batch_id").alias("batch_id")
    )
    new_per = firsts.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("new_sh")
    )
    ndocs = docs.groupBy(b).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = (
        Window.partitionBy(const_partition("batch_id"))
        .orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vg = ndocs.join(new_per, "batch_id", "left").select(
        F.sum("n_docs").over(w).alias("cum_docs"),
        F.sum(F.coalesce("new_sh", F.lit(0))).over(w)
         .alias("cum_vocab"),
    )
    pts = vg.where((F.col("cum_docs") > 0) & (F.col("cum_vocab") > 0))
    snapped = pts.select(
        snap(F.log(F.col("cum_docs").cast("double")), 6).alias("xu"),
        snap(F.log(F.col("cum_vocab").cast("double")), 6).alias("yu"),
    )
    g = snapped.agg(
        *moments("xu", "yu", names="k sx sy sxx syy sxy"),
    )
    k = F.col("k")
    cxx = co_moment("k", "sx", "sx", "sxx")
    cyy = co_moment("k", "sy", "sy", "syy")
    cxy = co_moment("k", "sx", "sy", "sxy")
    beta = cxy.cast("double") / cxx.cast("double")
    ln_k = (
        (F.col("sy").cast("double")
         - beta * F.col("sx").cast("double"))
        / k.cast("double") / F.lit(1e6)
    )
    r2 = (
        cxy.cast("double") * cxy.cast("double")
        / (cxx.cast("double") * cyy.cast("double"))
    )
    return g.where(
        (cxx.cast("double") > 0) & (cyy.cast("double") > 0)
    ).select(
        k.cast("long").alias("n_batches"),
        F.round(beta, 6).alias("beta"),
        F.round(ln_k, 6).alias("ln_k"),
        F.round(r2, 6).alias("r2"),
    )


def langid_confusion(docs: DataFrame) -> DataFrame:
    """(lang, pred_lang, n, share): confusion matrix of the langid
    heuristic against the labeled language column, with each cell's
    share of its TRUE-label row — the eval readout that turns
    langid_heuristic from a score into a measured classifier (which
    labels it eats, which it confuses).  Counts are exact; share is
    one divide, 6 dp.

    Scale: langid is in-row; the matrix is one hash-agg to
    |langs|² cells plus a broadcast-sized row-total join."""
    pred = langid_heuristic(docs)
    j = docs.select(
        "doc_id", "lang"
    ).join(pred, "doc_id")
    cells = j.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = cells.groupBy("lang").agg(F.sum("n").alias("row_n"))
    return cells.join(F.broadcast(rows), "lang").select(
        "lang", "pred_lang",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n").cast("double") / F.col("row_n").cast("double"),
            6,
        ).alias("share"),
    )


def burrows_delta(docs: DataFrame, top_k: int = 30) -> DataFrame:
    """(source_a, source_b, n_words, delta): Burrows' Delta stylometric
    distance between every source pair (Burrows 2002, the standard
    authorship-attribution measure): z-score each source's relative
    frequency of the corpus's top-K words against the across-source
    distribution, then Delta = mean_w |z_a − z_b|.  Sources whose
    function-word profile diverges (different template/generator/
    author) stand out even when topical vocabulary matches — the
    stylometric companion to source_drift's distributional tests.

    Exactness ladder: relative frequencies are exact rationals
    snapped to 1e-9 (so the across-source moments are exact decimal
    integers), z is one shared double tree over those integers,
    snapped to 1e-6 before the per-pair sum (order-free integer sum
    over the K words), and Delta is one divide.  Top-K selection is
    TakeOrdered (count desc, word asc — deterministic, no global
    window).  A source missing a top word contributes f = 0 via the
    dense source×word grid.  Words with zero across-source variance
    drop (carry no style signal).

    Scale: token hash-agg → K-row broadcast vocabulary → |sources|·K
    grid → K-row moment agg → (|sources|²/2)·K pair join of
    METADATA-sized tables."""
    toks = docs.select(
        F.col("source").alias("src"),
        F.explode(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("w"),
    ).where(F.col("w") != "")
    topw = (
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w")).limit(int(top_k))
        .select("w")
    )
    totals = toks.groupBy("src").agg(
        F.count(F.lit(1)).alias("tot")
    )
    cnt = (
        toks.join(F.broadcast(topw), "w")
        .groupBy("src", "w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    grid = totals.crossJoin(F.broadcast(topw))
    dense = grid.join(cnt, ["src", "w"], "left").select(
        "src", "w",
        snap(
            F.coalesce(F.col("cw"), F.lit(0)).cast("double")
            / F.col("tot").cast("double"), 9
        ).alias("fu"),
    )
    mom = dense.groupBy("w").agg(
        *moments("fu", names="ns s1 s2"),
    )
    jz = dense.join(F.broadcast(mom), "w")
    nsd = F.col("ns").cast("double")
    var = co_moment("ns", "s1", "s1", "s2").cast("double") / (nsd * nsd)
    z = (
        F.col("fu").cast("double") - F.col("s1").cast("double") / nsd
    ) / F.sqrt(var)
    zt = jz.where(var > 0).select(
        "src", "w", snap(z, 6).alias("zu")
    )
    a = zt.select(F.col("src").alias("source_a"), "w",
                  F.col("zu").alias("za"))
    b = zt.select(F.col("src").alias("source_b"), "w",
                  F.col("zu").alias("zb"))
    p = a.join(b, "w").where(F.col("source_a") < F.col("source_b"))
    g = p.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.abs(F.col("za") - F.col("zb"))).alias("sd_"),
    )
    return g.select(
        "source_a", "source_b",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(
            F.col("sd_").cast("double")
            / F.col("n_words").cast("double") / F.lit(1e6),
            6,
        ).alias("delta"),
    )
