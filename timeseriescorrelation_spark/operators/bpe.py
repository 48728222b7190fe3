"""Distributed BPE merge learning — tokenizer induction as a pipeline
operator (Sennrich et al.'s byte-pair encoding, the construction under
every modern subword tokenizer).

The scale trick is the classic one: BPE statistics live on the WORD
FREQUENCY TABLE, not the corpus.  One pass collapses 100 TB of text to
|vocab| (word, count) rows map-side; every learning iteration then
touches only that table — count adjacent symbol pairs weighted by word
count (one hash-agg), pick the global argmax pair (one tiny
TakeOrdered), and apply the merge to each word's symbol array with a
NATIVE aggregate fold (no Python in the loop).  K merges = K driver-
paced iterations over a vocab-sized table with localCheckpoint lineage
truncation — the engine's standard fixpoint shape (k-means, connected
components, PageRank).

Determinism: ties on pair count break lexicographically (left, right),
so the learned merge sequence is reproducible and the pytest can pin
it against a hand-computed corpus.  The merge loop is iterative →
rows-only driver check (the streaming-operator policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "▁"  # end-of-word sentinel (SentencePiece-style marker)


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, n): corpus word frequencies — the only corpus-wide pass."""
    from timeseriescorrelation_spark.operators.dedup import tokenize

    return (
        tokenize(docs)
        .select(F.explode("toks").alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _apply_merge(sym_col, left, right):
    """Fold the symbol array, merging every adjacent (left, right) into
    one symbol — left-to-right, non-overlapping (after a merge the new
    symbol cannot be the LEFT of an immediately following merge), the
    reference BPE semantics.  Pure Catalyst: aggregate + slice/concat."""
    merged = F.lit(left + right)
    # non-overlap falls out of the fold for free: once a pair merges,
    # the accumulator's last element becomes left+right, which can
    # never equal `left` again (right is non-empty), so the merged
    # token is never extended by an immediately following `right` —
    # exactly the reference left-to-right scan semantics
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn(docs: DataFrame,
              n_merges: int = 10) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, count)]
    in merge order.  Each iteration: pair counts (hash-agg over the
    vocab table) → argmax (count desc, pair asc) → native-fold merge
    application → localCheckpoint."""
    wf = word_freq(docs)
    state = wf.select(
        "word", "n",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        pairs = state.select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p")["l"].alias("l"),
                          F.col("p")["r"].alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((left, right, cnt))
        state = state.select(
            "word", "n", _apply_merge(F.col("syms"), left, right).alias(
                "syms"
            )
        ).localCheckpoint(eager=True)
    return merges


def bpe_segment(docs: DataFrame,
                merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, n, pieces): the vocab segmented under the learned merges
    (apply in learned order — BPE inference) plus corpus frequency.
    Joining back to docs is one explode away; the vocab-level output
    is what tokenizer training actually inspects."""
    wf = word_freq(docs)
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    out = wf.select("word", "n", syms.alias("pieces"))
    for left, right, _ in merges:
        out = out.select(
            "word", "n",
            _apply_merge(F.col("pieces"), left, right).alias("pieces"),
        )
    return out
