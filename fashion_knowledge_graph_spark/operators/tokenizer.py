"""Distributed BPE tokenizer training (Sennrich et al. 2016).

The classic byte-pair-encoding learner, re-shaped for Spark: the only
pass that touches the corpus is a word-count (the 100 TB part — one
partial-agg'd groupBy over exploded tokens). Everything after runs on
the aggregated vocabulary table ``(word, freq)``, which is orders of
magnitude smaller than the corpus (distinct words, not occurrences),
stays distributed, and is never collected.

Each merge iteration is pure DataFrame algebra:

1. pair counts — explode each word's adjacent symbol pairs, weight by
   the word's corpus frequency, partial-agg'd groupBy(pair);
2. pick the best pair (count desc, pair asc — deterministic ties, so
   reruns and the pytest oracle replay byte-identically);
3. apply the merge to every word with one ``aggregate`` higher-order
   function (left-to-right non-overlapping, exactly the sequential
   BPE application order) — codegen'd array fold, no Python.

The vocab DataFrame is ``localCheckpoint``ed every iteration so the
loop's lineage stays flat (K iterations, K jobs, O(1) plan depth).

Scale: at 10^12 docs the word-count dominates and is embarrassingly
map-side; the per-iteration pair count runs over the vocab (~10^7-10^8
rows), i.e. cluster-trivial. This is the standard industrial layout
(e.g. the original subword-nmt learns from a pre-aggregated vocab file
for the same reason).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def word_freqs(docs: DataFrame) -> DataFrame:
    """Corpus word-frequency table ``(w, freq)`` — the single
    full-corpus pass (map-side combined word count)."""
    from ..functions.text import tokens
    return (docs.filter(F.col("text").isNotNull())
            .select(F.explode(tokens(F.col("text"))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))


def _pair_struct() -> Column:
    """Adjacent-pair structs of the ``syms`` array (empty for len<2)."""
    return F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(element_at(syms, i) AS a, "
        "element_at(syms, i + 1) AS b))")


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts ``(a, b, pair_count)`` over a
    symbolized vocab — the BPE merge-candidate table."""
    pairs = (vocab.filter(F.size("syms") >= 2)
             .select(F.col("freq"),
                     F.explode(_pair_struct()).alias("p")))
    return (pairs.groupBy(F.col("p.a").alias("a"),
                          F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("pair_count")))


def char_pair_counts(docs: DataFrame, k: int = 20) -> DataFrame:
    """Iteration-0 merge candidates straight from a corpus: top-k
    character pairs by frequency-weighted count (count desc, pair asc
    — fully deterministic). This is the driver-oracled query shape."""
    wf = word_freqs(docs)
    sym = wf.select(
        F.expr("transform(sequence(1, length(w)), "
               "i -> substring(w, i, 1))").alias("syms"),
        "freq")
    return (pair_counts(sym)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(k))


def learn_bpe(docs: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns the merge trace
    ``[(a, b, pair_count), ...]`` in learned order.

    Driver state is the K picked pairs only; the vocab stays a
    DataFrame throughout. Ties break (count desc, a asc, b asc) so the
    trace is deterministic and replayable.
    """
    wf = word_freqs(docs)
    vocab = wf.select(
        F.expr("transform(sequence(1, length(w)), "
               "i -> substring(w, i, 1))").alias("syms"),
        "freq").localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (pair_counts(vocab)
                .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
                .limit(1).first())
        if best is None:
            break
        a, b, c = best["a"], best["b"], best["pair_count"]
        merges.append((a, b, c))
        vocab = apply_merges(vocab, [(a, b, c)]).localCheckpoint()
    return merges


def apply_merges(vocab: DataFrame,
                 merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply a learned merge list to a symbolized vocab, in order."""
    out = vocab
    for a, b, _ in merges:
        out = out.withColumn(
            "syms",
            F.aggregate(
                F.col("syms"),
                F.expr("cast(array() as array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(F.slice(acc, 1, F.size(acc) - 1),
                             F.array(F.lit(a + b)))
                ).otherwise(F.concat(acc, F.array(x)))))
    return out
