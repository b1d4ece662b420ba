"""Unigram-LM Viterbi segmentation device (SentencePiece, Kudo 2018,
arXiv:1804.10959) — the JVM-side dp fold shared by tokenizer TRAINING
(plans/text.tokenizer_unigram_lm, where it is the E step) and
ENCODE (plans/text.tokenizer_unigram_encode, inference against
a fixed vocabulary).

The fold runs per word TYPE as ONE ``aggregate`` over the word's
positions — no Python boundary, no per-position shuffle; ties are fully
pinned by the struct ordering (total cost ASC, piece count ASC,
segmentation string ASC), which is what lets a DuckDB oracle that
brute-forces every 2^(n-1) cut mask reproduce the argmin bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def viterbi_best(edged: DataFrame) -> Column:
    """The dp fold: over positions 1..len(word), extend the accumulator
    array of best (sc, np, seg) tuples using the pre-joined candidate
    edges; struct ordering IS the pinned (cost, n_pieces, seg)
    tie-break.  Every position must be reachable — callers guarantee it
    by never pruning single-char pieces from the vocabulary (training)
    or by including a char fallback (encode)."""
    init = F.array(
        F.struct(
            F.lit(0).cast("long").alias("sc"),
            F.lit(0).alias("np"),
            F.lit("").alias("seg"),
        )
    )

    def step(acc: Column, j: Column) -> Column:
        def cand(e: Column) -> Column:
            prev = F.element_at(acc, (j - e["k"] + F.lit(1)).cast("int"))
            return F.struct(
                (prev["sc"] + e["cost"]).alias("sc"),
                (prev["np"] + F.lit(1)).alias("np"),
                F.when(prev["seg"] == "", e["piece"])
                .otherwise(F.concat(prev["seg"], F.lit(" "), e["piece"]))
                .alias("seg"),
            )

        at_j = F.filter(F.col("edges"), lambda e: e["j"] == j)
        return F.concat(acc, F.array(F.array_min(F.transform(at_j, cand))))

    dp = F.aggregate(F.sequence(F.lit(1), F.length("word")), init, step)
    return F.element_at(dp, F.length("word") + 1)


def segment_words(cand: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, c, seg): pinned-argmin Viterbi segmentation of every word
    type under the (broadcast, bounded) vocabulary costs.  ``cand`` is
    the per-word substring grid (word, c, j, k, piece); ``vocab`` is
    (piece, cost) with cost in integer micro-nats."""
    edged = (
        cand.join(F.broadcast(vocab), "piece")
        .groupBy("word", "c")
        .agg(F.collect_list(F.struct("j", "k", "cost", "piece")).alias("edges"))
    )
    return edged.select("word", "c", viterbi_best(edged)["seg"].alias("seg"))
