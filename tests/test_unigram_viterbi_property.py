"""Property test for the unigram-LM Viterbi fold: on random words and
random integer piece costs, the JVM-side dp (operators/unigram.segment_words)
must return EXACTLY the brute-force argmin segmentation under the pinned
(total cost, piece count, segmentation text) tie-break."""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from job_datapipeline_spark.operators.unigram import segment_words as _segment

_MAX_PIECE = 4


def _brute_best(word: str, costs: dict[str, int]) -> tuple[int, int, str]:
    best = None
    n = len(word)
    for cuts in itertools.product([0, 1], repeat=max(n - 1, 0)):
        parts, start = [], 0
        for i, c in enumerate(cuts, 1):
            if c:
                parts.append(word[start:i])
                start = i
        parts.append(word[start:])
        if any(len(p) > _MAX_PIECE or p not in costs for p in parts):
            continue
        key = (sum(costs[p] for p in parts), len(parts), " ".join(parts))
        if best is None or key < best:
            best = key
    assert best is not None, "single chars always in vocab -> reachable"
    return best


@st.composite
def _case(draw):
    words = draw(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=8),
            min_size=1,
            max_size=4,
            unique=True,
        )
    )
    # vocab: every char of every word (coverage guarantee) + a few
    # multi-char pieces drawn from the words' substrings
    pieces = {ch for w in words for ch in w}
    for w in words:
        for i in range(len(w)):
            for k in range(2, _MAX_PIECE + 1):
                if i + k <= len(w) and draw(st.booleans()):
                    pieces.add(w[i : i + k])
    costs = {
        p: draw(st.integers(min_value=1, max_value=50)) for p in sorted(pieces)
    }
    return words, costs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(_case())
def test_viterbi_fold_matches_brute_force(spark, case):
    words, costs = case
    wdf = spark.createDataFrame(
        [(w, 1) for w in words], "word string, c long"
    )
    cand = (
        wdf.select(
            "word", "c",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("j"),
        )
        .select(
            "word", "c", "j",
            F.explode(
                F.sequence(F.lit(1), F.least(F.lit(_MAX_PIECE), F.col("j")))
            ).alias("k"),
        )
        .withColumn("piece", F.expr("substring(word, j - k + 1, k)"))
    )
    vdf = spark.createDataFrame(
        [(p, c) for p, c in costs.items()], "piece string, cost long"
    )
    got = {r["word"]: r["seg"] for r in _segment(cand, vdf).collect()}
    for w in words:
        _, _, want_seg = _brute_best(w, costs)
        assert got[w] == want_seg, (w, costs)
