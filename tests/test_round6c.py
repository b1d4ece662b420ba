"""Round-6 third batch — pure-python differential replays for the two
iterative operators (PCA power iteration, BPE merge learning), plus
plan pins."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table

from job_datapipeline_spark.plans.ann import _PCA_DIMS, _PCA_ITERS, _PCA_V0
from job_datapipeline_spark.plans.queries import REGISTRY
from job_datapipeline_spark.plans.text import _BPE_ROUNDS
from job_datapipeline_spark.testing import single_partition_windows

from conftest import SF_SMOKE


def test_pca_power_iteration_matches_pure_python(spark):
    vecs = [
        [int(round(float(x) * 1_000_000)) for x in r["embedding"][:_PCA_DIMS]]
        for r in table(spark, SF_SMOKE, "embeddings").collect()
    ]
    g = [[0] * _PCA_DIMS for _ in range(_PCA_DIMS)]
    for v in vecs:
        for i in range(_PCA_DIMS):
            for j in range(_PCA_DIMS):
                g[i][j] += v[i] * v[j]
    vm = [_PCA_V0] * _PCA_DIMS
    nrm = None
    for _ in range(_PCA_ITERS):
        w = [
            float(sum(g[i][j] * vm[j] for j in range(_PCA_DIMS)))
            for i in range(_PCA_DIMS)
        ]
        acc = 0.0
        for x in w:  # index-order fold, mirroring both engines
            acc += x * x
        nrm = math.sqrt(acc)
        vm = [int(round(1_000_000.0 * x / nrm)) for x in w]
    rows = REGISTRY["embedding_pca_power_iteration"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == _PCA_DIMS
    for r in rows:
        assert r["loading_micro"] == vm[r["i"] - 1]
        assert r["eigval_micro"] == round(nrm / 1e12)
    # eigenvector sanity: unit norm in micro within quantization error
    s = sum(x * x for x in vm)
    assert abs(s - 1_000_000**2) < 2_000 * 1_000_000


def test_bpe_learn_matches_pure_python(spark):
    counts = Counter()
    for r in table(spark, SF_SMOKE, "documents").collect():
        for w in r["text"].strip().lower().split():
            if w:
                counts[w] += 1
    words = {w: (list(w), c) for w, c in counts.items()}
    expected = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pair_freq = defaultdict(int)
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pair_freq[(syms[i], syms[i + 1])] += c
        (a, b), freq = min(
            pair_freq.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rnd, f"{a} {b}", freq))
        for w, (syms, c) in words.items():
            out = []
            i = 0
            while i < len(syms):  # greedy left-to-right merge
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)
    rows = REGISTRY["tokenizer_bpe_learn"].fn(spark, SF_SMOKE).collect()
    got = [(r["round"], r["pair"], r["freq"]) for r in sorted(rows)]
    assert got == expected


def test_round6c_plans_have_no_single_partition_window(spark):
    for name in ["embedding_pca_power_iteration", "tokenizer_bpe_learn"]:
        df = REGISTRY[name].fn(spark, SF_SMOKE)
        assert single_partition_windows(df) == [], name
