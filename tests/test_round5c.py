"""Round-5 third batch: RRF fusion, snapshot diff, join-size estimate,
ORC round trip, Pareto frontier — pure-python differential replays over
sf0.001 plus the operator-contract assertions (join estimate must be
exact; every planted CDC edit must surface with the right verdict; no
frontier point may dominate another)."""

from __future__ import annotations

import hashlib
from collections import Counter

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5c import (
    _DIFF_ADD_OFFSET,
    _RRF_K,
    _RRF_OUT,
    _RRF_TERMS,
    _RRF_TOPN,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# text_rrf_fusion
# ---------------------------------------------------------------------------

def test_rrf_fusion_matches_pure_python(spark):
    cand = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        toks = [t for t in r["text"].strip().lower().split() if t in _RRF_TERMS]
        if toks:
            cand[r["doc_id"]] = (len(toks), len(set(toks)), r["n_chars"])
    by_tf = sorted(cand, key=lambda d: (-cand[d][0], d))[:_RRF_TOPN]
    by_cov = sorted(cand, key=lambda d: (-cand[d][1], cand[d][2], d))[:_RRF_TOPN]
    rank_tf = {d: i + 1 for i, d in enumerate(by_tf)}
    rank_cov = {d: i + 1 for i, d in enumerate(by_cov)}
    fused = {}
    for d in set(rank_tf) | set(rank_cov):
        s = 0
        for rk in (rank_tf.get(d), rank_cov.get(d)):
            if rk is not None:
                s += _round_half_away(1_000_000_000.0 / (_RRF_K + rk))
        fused[d] = (rank_tf.get(d), rank_cov.get(d), s)
    top = sorted(fused.items(), key=lambda kv: (-kv[1][2], kv[0]))[:_RRF_OUT]
    expected = {d: v for d, v in top}
    got = {
        r["doc_id"]: (r["rank_tf"], r["rank_cov"], r["rrf_micro"])
        for r in REGISTRY["text_rrf_fusion"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# snapshot_diff
# ---------------------------------------------------------------------------

def test_snapshot_diff_matches_planted_edits(spark):
    keys = [r["o_orderkey"] for r in table(spark, SF_SMOKE, "orders").collect()]
    expected: dict[int, str] = {}
    for k in keys:
        if k % 97 == 0:
            expected[k] = "removed"
        elif k % 89 == 0:
            expected[k] = "changed"
        if k % 101 == 0:
            expected[k + _DIFF_ADD_OFFSET] = "added"
    got = {
        r["o_orderkey"]: r["change_type"]
        for r in REGISTRY["snapshot_diff"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # every planted edit class is actually exercised at this sf
    assert Counter(got.values()).keys() == {"added", "removed", "changed"}


# ---------------------------------------------------------------------------
# join_size_estimate
# ---------------------------------------------------------------------------

def test_join_size_estimate_is_exact(spark):
    la = Counter(
        r["l_orderkey"] for r in table(spark, SF_SMOKE, "lineitem").collect()
    )
    ob = Counter(
        r["o_orderkey"] for r in table(spark, SF_SMOKE, "orders").collect()
    )
    predicted = sum(c * ob[k] for k, c in la.items() if k in ob)
    [row] = REGISTRY["join_size_estimate"].fn(spark, SF_SMOKE).collect()
    assert row["predicted_rows"] == predicted
    assert row["actual_rows"] == predicted
    assert row["exact_match"] is True


# ---------------------------------------------------------------------------
# sink_roundtrip_orc
# ---------------------------------------------------------------------------

def test_orc_roundtrip_matches_source(spark):
    agg: dict[str, list] = {}
    for r in table(spark, SF_SMOKE, "orders").collect():
        a = agg.setdefault(r["o_orderstatus"], [0, 0, None])
        a[0] += 1
        a[1] += _round_half_away(r["o_totalprice"] * 100)
        a[2] = r["o_orderdate"] if a[2] is None else min(a[2], r["o_orderdate"])
    expected = {s: (n, c, str(d)) for s, (n, c, d) in agg.items()}
    got = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"], r["first_date"])
        for r in REGISTRY["sink_roundtrip_orc"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# pareto_frontier
# ---------------------------------------------------------------------------

def test_pareto_frontier_matches_naive_dominance(spark):
    parts = [
        (r["p_partkey"], _round_half_away(r["p_retailprice"] * 100), r["p_size"])
        for r in table(spark, SF_SMOKE, "part").collect()
    ]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in parts
        )

    expected = {(k, pc, sz) for k, pc, sz in parts if not dominated((k, pc, sz))}
    got = {
        (r["p_partkey"], r["price_cents"], r["p_size"])
        for r in REGISTRY["pareto_frontier"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # frontier contract: no member dominates another
    for a in got:
        for b in got:
            assert not (
                a[1] <= b[1] and a[2] <= b[2] and (a[1] < b[1] or a[2] < b[2])
            ), (a, b)
