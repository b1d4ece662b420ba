"""Round-5 thirteenth batch: A/B z-test, chi-square independence,
affinity matrix, sparse cosine top-k, cascade-delete audit — pure-python
differential replays over sf0.001 plus the operator contracts (arm
sizes partition the user universe, chi-square marginals are consistent,
Jaccard is symmetric-bounded, cosine <= 1e6 with correct ranks, purge +
retain = total down the FK chain)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5m import (
    _AB_Z_CRIT,
    _COS_DF_PCT,
    _COS_TOPK,
    _DELETE_MOD,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_ab_test_ztest
# ---------------------------------------------------------------------------

def test_ab_test_ztest_matches_pure_python(spark):
    purchased: dict = defaultdict(bool)
    users = set()
    for r in table(spark, SF_SMOKE, "events").collect():
        users.add(r["user_id"])
        if r["event_type"] == "purchase":
            purchased[r["user_id"]] = True
    n = [0, 0]
    c = [0, 0]
    for u in users:
        v = u % 2
        n[v] += 1
        c[v] += 1 if purchased[u] else 0
    pool = (c[0] + c[1]) / (n[0] + n[1])
    denom = math.sqrt(pool * (1.0 - pool) * (1.0 / n[0] + 1.0 / n[1]))
    z = (c[1] / n[1] - c[0] / n[0]) / denom if denom else None
    row = REGISTRY["events_ab_test_ztest"].fn(spark, SF_SMOKE).collect()[0]
    assert (row["n0"], row["c0"], row["n1"], row["c1"]) == (n[0], c[0], n[1], c[1])
    assert row["rate0_micro"] == _round_half_away(1_000_000.0 * c[0] / n[0])
    assert row["rate1_micro"] == _round_half_away(1_000_000.0 * c[1] / n[1])
    if z is None:
        assert row["z_micro"] is None and row["significant"] is False
    else:
        assert row["z_micro"] == _round_half_away(1_000_000.0 * z)
        assert row["significant"] == (abs(z) > _AB_Z_CRIT)
    # contract: arms partition the user universe
    assert row["n0"] + row["n1"] == len(users)


# ---------------------------------------------------------------------------
# agg_chi2_independence
# ---------------------------------------------------------------------------

def test_chi2_independence_matches_pure_python(spark):
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    cnation = {
        r["c_custkey"]: nation[r["c_nationkey"]]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    obs: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        obs[(cnation[r["o_custkey"]], r["o_orderpriority"])] += 1
    row_tot: Counter = Counter()
    col_tot: Counter = Counter()
    for (nat, pri), k in obs.items():
        row_tot[nat] += k
        col_tot[pri] += k
    grand = sum(obs.values())
    expected = {}
    for (nat, pri), k in obs.items():
        diff = float(k) * grand - float(row_tot[nat]) * col_tot[pri]
        expected[(nat, pri)] = (
            k,
            _round_half_away(1000.0 * row_tot[nat] * col_tot[pri] / grand),
            _round_half_away(
                1_000_000.0
                * diff
                * diff
                / (float(grand) * row_tot[nat] * col_tot[pri])
            ),
        )
    rows = REGISTRY["agg_chi2_independence"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["nation"], r["priority"]): (
            r["n_obs"],
            r["expected_milli"],
            r["chi2_component_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: observed cells sum to the grand total
    assert sum(v[0] for v in got.values()) == grand


# ---------------------------------------------------------------------------
# events_jaccard_affinity
# ---------------------------------------------------------------------------

def test_jaccard_affinity_matches_pure_python(spark):
    users: dict = defaultdict(set)
    for r in table(spark, SF_SMOKE, "events").collect():
        users[r["event_type"]].add(r["user_id"])
    types = sorted(users)
    expected = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            both = len(users[a] & users[b])
            either = len(users[a] | users[b])
            expected[(a, b)] = (
                both,
                either,
                _round_half_away(1_000_000.0 * both / either),
            )
    rows = REGISTRY["events_jaccard_affinity"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["type_a"], r["type_b"]): (r["n_both"], r["n_either"], r["jaccard_micro"])
        for r in rows
    }
    assert got == expected
    assert all(0 <= v[2] <= 1_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# text_sparse_cosine_topk
# ---------------------------------------------------------------------------

def test_sparse_cosine_topk_matches_pure_python(spark):
    docs = {
        r["doc_id"]: (r["text"] or "").strip().lower().split()
        for r in table(spark, SF_SMOKE, "documents").collect()
    }
    tf: dict = defaultdict(Counter)
    for doc_id, toks in docs.items():
        for t in toks:
            tf[doc_id][t] += 1
    df: Counter = Counter()
    for counts in tf.values():
        for t in counts:
            df[t] += 1
    n_docs = len(docs)
    cap = max(1, n_docs * _COS_DF_PCT // 100)
    weights: dict = defaultdict(dict)
    postings: dict = defaultdict(list)
    for doc_id, counts in tf.items():
        for t, k in counts.items():
            if df[t] <= cap:
                w = k * _round_half_away(1000.0 * math.log(n_docs / df[t]))
                weights[doc_id][t] = w
                postings[t].append(doc_id)
    norms = {
        d: sum(w * w for w in ws.values()) for d, ws in weights.items()
    }
    dots: Counter = Counter()
    for t, ds in postings.items():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                lo, hi = (a, b) if a < b else (b, a)
                dots[(lo, hi)] += weights[lo][t] * weights[hi][t]
    scored: dict = defaultdict(list)
    for (a, b), dot in dots.items():
        cos = _round_half_away(
            1_000_000.0 * dot / (math.sqrt(norms[a]) * math.sqrt(norms[b]))
        )
        scored[a].append((-cos, b))
    expected = {}
    for a, cands in scored.items():
        for rank, (neg, b) in enumerate(sorted(cands)[:_COS_TOPK], start=1):
            expected[(a, rank)] = (b, -neg)
    rows = REGISTRY["text_sparse_cosine_topk"].fn(spark, SF_SMOKE).collect()
    got = {(r["doc_a"], r["rank"]): (r["doc_b"], r["cosine_micro"]) for r in rows}
    assert got == expected
    assert all(v[1] <= 1_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# compliance_cascade_delete
# ---------------------------------------------------------------------------

def test_cascade_delete_matches_pure_python(spark):
    cust = [r["c_custkey"] for r in table(spark, SF_SMOKE, "customer").collect()]
    orders = [
        (r["o_orderkey"], r["o_custkey"])
        for r in table(spark, SF_SMOKE, "orders").collect()
    ]
    li = [r["l_orderkey"] for r in table(spark, SF_SMOKE, "lineitem").collect()]
    del_cust = {c for c in cust if c % _DELETE_MOD == 0}
    del_orders = {ok for ok, ck in orders if ck in del_cust}
    del_li = sum(1 for k in li if k in del_orders)
    expected = {
        "customer": (len(del_cust), len(cust) - len(del_cust), 0),
        "orders": (len(del_orders), len(orders) - len(del_orders), 0),
        "lineitem": (del_li, len(li) - del_li, 0),
    }
    rows = REGISTRY["compliance_cascade_delete"].fn(spark, SF_SMOKE).collect()
    got = {
        r["table_name"]: (r["rows_purged"], r["rows_retained"], r["orphans_after"])
        for r in rows
    }
    assert got == expected
    # contract: something was actually purged at every level
    assert all(v[0] > 0 for v in got.values())
