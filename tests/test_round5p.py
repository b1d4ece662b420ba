"""Round-5 sixteenth batch: MMR diverse re-ranking, duplicate-invoice
screen, repeat-purchase rate — pure-python differential replays over
sf0.001 plus the operator contracts (the MMR selection is relevance-
sorted at step 1 and never repeats an id, pairs respect the band and
window, reorder counts partition the pair frame)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.ann import _MMR_K, _MMR_POOL
from job_datapipeline_spark.plans.orders import _DUPINV_BAND, _DUPINV_WINDOW_DAYS
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# ann_mmr_diverse_topk
# ---------------------------------------------------------------------------

def test_mmr_diverse_topk_matches_pure_python(spark):
    vecs = {
        r["vec_id"]: [_round_half_away(float(x) * 1_000_000) for x in r["embedding"]]
        for r in table(spark, SF_SMOKE, "embeddings").collect()
    }
    qid = min(vecs)
    qv = vecs[qid]
    rel = {
        vid: sum(a * b for a, b in zip(v, qv))
        for vid, v in vecs.items()
        if vid != qid
    }
    pool = sorted(rel, key=lambda vid: (-rel[vid], vid))[:_MMR_POOL]
    sims = {
        (i, j): sum(a * b for a, b in zip(vecs[pool[i]], vecs[pool[j]]))
        for i in range(len(pool))
        for j in range(len(pool))
    }
    selected: list[int] = []
    for _step in range(_MMR_K):
        best = None
        for i in range(len(pool)):
            if i in selected:
                continue
            penalty = max((sims[(i, j)] for j in selected), default=0)
            cand = (rel[pool[i]] - penalty, -i)
            if best is None or cand > best:
                best = cand
        selected.append(-best[1])
    expected = {
        rank + 1: (pool[i], rel[pool[i]], i + 1)
        for rank, i in enumerate(selected)
    }
    rows = REGISTRY["ann_mmr_diverse_topk"].fn(spark, SF_SMOKE).collect()
    got = {r["rank"]: (r["vec_id"], r["rel_micro2"], r["pool_idx"]) for r in rows}
    assert got == expected
    # contracts: first pick is the most relevant candidate; no repeats
    assert got[1][2] == 1
    assert len({v[0] for v in got.values()}) == _MMR_K


# ---------------------------------------------------------------------------
# orders_duplicate_invoices
# ---------------------------------------------------------------------------

def test_duplicate_invoices_matches_pure_python(spark):
    orders = [
        (
            r["o_orderkey"],
            r["o_custkey"],
            _round_half_away(r["o_totalprice"]),
            r["o_orderdate"].date(),
        )
        for r in table(spark, SF_SMOKE, "orders").collect()
    ]
    by_key: dict = defaultdict(list)
    for ok, ck, dollars, d in orders:
        by_key[(ck, dollars // _DUPINV_BAND)].append((ok, dollars, d))
    expected = {}
    for (ck, _band), lst in by_key.items():
        for i, (oa, da_d, da) in enumerate(lst):
            for ob, db_d, db in lst:
                if oa < ob and abs((db - da).days) <= _DUPINV_WINDOW_DAYS:
                    expected[(ck, oa, ob)] = (da_d, db_d, abs((db - da).days))
    rows = REGISTRY["orders_duplicate_invoices"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["custkey"], r["order_a"], r["order_b"]): (
            r["dollars_a"],
            r["dollars_b"],
            r["day_gap"],
        )
        for r in rows
    }
    assert got == expected
    assert len(got) >= 1  # the fixture plants at least one banded pair
    for (_ck, _oa, _ob), (da_d, db_d, gap) in got.items():
        assert da_d // _DUPINV_BAND == db_d // _DUPINV_BAND
        assert gap <= _DUPINV_WINDOW_DAYS


# ---------------------------------------------------------------------------
# part_reorder_rate
# ---------------------------------------------------------------------------

def test_part_reorder_rate_matches_pure_python(spark):
    ocust = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    brand = {
        r["p_partkey"]: r["p_brand"]
        for r in table(spark, SF_SMOKE, "part").collect()
    }
    pair_orders: dict = defaultdict(set)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        pair_orders[(r["l_partkey"], ocust[r["l_orderkey"]])].add(r["l_orderkey"])
    stats: dict = defaultdict(lambda: [0, 0, 0])
    for (pk, _ck), orders in pair_orders.items():
        a = stats[brand[pk]]
        a[0] += 1
        a[1] += 1 if len(orders) >= 2 else 0
        a[2] += len(orders)
    expected = {
        b: (
            n,
            rep,
            _round_half_away(1_000_000.0 * rep / n),
            tot,
        )
        for b, (n, rep, tot) in stats.items()
    }
    rows = REGISTRY["part_reorder_rate"].fn(spark, SF_SMOKE).collect()
    got = {
        r["brand"]: (
            r["n_pairs"],
            r["n_repeat"],
            r["reorder_rate_micro"],
            r["total_orders"],
        )
        for r in rows
    }
    assert got == expected
    # contract: repeats never exceed pairs, totals never undercount pairs
    for n, rep, _rate, tot in got.values():
        assert rep <= n <= tot
