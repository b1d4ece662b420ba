"""Round-5 nineteenth batch: item-item CF, ABC-XYZ matrix, seasonal
anomalies — pure-python differential replays over sf0.001 plus the
operator contracts (neighbors are symmetric candidates, matrix cells
partition the assortment, anomaly deviations exceed the fence)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5s import (
    _ANOM_K,
    _CF_HOT_CAP,
    _CF_SAMPLE_MOD,
    _CF_TOPK,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# recsys_item_item_cf
# ---------------------------------------------------------------------------

def test_item_item_cf_matches_pure_python(spark):
    ocust = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    cp: dict = defaultdict(set)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        ck = ocust[r["l_orderkey"]]
        if ck % _CF_SAMPLE_MOD == 0:
            cp[ck].add(r["l_partkey"])
    cp = {ck: parts for ck, parts in cp.items() if len(parts) <= _CF_HOT_CAP}
    sizes: Counter = Counter()
    inter: Counter = Counter()
    for parts in cp.values():
        ps = sorted(parts)
        for p in ps:
            sizes[p] += 1
        for i, pa in enumerate(ps):
            for pb in ps:
                if pa != pb:
                    inter[(pa, pb)] += 1
    scored: dict = defaultdict(list)
    for (pa, pb), both in inter.items():
        j = _round_half_away(
            1_000_000.0 * both / (sizes[pa] + sizes[pb] - both)
        )
        scored[pa].append((-j, pb, both))
    expected = {}
    for pa, cands in scored.items():
        for rank, (negj, pb, both) in enumerate(sorted(cands)[:_CF_TOPK], 1):
            expected[(pa, rank)] = (pb, both, -negj)
    rows = REGISTRY["recsys_item_item_cf"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["part_a"], r["rank"]): (r["part_b"], r["n_both"], r["jaccard_micro"])
        for r in rows
    }
    assert got == expected
    # contract: co-purchase is symmetric — if (a,b) is a candidate so is (b,a)
    pairs = {(a, v[0]) for (a, _rk), v in got.items()}
    for a, b in pairs:
        assert (b, a) in inter


# ---------------------------------------------------------------------------
# orders_abc_xyz_matrix
# ---------------------------------------------------------------------------

def test_abc_xyz_matrix_matches_pure_python(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    monthly: dict = defaultdict(int)
    revenue: dict = defaultdict(int)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        d = odate[r["l_orderkey"]]
        m = (d.year - 1995) * 12 + (d.month - 1)
        monthly[(r["l_partkey"], m)] += _round_half_away(r["l_quantity"])
        revenue[r["l_partkey"]] += _round_half_away(r["l_extendedprice"] * 100)
    stats: dict = defaultdict(lambda: [0, 0, 0])
    for (pk, _m), q in monthly.items():
        a = stats[pk]
        a[0] += 1
        a[1] += q
        a[2] += q * q
    tot = sum(revenue.values())
    cum = 0
    cells: Counter = Counter()
    for pk in sorted(revenue, key=lambda p: (-revenue[p], p)):
        cum += revenue[pk]
        abc = "A" if 100 * cum <= 80 * tot else ("B" if 100 * cum <= 95 * tot else "C")
        n, s, ss = stats[pk]
        if n <= 1:
            xyz = "Z"
        elif 4 * n * (n * ss - s * s) < (n - 1) * s * s:
            xyz = "X"
        elif n * (n * ss - s * s) < (n - 1) * s * s:
            xyz = "Y"
        else:
            xyz = "Z"
        cells[(abc, xyz)] += 1
    rows = REGISTRY["orders_abc_xyz_matrix"].fn(spark, SF_SMOKE).collect()
    got = {(r["abc_class"], r["xyz_class"]): r["n_parts"] for r in rows}
    assert got == dict(cells)
    # contract: the matrix partitions the assortment
    assert sum(got.values()) == len(revenue)


# ---------------------------------------------------------------------------
# orders_seasonal_anomaly
# ---------------------------------------------------------------------------

def test_seasonal_anomaly_matches_pure_python(spark):
    daily: dict = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        daily[r["o_orderdate"].date()] += _round_half_away(r["o_totalprice"] * 100)
    monthly: dict = defaultdict(lambda: [0, 0])
    for day, cents in daily.items():
        a = monthly[day.month]
        a[0] += cents
        a[1] += 1
    s_all = sum(v[0] for v in monthly.values())
    d_all = sum(v[1] for v in monthly.values())
    idx = {
        m: _round_half_away(1_000_000.0 * (s_m * d_all) / (d_m * s_all))
        for m, (s_m, d_m) in monthly.items()
    }
    resid = {
        day: (
            cents,
            idx[day.month],
            _round_half_away(1_000_000.0 * cents / idx[day.month]),
        )
        for day, cents in daily.items()
    }
    ordered = sorted(resid.items(), key=lambda kv: (kv[1][2], kv[0]))
    med = ordered[(len(ordered) + 1) // 2 - 1][1][2]
    devs = sorted(
        (abs(v[2] - med), day) for day, v in resid.items()
    )
    mad = devs[(len(devs) + 1) // 2 - 1][0]
    expected = {
        day.isoformat(): (v[0], v[1], v[2], abs(v[2] - med))
        for day, v in resid.items()
        if abs(v[2] - med) > _ANOM_K * mad
    }
    rows = REGISTRY["orders_seasonal_anomaly"].fn(spark, SF_SMOKE).collect()
    got = {
        r["day"]: (r["cents"], r["index_micro"], r["resid_cents"], r["deviation"])
        for r in rows
    }
    assert got == expected
    # contract: every flagged deviation clears the fence
    assert all(v[3] > _ANOM_K * mad for v in got.values())
