"""Round-5 sixth batch: CUSUM drift, triangle clustering, Bloom
prefilter, market basket — pure-python differential replays over
sf0.001 plus the operator contracts (the planted step must fire on
exactly the planted series; the Bloom prefilter must keep every true
match; triangle counts must equal the brute-force enumeration)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from datetime import datetime

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import (
    _CUSUM_STEP_FROM,
    _CUSUM_THRESH_DEN,
    _CUSUM_THRESH_NUM,
)
from job_datapipeline_spark.plans.orders import _BASKET_MIN_SUPPORT, _BASKET_TOPK
from job_datapipeline_spark.plans.queries import _PREF_K, _PREF_M, _PREF_SEGMENT
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_cusum_drift
# ---------------------------------------------------------------------------

def test_cusum_drift_matches_pure_python_and_fires_on_planted_step(spark):
    step_from = datetime.fromisoformat(_CUSUM_STEP_FROM)
    hourly: dict[str, dict] = defaultdict(dict)
    for r in table(spark, SF_SMOKE, "events").collect():
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        hourly[r["event_type"]][h] = hourly[r["event_type"]].get(h, 0) + (
            _round_half_away(r["value"] * 100)
        )
    expected = {}
    for et, series in hourly.items():
        pts = sorted(
            (h, c + (c if et == "click" and h >= step_from else 0))
            for h, c in series.items()
        )
        n = len(pts)
        total = sum(c for _h, c in pts)
        s = 0
        smin = 0
        first = None
        flagged = 0
        cmax = None
        for i, (h, c) in enumerate(pts):
            s += n * c - total
            smin = s if i == 0 else min(smin, s)
            ci = s - smin
            cmax = ci if cmax is None else max(cmax, ci)
            if _CUSUM_THRESH_DEN * ci > _CUSUM_THRESH_NUM * n * total:
                flagged += 1
                first = first or h
        expected[et] = (n, flagged, first, cmax)
    got = {
        r["event_type"]: (
            r["n_hours"], r["n_flagged"], r["first_drift_hour"], r["max_cusum"]
        )
        for r in REGISTRY["events_cusum_drift"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the planted step fires on click and nothing else
    assert got["click"][1] > 0
    assert got["click"][2] >= step_from
    for et, (_n, flagged, _f, _m) in got.items():
        if et != "click":
            assert flagged == 0, (et, flagged)


# ---------------------------------------------------------------------------
# graph_triangle_clustering
# ---------------------------------------------------------------------------

def _triangle_brute_force(rows):
    cells = set()
    for r in rows:
        if r["event_type"] == "purchase" and r["user_id"] % 3 == 0:
            h = r["ts"].replace(minute=0, second=0, microsecond=0)
            cells.add((h, r["user_id"]))
    by_cell: dict = defaultdict(list)
    for h, u in cells:
        by_cell[h].append(u)
    edges = set()
    for users in by_cell.values():
        us = sorted(users)
        for i, u in enumerate(us):
            for v in us[i + 1:]:
                edges.add((u, v))
    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tri = sum(
        1
        for u, v in edges
        for w in deg
        if w > v and (v, w) in edges and (u, w) in edges
    )
    return deg, edges, wedges, tri


def test_triangle_clustering_matches_brute_force_smoke(spark):
    deg, edges, wedges, tri = _triangle_brute_force(
        table(spark, SF_SMOKE, "events").collect()
    )
    [row] = REGISTRY["graph_triangle_clustering"].fn(spark, SF_SMOKE).collect()
    assert row["n_vertices"] == len(deg)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri
    if wedges == 0:
        assert row["clustering_micro"] is None
    else:
        assert row["clustering_micro"] == _round_half_away(
            3_000_000.0 * tri / wedges
        )


def test_triangle_clustering_nondegenerate_at_sf001(spark):
    # sf0.01 has a real graph: brute-force agreement AND triangles exist
    sf = "/root/testdata/sf0.01"
    deg, edges, wedges, tri = _triangle_brute_force(
        table(spark, sf, "events").collect()
    )
    [row] = REGISTRY["graph_triangle_clustering"].fn(spark, sf).collect()
    assert (row["n_edges"], row["n_triangles"]) == (len(edges), tri)
    assert tri > 0 and wedges > 0
    assert row["clustering_micro"] == _round_half_away(
        3_000_000.0 * tri / wedges
    )


# ---------------------------------------------------------------------------
# join_bloom_prefilter
# ---------------------------------------------------------------------------

def test_bloom_prefilter_keeps_all_matches(spark):
    dim = {
        r["c_custkey"]
        for r in table(spark, SF_SMOKE, "customer").collect()
        if r["c_mktsegment"] == _PREF_SEGMENT
    }

    def bloom_bits(key: int) -> set:
        return {
            int(hashlib.md5(f"{key}:{j}".encode()).hexdigest()[:15], 16) % _PREF_M
            for j in range(_PREF_K)
        }

    bits = set()
    for k in dim:
        bits |= bloom_bits(k)
    orders = [
        r["o_custkey"] for r in table(spark, SF_SMOKE, "orders").collect()
    ]
    passed = [c for c in orders if bloom_bits(c) <= bits]
    true_matches = sum(1 for c in orders if c in dim)
    [row] = REGISTRY["join_bloom_prefilter"].fn(spark, SF_SMOKE).collect()
    assert row["orders_total"] == len(orders)
    assert row["orders_after_prefilter"] == len(passed)
    assert row["exact_join_rows"] == true_matches
    assert row["true_join_rows"] == true_matches
    assert row["kept_all_matches"] is True
    # the prefilter actually reduces (the segment is selective)
    assert len(passed) < len(orders)


# ---------------------------------------------------------------------------
# orders_market_basket
# ---------------------------------------------------------------------------

def test_market_basket_matches_pure_python(spark):
    brand = {
        r["p_partkey"]: r["p_brand"]
        for r in table(spark, SF_SMOKE, "part").collect()
    }
    baskets: dict[int, set] = defaultdict(set)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        baskets[r["l_orderkey"]].add(brand[r["l_partkey"]])
    n = len(baskets)
    item_c = Counter()
    pair_c = Counter()
    for its in baskets.values():
        for it in its:
            item_c[it] += 1
        s = sorted(its)
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                pair_c[(a, b)] += 1
    rows = []
    for (a, b), sup in pair_c.items():
        if sup < _BASKET_MIN_SUPPORT:
            continue
        conf = _round_half_away(1_000_000.0 * sup / item_c[a])
        lift = _round_half_away(
            1_000_000.0 * (n * sup) / (item_c[a] * item_c[b])
        )
        rows.append((a, b, sup, conf, lift))
    rows.sort(key=lambda t: (-t[4], t[0], t[1]))
    expected = rows[:_BASKET_TOPK]
    got = [
        (
            r["item_a"], r["item_b"], r["support"],
            r["confidence_micro"], r["lift_micro"],
        )
        for r in REGISTRY["orders_market_basket"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected
    assert got, "min-support must pass at this sf"
