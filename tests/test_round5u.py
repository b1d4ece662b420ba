"""Round-5 twenty-first batch: price waterfall, supplier scorecard,
attribution models — pure-python differential replays over sf0.001
plus the operator contracts (the waterfall telescopes exactly, the
scorecard's composite is bounded by the weight sum, both attribution
models allocate the same purchase total)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.orders import (
    _SCORE_TOPK,
    _SCORE_W_REVENUE,
    _SCORE_W_SPEED,
    _SCORE_W_VOLUME,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# orders_price_waterfall
# ---------------------------------------------------------------------------

def test_price_waterfall_matches_pure_python(spark):
    brand = {
        r["p_partkey"]: r["p_brand"]
        for r in table(spark, SF_SMOKE, "part").collect()
    }
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        a = agg[brand[r["l_partkey"]]]
        a[0] += 1
        a[1] += _round_half_away(r["l_extendedprice"] * 100)
        a[2] += _round_half_away(r["l_extendedprice"] * r["l_discount"] * 100)
        a[3] += _round_half_away(
            r["l_extendedprice"] * (1 - r["l_discount"]) * r["l_tax"] * 100
        )
    expected = {}
    for b, (n, g, d, t) in agg.items():
        expected[b] = (
            n,
            g,
            d,
            g - d,
            t,
            g - d - t,
            _round_half_away(1_000_000.0 * d / g),
            _round_half_away(1_000_000.0 * (g - d - t) / g),
        )
    rows = REGISTRY["orders_price_waterfall"].fn(spark, SF_SMOKE).collect()
    got = {
        r["brand"]: (
            r["n_lines"],
            r["gross_cents"],
            r["discount_cents"],
            r["net_cents"],
            r["tax_cents"],
            r["pocket_cents"],
            r["discount_leakage_micro"],
            r["pocket_ratio_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: the waterfall telescopes exactly
    for v in got.values():
        assert v[3] == v[1] - v[2] and v[5] == v[3] - v[4]


# ---------------------------------------------------------------------------
# supplier_scorecard
# ---------------------------------------------------------------------------

def test_supplier_scorecard_matches_pure_python(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    m: dict = defaultdict(lambda: [0, 0, 0])
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        a = m[r["l_suppkey"]]
        a[0] += 1
        a[1] += _round_half_away(r["l_extendedprice"] * 100)
        a[2] += (r["l_shipdate"].date() - odate[r["l_orderkey"]]).days
    sks = sorted(m)
    n = len(sks)

    def ranks(key, reverse=False):
        order = sorted(sks, key=lambda s: (-key(s) if reverse else key(s), s))
        return {s: i + 1 for i, s in enumerate(order)}

    r_vol = ranks(lambda s: m[s][0])
    r_rev = ranks(lambda s: m[s][1])
    r_spd = ranks(lambda s: m[s][2], reverse=True)

    def uniform(r):
        return _round_half_away(1_000_000.0 * (r - 1) / (n - 1))

    composite = {
        s: _SCORE_W_VOLUME * uniform(r_vol[s])
        + _SCORE_W_REVENUE * uniform(r_rev[s])
        + _SCORE_W_SPEED * uniform(r_spd[s])
        for s in sks
    }
    top = sorted(sks, key=lambda s: (-composite[s], s))[:_SCORE_TOPK]
    expected = {
        rank + 1: (s, m[s][0], m[s][1], composite[s])
        for rank, s in enumerate(top)
    }
    rows = REGISTRY["supplier_scorecard"].fn(spark, SF_SMOKE).collect()
    got = {
        r["rank"]: (r["suppkey"], r["volume"], r["revenue"], r["composite"])
        for r in rows
    }
    assert got == expected
    # contract: composite bounded by total weight x 1e6
    w_total = (_SCORE_W_VOLUME + _SCORE_W_REVENUE + _SCORE_W_SPEED) * 1_000_000
    assert all(0 <= v[3] <= w_total for v in got.values())


# ---------------------------------------------------------------------------
# events_attribution_models
# ---------------------------------------------------------------------------

def test_attribution_models_matches_pure_python(spark):
    by_user: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    credits: Counter = Counter()
    for evs in by_user.values():
        evs.sort()
        first = None
        last = None
        for _ts, _eid, etype in evs:
            if etype == "purchase":
                credits[("first_touch", first or "(none)")] += 1
                credits[("last_touch", last or "(none)")] += 1
            else:
                if first is None:
                    first = etype
                last = etype
    rows = REGISTRY["events_attribution_models"].fn(spark, SF_SMOKE).collect()
    got = {(r["model"], r["channel"]): r["credits"] for r in rows}
    assert got == dict(credits)
    # contract: both models allocate the same purchase total
    ft = sum(v for (m, _c), v in got.items() if m == "first_touch")
    lt = sum(v for (m, _c), v in got.items() if m == "last_touch")
    assert ft == lt
