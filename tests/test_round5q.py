"""Round-5 seventeenth batch: Holt smoothing, k-core peeling, Theil-Sen
— pure-python differential replays over sf0.001 plus the operator
contracts (the forecast decomposes exactly into level + h*trend, peel
trajectories are monotone non-increasing, and the Theil-Sen median is
an actual pairwise slope)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _HOLT_H
from job_datapipeline_spark.plans.ml import _KCORE_K, _KCORE_ROUNDS
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_holt_forecast
# ---------------------------------------------------------------------------

def test_holt_forecast_matches_pure_python(spark):
    daily: dict = defaultdict(Counter)
    for r in table(spark, SF_SMOKE, "events").collect():
        daily[r["event_type"]][r["ts"].date()] += 1
    expected = {}
    for etype, counts in daily.items():
        lvl = trd = None
        for day in sorted(counts):
            x = float(counts[day])
            if lvl is None:
                lvl, trd = x, 0.0
            else:
                new_l = 0.5 * x + 0.5 * (lvl + trd)
                trd = 0.5 * (new_l - lvl) + 0.5 * trd
                lvl = new_l
            expected[(etype, day.isoformat())] = (
                counts[day],
                _round_half_away(1_000_000.0 * lvl),
                _round_half_away(1_000_000.0 * trd),
                _round_half_away(1_000_000.0 * (lvl + _HOLT_H * trd)),
            )
    rows = REGISTRY["events_holt_forecast"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["event_type"], r["day"]): (
            r["n"],
            r["level_micro"],
            r["trend_micro"],
            r[f"forecast_{_HOLT_H}d_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: forecast is exactly level + h*trend in micro space
    for n, lvl, trd, fc in got.values():
        assert abs(fc - (lvl + _HOLT_H * trd)) <= _HOLT_H + 1  # rounding slack


# ---------------------------------------------------------------------------
# graph_kcore_peel
# ---------------------------------------------------------------------------

def test_kcore_peel_matches_pure_python(spark):
    ocust = {
        r["o_orderkey"]: r["o_custkey"]
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    edges = {
        (ocust[r["l_orderkey"]], r["l_partkey"])
        for r in table(spark, SF_SMOKE, "lineitem").collect()
    }
    expected = {}

    def stats(es):
        return (
            len(es),
            len({c for c, _p in es}),
            len({p for _c, p in es}),
        )

    expected[0] = stats(edges)
    cur = edges
    for rnd in range(1, _KCORE_ROUNDS + 1):
        dc: Counter = Counter()
        dp: Counter = Counter()
        for c, p in cur:
            dc[c] += 1
            dp[p] += 1
        cur = {
            (c, p)
            for c, p in cur
            if dc[c] >= _KCORE_K and dp[p] >= _KCORE_K
        }
        expected[rnd] = stats(cur)
    rows = REGISTRY["graph_kcore_peel"].fn(spark, SF_SMOKE).collect()
    got = {r["round"]: (r["n_edges"], r["n_custs"], r["n_parts"]) for r in rows}
    assert got == expected
    # contract: the trajectory is monotone non-increasing
    seq = [got[r] for r in sorted(got)]
    for a, b in zip(seq, seq[1:]):
        assert all(x >= y for x, y in zip(a, b))


# ---------------------------------------------------------------------------
# orders_theil_sen_trend
# ---------------------------------------------------------------------------

def test_theil_sen_matches_pure_python(spark):
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    cnation = {
        r["c_custkey"]: nation[r["c_nationkey"]]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    monthly: dict = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        d = r["o_orderdate"]
        x = (d.year - 1995) * 12 + (d.month - 1)
        monthly[(cnation[r["o_custkey"]], x)] += _round_half_away(r["o_totalprice"])
    by_nation: dict = defaultdict(list)
    for (nat, x), y in monthly.items():
        by_nation[nat].append((x, y))
    expected = {}
    slopes_by_nation = {}
    for nat, pts in by_nation.items():
        pts.sort()
        slopes = []
        for i, (x1, y1) in enumerate(pts):
            for x2, y2 in pts[i + 1:]:
                slopes.append(_round_half_away(1_000_000.0 * (y2 - y1) / (x2 - x1)))
        slopes.sort()
        slopes_by_nation[nat] = slopes
        expected[nat] = (len(slopes), slopes[(len(slopes) + 1) // 2 - 1])
    rows = REGISTRY["orders_theil_sen_trend"].fn(spark, SF_SMOKE).collect()
    got = {
        r["nation"]: (r["n_pairs"], r["theil_sen_slope_micro"]) for r in rows
    }
    assert got == expected
    # contract: the reported median is an actual pairwise slope
    for nat, (_n, med) in got.items():
        assert med in slopes_by_nation[nat]
