"""Round-5 tenth batch: new-user growth, weighted median, purchase
gaps, bot detection — pure-python differential replays over sf0.001
plus the operator contracts (cumulative users reach the user-base
size; the weighted median splits the weight mass; exactly the planted
bot fires)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import (
    _BOT_CV2_DEN,
    _BOT_EVENTS,
    _BOT_MIN_GAPS,
    _BOT_PERIOD_US,
    _BOT_START_US,
    _BOT_USER,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_new_user_growth
# ---------------------------------------------------------------------------

def test_new_user_growth_matches_pure_python(spark):
    base = set()
    for r in table(spark, SF_SMOKE, "events").collect():
        base.add((r["ts"].date(), r["user_id"]))
    first = {}
    for d, u in sorted(base):
        first.setdefault(u, d)
    days = sorted({d for d, _u in base})
    expected = {}
    cum = 0
    for d in days:
        dau = sum(1 for dd, _u in base if dd == d)
        new = sum(1 for u, fd in first.items() if fd == d)
        cum += new
        expected[str(d)] = (dau, new, dau - new, cum)
    got = {
        r["day"]: (r["dau"], r["n_new"], r["n_returning"], r["cumulative_users"])
        for r in REGISTRY["events_new_user_growth"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the cumulative curve ends at the full user base
    assert list(got.values())[-1][3] == len(first)


# ---------------------------------------------------------------------------
# agg_weighted_median
# ---------------------------------------------------------------------------

def test_weighted_median_matches_pure_python(spark):
    groups: dict[str, list] = defaultdict(list)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        groups[r["l_returnflag"]].append(
            (
                _round_half_away(r["l_extendedprice"] * 100),
                _round_half_away(r["l_quantity"]),
            )
        )
    expected = {}
    for flag, vals in groups.items():
        vals.sort()
        total = sum(w for _v, w in vals)
        cum = 0
        for v, w in vals:
            cum += w
            if 2 * cum >= total:
                expected[flag] = (v, total)
                break
    got = {
        r["l_returnflag"]: (r["weighted_median_cents"], r["total_weight"])
        for r in REGISTRY["agg_weighted_median"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the median splits the weight mass: weight strictly below the median
    # is under half the total
    for flag, (med, total) in got.items():
        below = sum(w for v, w in groups[flag] if v < med)
        assert 2 * below < total


# ---------------------------------------------------------------------------
# orders_interpurchase_gaps
# ---------------------------------------------------------------------------

def test_interpurchase_gaps_match_pure_python(spark):
    seg = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    per_cust: dict[int, list] = defaultdict(list)
    for r in table(spark, SF_SMOKE, "orders").collect():
        per_cust[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    gaps: dict[str, list] = defaultdict(list)
    for k, evs in per_cust.items():
        evs.sort()
        for (d1, _), (d2, _) in zip(evs, evs[1:]):
            gaps[seg[k]].append((d2 - d1).days)

    def pctl(vals, num, den):
        vals = sorted(vals)
        total = len(vals)
        cum = 0
        counts = Counter(vals)
        for g in sorted(counts):
            cum += counts[g]
            if den * cum >= num * total:
                return g
        return vals[-1]

    expected = {
        s: (pctl(v, 1, 2), pctl(v, 9, 10), len(v), max(v))
        for s, v in gaps.items()
    }
    got = {
        r["segment"]: (
            r["p50_gap_days"], r["p90_gap_days"], r["n_gaps"], r["max_gap_days"]
        )
        for r in REGISTRY["orders_interpurchase_gaps"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# events_bot_detection
# ---------------------------------------------------------------------------

def test_bot_detection_flags_exactly_the_planted_bot(spark):
    from datetime import datetime, timedelta

    per_user: dict[int, list] = defaultdict(list)
    epoch0 = datetime(1970, 1, 1)
    for r in table(spark, SF_SMOKE, "events").collect():
        # exact integer micros (a constant tz offset cancels in the gaps)
        micros = (r["ts"] - epoch0) // timedelta(microseconds=1)
        per_user[r["user_id"]].append(micros)
    per_user[_BOT_USER] = [
        _BOT_START_US + i * _BOT_PERIOD_US for i in range(_BOT_EVENTS)
    ]
    n_users = 0
    bots = []
    for u, ts in per_user.items():
        ts.sort()
        g = [(b - a) // 1_000_000 for a, b in zip(ts, ts[1:])]
        if not g:
            continue
        n_users += 1
        n, s1, s2 = len(g), sum(g), sum(x * x for x in g)
        if n >= _BOT_MIN_GAPS and n * (n * s2 - s1 * s1) * _BOT_CV2_DEN < s1 * s1:
            bots.append((u, n))
    [row] = REGISTRY["events_bot_detection"].fn(spark, SF_SMOKE).collect()
    assert row["n_users"] == n_users
    assert row["n_bots"] == len(bots) == 1
    assert row["bot_user"] == _BOT_USER
    assert row["bot_gaps"] == _BOT_EVENTS - 1
