"""Round-5 eighteenth batch: feature scaling, TWAP, aging buckets —
pure-python differential replays over sf0.001 plus the operator
contracts (rank-uniform spans exactly [0, 1e6], TWAP coverage never
exceeds a day, bucket shares sum to ~1e6)."""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import timedelta

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# ml_feature_scaling
# ---------------------------------------------------------------------------

def test_feature_scaling_matches_pure_python(spark):
    groups: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        groups[r["l_returnflag"]].append(
            (
                _round_half_away(r["l_extendedprice"] * 100),
                r["l_orderkey"],
                r["l_linenumber"],
            )
        )
    expected = []
    for flag, rows in groups.items():
        rows.sort()
        n = len(rows)
        s = sum(c for c, _o, _l in rows)
        ss = sum(c * c for c, _o, _l in rows)
        mn = rows[0][0]
        mx = rows[-1][0]
        std = math.sqrt((float(n) * ss - float(s) * s) / (float(n) * (n - 1.0)))
        for rk, (c, o, l) in enumerate(rows, start=1):
            expected.append(
                (
                    flag,
                    o,
                    l,
                    c,
                    _round_half_away(1_000_000.0 * (c - float(s) / n) / std),
                    _round_half_away(1_000_000.0 * (c - mn) / (mx - mn)),
                    _round_half_away(1_000_000.0 * (rk - 1) / (n - 1.0)),
                )
            )
    rows_out = REGISTRY["ml_feature_scaling"].fn(spark, SF_SMOKE).collect()
    # (l_orderkey, l_linenumber) is NOT unique in this synthetic fixture,
    # so compare the full sorted multiset of rows
    got = sorted(
        (
            r["flag"],
            r["l_orderkey"],
            r["l_linenumber"],
            r["cents"],
            r["z_micro"],
            r["minmax_micro"],
            r["rank_uniform_micro"],
        )
        for r in rows_out
    )
    assert got == sorted(expected)
    # contract: rank-uniform spans exactly [0, 1e6] within each group
    by_flag: dict = defaultdict(list)
    for row in got:
        by_flag[row[0]].append(row[6])
    for vals in by_flag.values():
        assert min(vals) == 0 and max(vals) == 1_000_000


# ---------------------------------------------------------------------------
# events_twap_daily
# ---------------------------------------------------------------------------

def test_twap_daily_matches_pure_python(spark):
    per_day: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        ts = r["ts"]
        us = int(ts.timestamp() * 1_000_000) if ts.tzinfo else None
        # timestamp() on naive datetimes applies the local zone; rebuild
        # epoch micros from the date parts instead (UTC semantics)
        import calendar

        us = (
            calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        )
        per_day[ts.date()].append(
            (us, r["event_id"], _round_half_away(r["value"] * 1_000_000))
        )
    expected = {}
    for day, obs in per_day.items():
        obs.sort()
        import calendar as _cal

        day_end = (
            _cal.timegm((day + timedelta(days=1)).timetuple()) * 1_000_000
        )
        num = den = 0
        for i, (us, _eid, v) in enumerate(obs):
            nxt = obs[i + 1][0] if i + 1 < len(obs) else day_end
            dt = nxt - us
            num += v * dt
            den += dt
        expected[day.isoformat()] = (
            len(obs),
            den,
            _round_half_away(1.0 * num / den),
        )
    rows = REGISTRY["events_twap_daily"].fn(spark, SF_SMOKE).collect()
    got = {r["day"]: (r["n_obs"], r["covered_us"], r["twap_micro"]) for r in rows}
    assert got == expected
    # contract: coverage never exceeds one day
    assert all(v[1] <= 86_400_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# orders_aging_buckets
# ---------------------------------------------------------------------------

def test_aging_buckets_matches_pure_python(spark):
    orders = table(spark, SF_SMOKE, "orders").collect()
    snap = max(r["o_orderdate"].date() for r in orders)
    buckets: dict = defaultdict(lambda: [0, 0, 0])
    for r in orders:
        if r["o_orderstatus"] != "O":
            continue
        age = (snap - r["o_orderdate"].date()).days
        if age <= 30:
            b = "00-030d"
        elif age <= 90:
            b = "031-090d"
        elif age <= 365:
            b = "091-365d"
        else:
            b = "365d+"
        a = buckets[b]
        a[0] += 1
        a[1] += _round_half_away(r["o_totalprice"] * 100)
        a[2] = max(a[2], age)
    total = sum(v[1] for v in buckets.values())
    expected = {
        b: (n, cents, mx, _round_half_away(1_000_000.0 * cents / total))
        for b, (n, cents, mx) in buckets.items()
    }
    rows = REGISTRY["orders_aging_buckets"].fn(spark, SF_SMOKE).collect()
    got = {
        r["bucket"]: (
            r["n_orders"],
            r["total_cents"],
            r["max_age_d"],
            r["share_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: shares sum to ~1e6 (rounding slack per bucket)
    assert abs(sum(v[3] for v in got.values()) - 1_000_000) <= len(got)
