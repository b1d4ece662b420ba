"""Round-5 twenty-sixth batch: forecast backtest, discount lift,
Little's law — pure-python differential replays over sf0.001 plus the
operator contracts (MAPE bounds the worst APE, the zero-discount lift
is exactly 1e6, Little's estimate agrees with the direct mean cycle
time within the non-stationarity band)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import timedelta

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5z import _BT_H
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_forecast_backtest
# ---------------------------------------------------------------------------

def test_forecast_backtest_matches_pure_python(spark):
    daily: dict = defaultdict(Counter)
    for r in table(spark, SF_SMOKE, "events").collect():
        daily[r["event_type"]][r["ts"].date()] += 1
    expected = {}
    for etype, counts in daily.items():
        lvl = trd = None
        apes = []
        for day in sorted(counts):
            x = float(counts[day])
            if lvl is None:
                lvl, trd = x, 0.0
            else:
                new_l = 0.5 * x + 0.5 * (lvl + trd)
                trd = 0.5 * (new_l - lvl) + 0.5 * trd
                lvl = new_l
            fc = _round_half_away(1_000_000.0 * (lvl + _BT_H * trd))
            target = day + timedelta(days=_BT_H)
            if target in counts:
                actual = counts[target]
                apes.append(
                    _round_half_away(
                        abs(fc - 1_000_000.0 * actual) / actual
                    )
                )
        expected[etype] = (
            len(apes),
            _round_half_away(1.0 * sum(apes) / len(apes)),
            max(apes),
        )
    rows = REGISTRY["events_forecast_backtest"].fn(spark, SF_SMOKE).collect()
    got = {
        r["event_type"]: (r["n_scored"], r["mape_micro"], r["worst_ape_micro"])
        for r in rows
    }
    assert got == expected
    # contract: the mean never exceeds the worst
    assert all(v[1] <= v[2] for v in got.values())


# ---------------------------------------------------------------------------
# orders_discount_lift
# ---------------------------------------------------------------------------

def test_discount_lift_matches_pure_python(spark):
    bands: dict = defaultdict(lambda: [0, 0])
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        a = bands[_round_half_away(r["l_discount"] * 100)]
        a[0] += 1
        a[1] += _round_half_away(r["l_quantity"])
    q0, n0 = bands[0][1], bands[0][0]
    expected = {
        d: (
            n,
            _round_half_away(1_000_000.0 * q / n),
            _round_half_away(1_000_000.0 * (q * n0) / (n * q0)),
        )
        for d, (n, q) in bands.items()
    }
    rows = REGISTRY["orders_discount_lift"].fn(spark, SF_SMOKE).collect()
    got = {
        r["disc_pct"]: (r["n_lines"], r["avg_qty_micro"], r["lift_micro"])
        for r in rows
    }
    assert got == expected
    # contract: the baseline band's lift is exactly 1e6
    assert got[0][2] == 1_000_000


# ---------------------------------------------------------------------------
# orders_littles_law
# ---------------------------------------------------------------------------

def test_littles_law_matches_pure_python(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    intervals = []
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        intervals.append((odate[r["l_orderkey"]], r["l_shipdate"].date()))
    deltas: Counter = Counter()
    for o, c in intervals:
        deltas[o] += 1
        deltas[c] -= 1
    days = sorted(deltas)
    open_now = 0
    monthly: dict = defaultdict(lambda: [0, 0])
    for i, day in enumerate(days):
        open_now += deltas[day]
        if i + 1 < len(days):
            span = (days[i + 1] - day).days
            m = f"{day.year:04d}-{day.month:02d}"
            monthly[m][0] += open_now * span
            monthly[m][1] += span
    arrivals: Counter = Counter()
    for o, _c in intervals:
        arrivals[f"{o.year:04d}-{o.month:02d}"] += 1
    expected = {}
    for m, (ods, cov) in monthly.items():
        if m in arrivals:
            expected[m] = (
                arrivals[m],
                ods,
                cov,
                _round_half_away(1_000_000.0 * ods / arrivals[m]),
            )
    rows = REGISTRY["orders_littles_law"].fn(spark, SF_SMOKE).collect()
    got = {
        r["month"]: (
            r["n_arrivals"],
            r["open_day_sum"],
            r["days_covered"],
            r["implied_wait_days_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: the queueing estimate agrees with the directly measured
    # mean cycle time at the whole-horizon level (exact when every
    # interval is integrated over its full life; edge months truncate)
    total_open_days = sum(v[1] for v in got.values())
    direct = sum((c - o).days for o, c in intervals)
    assert abs(total_open_days - direct) <= direct * 0.05