"""Round-5 eleventh batch: interval sweep, exact mode, SLO budget,
seasonality index — pure-python differential replays over sf0.001 plus
the operator contracts (the sweep's total net change is zero once all
intervals close; mode count is the true maximum; seasonal indexes
average to ~1e6 weighted by days)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _SLO_DEN, _SLO_NUM
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# orders_open_interval_sweep
# ---------------------------------------------------------------------------

def test_open_interval_sweep_matches_pure_python(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    deltas: Counter = Counter()
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        deltas[odate[r["l_orderkey"]]] += 1
        deltas[r["l_shipdate"].date()] -= 1
    expected = {}
    open_now = 0
    per_month: dict[str, list] = {}
    for day in sorted(deltas):
        open_now += deltas[day]
        m = f"{day.year:04d}-{day.month:02d}"
        a = per_month.setdefault(m, [0, open_now, open_now])
        a[0] += deltas[day]
        a[1] = max(a[1], open_now)
        a[2] = open_now  # last day in month wins
    expected = {m: tuple(v) for m, v in per_month.items()}
    got = {
        r["month"]: (r["net_change"], r["peak_open"], r["month_end_open"])
        for r in REGISTRY["orders_open_interval_sweep"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # conservation: every opened interval eventually closes
    assert sum(net for net, _p, _e in got.values()) == 0
    assert list(got.values())[-1][2] == 0


# ---------------------------------------------------------------------------
# agg_mode_exact
# ---------------------------------------------------------------------------

def test_mode_exact_matches_pure_python(spark):
    counts: dict[str, Counter] = defaultdict(Counter)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        counts[r["l_returnflag"]][_round_half_away(r["l_quantity"])] += 1
    expected = {}
    for flag, c in counts.items():
        v, n = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        expected[flag] = (v, n)
    got = {
        r["l_returnflag"]: (r["mode_quantity"], r["mode_count"])
        for r in REGISTRY["agg_mode_exact"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for flag, (v, n) in got.items():
        assert n == max(counts[flag].values())


# ---------------------------------------------------------------------------
# events_error_rate_slo
# ---------------------------------------------------------------------------

def test_error_rate_slo_matches_pure_python(spark):
    daily: dict = defaultdict(lambda: [0, 0])
    for r in table(spark, SF_SMOKE, "events").collect():
        d = daily[str(r["ts"].date())]
        d[0] += 1
        if r["event_type"] == "error":
            d[1] += 1
    expected = {}
    cum_n = cum_e = 0
    for day in sorted(daily):
        n, n_err = daily[day]
        cum_n += n
        cum_e += n_err
        expected[day] = (
            n,
            n_err,
            _round_half_away(1_000_000.0 * n_err / n),
            _SLO_DEN * n_err > _SLO_NUM * n,
            cum_e,
            cum_n,
            _SLO_DEN * cum_e > _SLO_NUM * cum_n,
        )
    got = {
        r["day"]: (
            r["n"], r["n_err"], r["err_rate_micro"], r["breached"],
            r["cum_errors"], r["cum_events"], r["budget_exhausted"],
        )
        for r in REGISTRY["events_error_rate_slo"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# orders_seasonality_index
# ---------------------------------------------------------------------------

def test_seasonality_index_matches_pure_python(spark):
    daily: dict = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        daily[r["o_orderdate"].date()] += _round_half_away(
            r["o_totalprice"] * 100
        )
    monthly: dict[int, list] = defaultdict(lambda: [0, 0])
    for day, cents in daily.items():
        monthly[day.month][0] += cents
        monthly[day.month][1] += 1
    s_all = sum(s for s, _d in monthly.values())
    d_all = sum(d for _s, d in monthly.values())
    expected = {
        m: (
            s,
            d,
            _round_half_away(1_000_000.0 * (s * d_all) / (d * s_all)),
        )
        for m, (s, d) in monthly.items()
    }
    got = {
        r["cal_month"]: (r["revenue_cents"], r["n_days"], r["index_micro"])
        for r in REGISTRY["orders_seasonality_index"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # day-weighted mean index is ~1e6 by construction
    wmean = sum(got[m][2] * got[m][1] for m in got) / d_all
    assert abs(wmean - 1_000_000) < 1_000
