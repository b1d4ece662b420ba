"""Round-5 twelfth batch: EWMA, Kaplan-Meier, OLS trend, Benford,
Gram matrix — pure-python differential replays over sf0.001 plus the
operator contracts (EWMA stays inside the series envelope, survival is
monotone non-increasing from 1e6, R^2 in [0, 1e6], Benford expected
counts sum to exactly n*1e6, the Gram diagonal is non-negative)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5l import (
    _BENFORD_MICRO,
    _GRAM_DIMS,
    _KM_HORIZON_WEEKS,
    _KM_PACK,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_ewma_daily
# ---------------------------------------------------------------------------

def test_ewma_daily_matches_pure_python(spark):
    daily: dict = defaultdict(Counter)
    for r in table(spark, SF_SMOKE, "events").collect():
        daily[r["event_type"]][r["ts"].date()] += 1
    expected = {}
    for etype, counts in daily.items():
        s = None
        for day in sorted(counts):
            x = float(counts[day])
            s = x if s is None else 0.5 * x + 0.5 * s
            expected[(etype, day.isoformat())] = (
                counts[day],
                _round_half_away(1_000_000.0 * s),
            )
    rows = REGISTRY["events_ewma_daily"].fn(spark, SF_SMOKE).collect()
    got = {(r["event_type"], r["day"]): (r["n"], r["ewma_micro"]) for r in rows}
    assert got == expected
    # contract: the smoother stays inside the envelope of the series so far
    seen: dict = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["event_type"], r["day"])):
        seen[r["event_type"]].append(r["n"])
        lo, hi = min(seen[r["event_type"]]), max(seen[r["event_type"]])
        assert lo * 1_000_000 - 1 <= r["ewma_micro"] <= hi * 1_000_000 + 1


# ---------------------------------------------------------------------------
# orders_survival_km
# ---------------------------------------------------------------------------

def test_survival_km_matches_pure_python(spark):
    orders = sorted(
        table(spark, SF_SMOKE, "orders").collect(),
        key=lambda r: (r["o_custkey"], r["o_orderdate"], r["o_orderkey"]),
    )
    first_two: dict = {}
    for r in orders:
        first_two.setdefault(r["o_custkey"], []).append(r["o_orderdate"])
    units = []
    for dates in first_two.values():
        d1 = dates[0]
        d2 = dates[1] if len(dates) > 1 else None
        gap_w = None if d2 is None else (d2 - d1).days // 7
        if gap_w is not None and gap_w <= _KM_HORIZON_WEEKS:
            units.append((gap_w, True))
        else:
            units.append((_KM_HORIZON_WEEKS, False))
    weekly: dict = defaultdict(lambda: [0, 0])
    for week, ev in units:
        weekly[week][0 if ev else 1] += 1
    at_risk = len(units)
    s = _KM_PACK
    expected = {}
    for week in sorted(weekly):
        d, c = weekly[week]
        s = (s * (at_risk - d)) // at_risk
        expected[week] = (d, c, at_risk, s)
        at_risk -= d + c
    rows = REGISTRY["orders_survival_km"].fn(spark, SF_SMOKE).collect()
    got = {
        r["week"]: (r["n_events"], r["n_censored"], r["n_at_risk"], r["surv_micro"])
        for r in rows
    }
    assert got == expected
    # contract: survival starts <= 1e6 and never increases
    ordered = [got[w][3] for w in sorted(got)]
    assert all(a >= b for a, b in zip(ordered, ordered[1:]))
    assert ordered[0] <= _KM_PACK


# ---------------------------------------------------------------------------
# orders_trend_ols
# ---------------------------------------------------------------------------

def test_trend_ols_matches_pure_python(spark):
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
    sums: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for (nat, x), y in monthly.items():
        a = sums[nat]
        a[0] += 1
        a[1] += x
        a[2] += y
        a[3] += x * y
        a[4] += x * x
        a[5] += y * y
    expected = {}
    for nat, (n, sx, sy, sxy, sxx, syy) in sums.items():
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        syy_c = n * syy - sy * sy
        expected[nat] = (
            n,
            _round_half_away(1_000_000.0 * num / den),
            _round_half_away(
                1_000_000.0 * (float(sy) * den - float(num) * sx) / (float(n) * den)
            ),
            _round_half_away(
                1_000_000.0 * float(num) * float(num) / (float(den) * float(syy_c))
            ),
        )
    rows = REGISTRY["orders_trend_ols"].fn(spark, SF_SMOKE).collect()
    got = {
        r["nation"]: (r["n"], r["slope_micro"], r["intercept_micro"], r["r2_micro"])
        for r in rows
    }
    assert got == expected
    # contract: R^2 is a proportion of variance
    assert all(0 <= v[3] <= 1_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# agg_benford_audit
# ---------------------------------------------------------------------------

def test_benford_audit_matches_pure_python(spark):
    obs: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        cents = _round_half_away(r["o_totalprice"] * 100)
        obs[int(str(cents)[0])] += 1
    n = sum(obs.values())
    expected = {}
    for d, p in _BENFORD_MICRO.items():
        n_obs = obs.get(d, 0)
        diff = 1_000_000.0 * n_obs - float(n * p)
        expected[d] = (
            n_obs,
            n * p,
            _round_half_away(1_000_000.0 * diff * diff / (1_000_000.0 * n * p)),
        )
    rows = REGISTRY["agg_benford_audit"].fn(spark, SF_SMOKE).collect()
    got = {
        r["digit"]: (r["n_obs"], r["expected_micro"], r["chi2_component_micro"])
        for r in rows
    }
    assert got == expected
    assert len(got) == 9
    # contract: pinned probabilities partition the total exactly
    assert sum(v[1] for v in got.values()) == n * 1_000_000
    assert sum(v[0] for v in got.values()) == n


# ---------------------------------------------------------------------------
# embedding_gram_matrix
# ---------------------------------------------------------------------------

def test_gram_matrix_matches_pure_python(spark):
    vecs = [
        [_round_half_away(float(x) * 1_000_000) for x in r["embedding"][:_GRAM_DIMS]]
        for r in table(spark, SF_SMOKE, "embeddings").collect()
    ]
    expected = {}
    for i in range(_GRAM_DIMS):
        for j in range(i, _GRAM_DIMS):
            expected[(i + 1, j + 1)] = (
                sum(v[i] * v[j] for v in vecs),
                len(vecs),
            )
    rows = REGISTRY["embedding_gram_matrix"].fn(spark, SF_SMOKE).collect()
    got = {(r["i"], r["j"]): (r["gram_micro2"], r["n_vecs"]) for r in rows}
    assert got == expected
    assert len(got) == _GRAM_DIMS * (_GRAM_DIMS + 1) // 2
    # contract: the diagonal (second moments) is non-negative
    assert all(got[(i, i)][0] >= 0 for i in range(1, _GRAM_DIMS + 1))
