"""Round-5 twentieth batch: matched cohort, star mart build, cycle
time — pure-python differential replays over sf0.001 plus the operator
contracts (every treated unit matched to a genuine control, mart
rollup reconciles to source totals with zero orphans, p50 <= p90)."""

from __future__ import annotations

import math
from collections import defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.ml import _TREATED_SEGMENT
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# causal_matched_cohort
# ---------------------------------------------------------------------------

def test_matched_cohort_matches_pure_python(spark):
    spend: dict = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        spend[r["o_custkey"]] += _round_half_away(r["o_totalprice"] * 100)
    units = []
    for r in table(spark, SF_SMOKE, "customer").collect():
        units.append(
            (
                _round_half_away(r["c_acctbal"] * 100),
                r["c_custkey"],
                r["c_mktsegment"] == _TREATED_SEGMENT,
                spend.get(r["c_custkey"], 0),
            )
        )
    units.sort()
    n = len(units)
    prev_ctl = [None] * n
    last = None
    for i, (bal, ck, treated, sp) in enumerate(units):
        prev_ctl[i] = last
        if not treated:
            last = (bal, sp)
    next_ctl = [None] * n
    nxt = None
    for i in range(n - 1, -1, -1):
        next_ctl[i] = nxt
        bal, ck, treated, sp = units[i]
        if not treated:
            nxt = (bal, sp)
    diffs = []
    t_sp = []
    m_sp = []
    for i, (bal, ck, treated, sp) in enumerate(units):
        if not treated:
            continue
        p, nx = prev_ctl[i], next_ctl[i]
        if nx is None or (p is not None and abs(bal - p[0]) <= abs(bal - nx[0])):
            ctl = p[1]
        else:
            ctl = nx[1]
        t_sp.append(sp)
        m_sp.append(ctl)
        diffs.append(sp - ctl)
    row = REGISTRY["causal_matched_cohort"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_treated"] == len(diffs)
    assert row["mean_treated_cents"] == _round_half_away(
        1.0 * sum(t_sp) / len(t_sp)
    )
    assert row["mean_matched_cents"] == _round_half_away(
        1.0 * sum(m_sp) / len(m_sp)
    )
    assert row["att_cents"] == _round_half_away(1.0 * sum(diffs) / len(diffs))


# ---------------------------------------------------------------------------
# mart_star_schema_build
# ---------------------------------------------------------------------------

def test_star_mart_build_matches_pure_python(spark):
    nation = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    region = {
        r["r_regionkey"]: r["r_name"]
        for r in table(spark, SF_SMOKE, "region").collect()
    }
    cregion = {
        r["c_custkey"]: region[nation[r["c_nationkey"]]]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    rollup: dict = defaultdict(lambda: [0, 0])
    for r in table(spark, SF_SMOKE, "orders").collect():
        key = (r["o_orderdate"].year, cregion[r["o_custkey"]])
        rollup[key][0] += 1
        rollup[key][1] += _round_half_away(r["o_totalprice"] * 100)
    rows = REGISTRY["mart_star_schema_build"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["order_year"], r["region"]): [r["n_orders"], r["revenue_cents"]]
        for r in rows
    }
    assert got == {k: v for k, v in rollup.items()}
    # contract: the materialized fact has zero orphan surrogates and the
    # rollup reconciles to the source order count
    assert all(r["fact_orphans"] == 0 for r in rows)
    assert sum(v[0] for v in got.values()) == sum(v[0] for v in rollup.values())


# ---------------------------------------------------------------------------
# orders_cycle_time_trend
# ---------------------------------------------------------------------------

def test_cycle_time_trend_matches_pure_python(spark):
    odate = {
        r["o_orderkey"]: r["o_orderdate"].date()
        for r in table(spark, SF_SMOKE, "orders").collect()
    }
    months: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        ship = r["l_shipdate"].date()
        d = (ship - odate[r["l_orderkey"]]).days
        months[f"{ship.year:04d}-{ship.month:02d}"].append(
            (d, r["l_orderkey"], r["l_linenumber"])
        )
    expected = {}
    for m, lst in months.items():
        lst.sort()
        n = len(lst)
        expected[m] = (
            n,
            lst[(n + 1) // 2 - 1][0],
            lst[(9 * n + 9) // 10 - 1][0],
            _round_half_away(1_000_000.0 * sum(d for d, _o, _l in lst) / n),
        )
    rows = REGISTRY["orders_cycle_time_trend"].fn(spark, SF_SMOKE).collect()
    got = {
        r["month"]: (r["n_lines"], r["p50_days"], r["p90_days"], r["mean_days_micro"])
        for r in rows
    }
    assert got == expected
    # contract: percentiles are ordered
    assert all(v[1] <= v[2] for v in got.values())
