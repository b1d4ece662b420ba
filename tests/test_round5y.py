"""Round-5 twenty-fifth batch: feature-store build — pure-python
differential replay over sf0.001 plus the operator contracts (recency
never exceeds tenure, the churn label is exactly the recency fence,
single-order customers carry a NULL gap)."""

from __future__ import annotations

import math
from collections import defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.ml import _CHURN_WINDOW_DAYS
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def test_feature_store_build_matches_pure_python(spark):
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    cnation = {
        r["c_custkey"]: nation[r["c_nationkey"]]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    per_cust: dict = defaultdict(lambda: [0, 0, None, None])
    snap = None
    for r in table(spark, SF_SMOKE, "orders").collect():
        d = r["o_orderdate"].date()
        snap = d if snap is None else max(snap, d)
        a = per_cust[r["o_custkey"]]
        a[0] += 1
        a[1] += _round_half_away(r["o_totalprice"] * 100)
        a[2] = d if a[2] is None else min(a[2], d)
        a[3] = d if a[3] is None else max(a[3], d)
    expected = {}
    for ck, (freq, cents, first, last) in per_cust.items():
        rec = (snap - last).days
        ten = (snap - first).days
        gap = (
            _round_half_away(1_000_000.0 * (ten - rec) / (freq - 1))
            if freq > 1
            else None
        )
        expected[ck] = (
            cnation[ck],
            freq,
            cents,
            rec,
            ten,
            gap,
            rec > _CHURN_WINDOW_DAYS,
        )
    rows = REGISTRY["ml_feature_store_build"].fn(spark, SF_SMOKE).collect()
    got = {
        r["custkey"]: (
            r["nation"],
            r["frequency"],
            r["monetary_cents"],
            r["recency_days"],
            r["tenure_days"],
            r["avg_gap_days_micro"],
            r["churned"],
        )
        for r in rows
    }
    assert got == expected
    # contracts
    for _nat, freq, _cents, rec, ten, gap, churned in got.values():
        assert 0 <= rec <= ten
        assert churned == (rec > _CHURN_WINDOW_DAYS)
        assert (gap is None) == (freq == 1)
