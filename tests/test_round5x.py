"""Round-5 twenty-fourth batch: Gaussian-mixture EM, revenue bridge —
pure-python differential replays over sf0.001 plus the operator
contracts (mixture weight stays a probability and the component means
straddle the data median; the bridge identity holds to the cent)."""

from __future__ import annotations

import math
from collections import defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.ml import _EM_ITERS
from job_datapipeline_spark.plans.orders import _BRIDGE_Y1, _BRIDGE_Y2
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# ml_em_gaussian_mixture
# ---------------------------------------------------------------------------

def test_em_gaussian_mixture_matches_pure_python(spark):
    rows = sorted(
        (
            _round_half_away(r["o_totalprice"] / 100),
            r["o_orderkey"],
        )
        for r in table(spark, SF_SMOKE, "orders").collect()
    )
    ds = [d for d, _k in rows]
    n = len(ds)
    s = sum(ds)
    sn = sum(d * d for d in ds)
    mu1 = float(ds[(n + 3) // 4 - 1])
    mu2 = float(ds[(3 * n + 3) // 4 - 1])
    var = sn / n - (s / n) * (s / n)
    w = 0.5
    expected = {}
    for it in range(1, _EM_ITERS + 1):
        m1 = m2 = s1 = s2 = q1 = q2 = 0
        for d in ds:
            p1 = w * math.exp(-(d - mu1) * (d - mu1) / (2.0 * var))
            p2 = (1.0 - w) * math.exp(-(d - mu2) * (d - mu2) / (2.0 * var))
            r = _round_half_away(1_000_000.0 * p1 / (p1 + p2))
            m1 += r
            m2 += 1_000_000 - r
            s1 += r * d
            s2 += (1_000_000 - r) * d
            q1 += r * d * d
            q2 += (1_000_000 - r) * d * d
        w = m1 / (1_000_000.0 * n)
        mu1 = s1 / m1
        mu2 = s2 / m2
        var = (
            (q1 + q2) / (1_000_000.0 * n)
            - w * mu1 * mu1
            - (m2 / (1_000_000.0 * n)) * mu2 * mu2
        )
        expected[it] = (
            _round_half_away(1_000_000.0 * w),
            _round_half_away(1_000_000.0 * mu1),
            _round_half_away(1_000_000.0 * mu2),
            _round_half_away(1_000_000.0 * var),
        )
    out = REGISTRY["ml_em_gaussian_mixture"].fn(spark, SF_SMOKE).collect()
    got = {
        r["iteration"]: (
            r["w_micro"],
            r["mu1_micro"],
            r["mu2_micro"],
            r["var_micro"],
        )
        for r in out
    }
    assert got == expected
    # contracts: weight is a probability; the means straddle the median
    med = ds[(n + 1) // 2 - 1] * 1_000_000
    for w_m, mu1_m, mu2_m, var_m in got.values():
        assert 0 <= w_m <= 1_000_000
        assert mu1_m < med < mu2_m
        assert var_m > 0


# ---------------------------------------------------------------------------
# orders_bridge_decomposition
# ---------------------------------------------------------------------------

def test_bridge_decomposition_matches_pure_python(spark):
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in table(spark, SF_SMOKE, "nation").collect()
    }
    cnation = {
        r["c_custkey"]: nation[r["c_nationkey"]]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in table(spark, SF_SMOKE, "orders").collect():
        y = r["o_orderdate"].year
        if y not in (_BRIDGE_Y1, _BRIDGE_Y2):
            continue
        a = agg[cnation[r["o_custkey"]]]
        cents = _round_half_away(r["o_totalprice"] * 100)
        if y == _BRIDGE_Y1:
            a[0] += 1
            a[1] += cents
        else:
            a[2] += 1
            a[3] += cents
    expected = {}
    for nat, (n1, c1, n2, c2) in agg.items():
        if n1 == 0 or n2 == 0:
            continue
        vol = _round_half_away(1.0 * (n2 - n1) * c1 / n1)
        expected[nat] = (n1, n2, c1, c2, c2 - c1, vol, (c2 - c1) - vol)
    rows = REGISTRY["orders_bridge_decomposition"].fn(spark, SF_SMOKE).collect()
    got = {
        r["nation"]: (
            r["n1"],
            r["n2"],
            r["c1"],
            r["c2"],
            r["delta_cents"],
            r["volume_effect_cents"],
            r["rate_effect_cents"],
        )
        for r in rows
    }
    assert got == expected
    # contract: the bridge telescopes exactly
    for v in got.values():
        assert v[5] + v[6] == v[4]
