"""Round-5 fourteenth batch: grid NN geo join, KS test, Mann-Whitney,
trimmed mean — pure-python differential replays over sf0.001 plus the
operator contracts (the grid join never returns a candidate outside the
3x3 neighborhood, D is in [0, 1e6], doubled rank sums are integers by
construction, the trimmed mean sits inside the kept range)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5n import (
    _GEO_CELL_DEG,
    _KS_CRIT_MICRO2,
    _KS_G1,
    _KS_G2,
    _TRIM_PCT_DEN,
    _TRIM_PCT_NUM,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# geo_nearest_supplier
# ---------------------------------------------------------------------------

def _cust_pos(k: int) -> tuple[int, int]:
    return ((k * 7919) % 16000) * 10_000 - 80_000_000, (
        (k * 104729) % 36000
    ) * 10_000 - 180_000_000


def _supp_pos(k: int) -> tuple[int, int]:
    return ((k * 6151) % 16000) * 10_000 - 80_000_000, (
        (k * 3571) % 36000
    ) * 10_000 - 180_000_000


def test_geo_nearest_supplier_matches_pure_python(spark):
    cell = _GEO_CELL_DEG * 1_000_000
    supp = {}
    for r in table(spark, SF_SMOKE, "supplier").collect():
        lat, lon = _supp_pos(r["s_suppkey"])
        supp[r["s_suppkey"]] = (lat, lon, lat // cell, lon // cell)
    expected = {}
    for r in table(spark, SF_SMOKE, "customer").collect():
        ck = r["c_custkey"]
        if ck % 10 != 0:
            continue
        lat, lon = _cust_pos(ck)
        cx, cy = lat // cell, lon // cell
        best = None
        for sk, (slat, slon, scx, scy) in supp.items():
            if abs(scx - cx) <= 1 and abs(scy - cy) <= 1:
                d2 = ((lat - slat) // 1000) ** 2 + ((lon - slon) // 1000) ** 2
                # quantized distance exactly as the plan computes it:
                # integer division happens BEFORE squaring
                cand = (d2, sk)
                if best is None or cand < best:
                    best = cand
        if best is not None:
            expected[ck] = (best[1], best[0])
    rows = REGISTRY["geo_nearest_supplier"].fn(spark, SF_SMOKE).collect()
    got = {r["c_custkey"]: (r["s_suppkey"], r["dist2_milli"]) for r in rows}
    assert got == expected
    # contract: every match is genuinely inside the 3x3 neighborhood
    for ck, (sk, _d2) in got.items():
        lat, lon = _cust_pos(ck)
        slat, slon, scx, scy = supp[sk]
        assert abs(scx - lat // cell) <= 1 and abs(scy - lon // cell) <= 1


# ---------------------------------------------------------------------------
# agg_ks_test
# ---------------------------------------------------------------------------

def test_ks_test_matches_pure_python(spark):
    g1: Counter = Counter()
    g2: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        v = _round_half_away(r["o_totalprice"] * 100)
        if r["o_orderpriority"] == _KS_G1:
            g1[v] += 1
        elif r["o_orderpriority"] == _KS_G2:
            g2[v] += 1
    n1, n2 = sum(g1.values()), sum(g2.values())
    c1 = c2 = 0
    maxdiff = 0
    for v in sorted(set(g1) | set(g2)):
        c1 += g1.get(v, 0)
        c2 += g2.get(v, 0)
        maxdiff = max(maxdiff, abs(c1 * n2 - c2 * n1))
    row = REGISTRY["agg_ks_test"].fn(spark, SF_SMOKE).collect()[0]
    assert (row["n1"], row["n2"], row["maxdiff"]) == (n1, n2, maxdiff)
    assert row["d_micro"] == _round_half_away(1_000_000.0 * maxdiff / (n1 * n2))
    assert row["significant"] == (
        1_000_000.0 * float(maxdiff) * maxdiff
        > float(_KS_CRIT_MICRO2) * (n1 + n2) * n1 * n2
    )
    assert 0 <= row["d_micro"] <= 1_000_000


# ---------------------------------------------------------------------------
# agg_mann_whitney
# ---------------------------------------------------------------------------

def test_mann_whitney_matches_pure_python(spark):
    g1: Counter = Counter()
    tot: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        v = _round_half_away(r["o_totalprice"] * 100)
        if r["o_orderpriority"] in (_KS_G1, _KS_G2):
            tot[v] += 1
            if r["o_orderpriority"] == _KS_G1:
                g1[v] += 1
    before = 0
    r1_x2 = 0
    tie_cubes = 0
    n1 = sum(g1.values())
    n = sum(tot.values())
    n2 = n - n1
    for v in sorted(tot):
        t = tot[v]
        r1_x2 += g1.get(v, 0) * (2 * before + t + 1)
        tie_cubes += t * t * t - t
        before += t
    u1_x2 = r1_x2 - n1 * (n1 + 1)
    z = (u1_x2 / 2.0 - n1 * n2 / 2.0) / math.sqrt(
        n1 * n2 / 12.0 * ((n + 1.0) - tie_cubes / (n * (n - 1.0)))
    )
    row = REGISTRY["agg_mann_whitney"].fn(spark, SF_SMOKE).collect()[0]
    assert (row["n1"], row["n2"], row["u1_x2"]) == (n1, n2, u1_x2)
    assert row["z_micro"] == _round_half_away(1_000_000.0 * z)
    # contract: U1 + U2 = n1*n2 (doubled: u1_x2 + u2_x2 = 2*n1*n2)
    r2_x2 = n * (n + 1) - r1_x2  # total doubled rank sum 2*N(N+1)/2 minus R1
    u2_x2 = r2_x2 - n2 * (n2 + 1)
    assert u1_x2 + u2_x2 == 2 * n1 * n2


# ---------------------------------------------------------------------------
# agg_trimmed_mean
# ---------------------------------------------------------------------------

def test_trimmed_mean_matches_pure_python(spark):
    groups: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        groups[r["l_returnflag"]].append(
            (
                _round_half_away(r["l_extendedprice"] * 100),
                r["l_orderkey"],
                r["l_linenumber"],
            )
        )
    expected = {}
    for flag, rows in groups.items():
        rows.sort()
        n = len(rows)
        k = n * _TRIM_PCT_NUM // _TRIM_PCT_DEN
        kept = [c for c, _o, _l in rows[k : n - k]]
        expected[flag] = (
            n,
            len(kept),
            _round_half_away(1.0 * sum(kept) / len(kept)),
        )
    got = {
        r["l_returnflag"]: (r["n_total"], r["n_kept"], r["trimmed_mean_cents"])
        for r in REGISTRY["agg_trimmed_mean"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # contract: the trimmed mean sits strictly inside the kept range
    for flag, rows in groups.items():
        rows.sort()
        n = len(rows)
        k = n * _TRIM_PCT_NUM // _TRIM_PCT_DEN
        lo, hi = rows[k][0], rows[n - k - 1][0]
        assert lo <= got[flag][2] <= hi
