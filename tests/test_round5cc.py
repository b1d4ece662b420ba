"""Round-5 twenty-ninth batch: SPC p-chart, diff-in-diff — pure-python
differential replays over sf0.001 plus the operator contracts (the
cross-multiplied flag agrees with the sqrt form, and the DiD estimate
telescopes from the four cell means)."""

from __future__ import annotations

import math
from collections import defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# quality_control_pchart
# ---------------------------------------------------------------------------

def test_pchart_matches_pure_python(spark):
    monthly: dict = defaultdict(lambda: [0, 0])
    for row in table(spark, SF_SMOKE, "lineitem").collect():
        d = row["l_shipdate"]
        a = monthly[f"{d.year:04d}-{d.month:02d}"]
        a[0] += 1
        a[1] += 1 if row["l_returnflag"] == "R" else 0
    nn = sum(v[0] for v in monthly.values())
    rr = sum(v[1] for v in monthly.values())
    pbar = rr / nn
    expected = {}
    for m, (n, r) in monthly.items():
        diff = 1.0 * r * nn - 1.0 * rr * n
        expected[m] = (
            n,
            r,
            _round_half_away(1_000_000.0 * r / n),
            _round_half_away(1_000_000.0 * pbar),
            _round_half_away(
                1_000_000.0 * (pbar + 3.0 * math.sqrt(pbar * (1 - pbar) / n))
            ),
            diff * diff > 9.0 * rr * (nn - rr) * n,
        )
    rows = REGISTRY["quality_control_pchart"].fn(spark, SF_SMOKE).collect()
    got = {
        row["month"]: (
            row["n"],
            row["r"],
            row["rate_micro"],
            row["centerline_micro"],
            row["ucl_micro"],
            row["out_of_control"],
        )
        for row in rows
    }
    assert got == expected
    # contract: the cross-multiplied verdict agrees with the sqrt form
    for m, (n, r, *_rest, flag) in got.items():
        sigma = math.sqrt(pbar * (1 - pbar) / n)
        assert flag == (abs(r / n - pbar) > 3.0 * sigma)


# ---------------------------------------------------------------------------
# events_diff_in_diff
# ---------------------------------------------------------------------------

def test_diff_in_diff_matches_pure_python(spark):
    evs = table(spark, SF_SMOKE, "events").collect()
    d0 = min(r["ts"].date() for r in evs)
    d1 = max(r["ts"].date() for r in evs)
    cut = d0 + __import__("datetime").timedelta(days=(d1 - d0).days // 2)
    cells: dict = defaultdict(lambda: [0, set()])
    for r in evs:
        key = (r["user_id"] % 2, 1 if r["ts"].date() >= cut else 0)
        if r["event_type"] == "purchase":
            cells[key][0] += 1
        cells[key][1].add(r["user_id"])
    rates = {
        k: 1_000_000.0 * v[0] / len(v[1]) for k, v in cells.items()
    }
    tp, tq = rates[(1, 1)], rates[(1, 0)]
    cp, cq = rates[(0, 1)], rates[(0, 0)]
    row = REGISTRY["events_diff_in_diff"].fn(spark, SF_SMOKE).collect()[0]
    assert row["treated_post_micro"] == _round_half_away(tp)
    assert row["treated_pre_micro"] == _round_half_away(tq)
    assert row["control_post_micro"] == _round_half_away(cp)
    assert row["control_pre_micro"] == _round_half_away(cq)
    assert row["did_micro"] == _round_half_away((tp - tq) - (cp - cq))
