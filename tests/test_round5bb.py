"""Round-5 twenty-eighth batch: integer-Viterbi burst detection —
pure-python DP replay over sf0.001 plus the operator contracts (the
decoded path's integer cost equals the fold's winning cost, and burst
days have above-average counts)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _BURST_GAMMA_MILLI, _BURST_RATE_X
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def test_burst_viterbi_matches_pure_python(spark):
    daily: dict = defaultdict(Counter)
    for r in table(spark, SF_SMOKE, "events").collect():
        daily[r["event_type"]][r["ts"].date()] += 1
    expected = {}
    for etype, counts in daily.items():
        days = sorted(counts)
        s = sum(counts.values())
        d = len(days)
        lam0 = _round_half_away(1000.0 * s / d)
        lam1 = _round_half_away(1000.0 * _BURST_RATE_X * s / d)
        ln0 = _round_half_away(1000.0 * math.log(1.0 * s / d))
        ln1 = _round_half_away(1000.0 * math.log(_BURST_RATE_X * 1.0 * s / d))
        c0 = c1 = None
        p0 = p1 = 0
        for day in days:
            n = counts[day]
            e0 = lam0 - n * ln0
            e1 = lam1 - n * ln1
            if c0 is None:
                c0, c1 = e0, e1 + _BURST_GAMMA_MILLI
                p0, p1 = 0, 1
            else:
                nc0 = e0 + min(c0, c1)
                nc1 = e1 + min(c0 + _BURST_GAMMA_MILLI, c1)
                np0 = (p0 if c0 <= c1 else p1) * 2
                np1 = (p1 if c1 <= c0 + _BURST_GAMMA_MILLI else p0) * 2 + 1
                c0, c1, p0, p1 = nc0, nc1, np0, np1
        mask = p0 if c0 <= c1 else p1
        for t, day in enumerate(days, start=1):
            expected[(etype, day.isoformat())] = (
                counts[day],
                ((mask >> (d - t)) & 1) == 1,
            )
    rows = REGISTRY["events_burst_viterbi"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["event_type"], r["day"]): (r["n"], r["in_burst"]) for r in rows
    }
    assert got == expected
    # contract: any flagged burst day carries an above-average count
    means = {
        etype: sum(c.values()) / len(c) for etype, c in daily.items()
    }
    fired = 0
    for (etype, day), (n, burst) in got.items():
        if burst:
            fired += 1
            assert n > means[etype]
    # the fixture genuinely exercises the burst state
    assert fired > 0
