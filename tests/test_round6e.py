"""Round-6 fifth batch — pure-python replays for the time-bound funnel,
the Poisson-bootstrap CI, and the dow-hour heatmap."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict
from datetime import timedelta

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.agg import (
    _BOOT_B,
    _BOOT_HI_RANK,
    _BOOT_LO_RANK,
    _BOOT_SALT,
    _POIS_T,
)
from job_datapipeline_spark.plans.events import _FUNNEL_GAP_MIN
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _round_ha(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def test_funnel_time_bound_matches_pure_python(spark):
    per = defaultdict(lambda: defaultdict(list))
    for r in table(spark, SF_SMOKE, "events").collect():
        per[r["user_id"]][r["event_type"]].append(r["ts"])
    gap = timedelta(minutes=_FUNNEL_GAP_MIN)
    s1 = s2 = s3 = 0
    for _, types in per.items():
        views = sorted(types.get("view", []))
        if not views:
            continue
        s1 += 1
        t1 = views[0]
        clicks = sorted(t for t in types.get("click", []) if t1 <= t <= t1 + gap)
        if not clicks:
            continue
        s2 += 1
        t2 = clicks[0]
        buys = [t for t in types.get("purchase", []) if t2 <= t <= t2 + gap]
        if buys:
            s3 += 1
    rows = {
        r["step"]: r["n_users"]
        for r in REGISTRY["events_funnel_time_bound"].fn(spark, SF_SMOKE).collect()
    }
    assert rows == {1: s1, 2: s2, 3: s3}
    assert s1 >= s2 >= s3


def test_poisson_bootstrap_matches_pure_python(spark):
    data = [
        (r["o_orderkey"], int(round(r["o_totalprice"] * 100)))
        for r in table(spark, SF_SMOKE, "orders").collect()
    ]

    def weight(b, key):
        u = int(
            hashlib.md5(f"{_BOOT_SALT}:{b}:{key}".encode()).hexdigest()[:4], 16
        )
        for k, t in enumerate(_POIS_T):
            if u < t:
                return k
        return 8

    means = []
    for b in range(1, _BOOT_B + 1):
        num = den = 0
        for key, cents in data:
            w = weight(b, key)
            num += w * cents
            den += w
        means.append((_round_ha(1.0 * num / den), b))
    means.sort()
    row = REGISTRY["agg_poisson_bootstrap_ci"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_orders"] == len(data)
    assert row["mean_cents"] == _round_ha(
        1.0 * sum(c for _, c in data) / len(data)
    )
    assert row["ci_lo_cents"] == means[_BOOT_LO_RANK - 1][0]
    assert row["ci_hi_cents"] == means[_BOOT_HI_RANK - 1][0]
    assert row["ci_lo_cents"] <= row["mean_cents"] <= row["ci_hi_cents"]


def test_dow_hour_heatmap_matches_pure_python(spark):
    cells = defaultdict(int)
    for r in table(spark, SF_SMOKE, "events").collect():
        ts = r["ts"]
        dow = (ts.weekday() + 2) % 7 or 7  # python Mon=0 -> SQL Sun=1..Sat=7
        cells[(dow, ts.hour)] += 1
    total = sum(cells.values())
    rows = REGISTRY["events_dow_hour_heatmap"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == len(cells)
    for r in rows:
        n = cells[(r["dow"], r["hod"])]
        assert r["n"] == n
        assert r["share_micro"] == _round_ha(1_000_000.0 * n / total)
