"""Round-6 seventh batch — replays for segment migration and the Hill
tail index."""

from __future__ import annotations

import math
from collections import defaultdict
from datetime import datetime

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _HILL_K, _MIG_SPLIT
from job_datapipeline_spark.plans.queries import REGISTRY
from job_datapipeline_spark.testing import single_partition_windows

from conftest import SF_SMOKE


def _round_ha(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _ntile(sorted_keys, k):
    n = len(sorted_keys)
    base, rem = divmod(n, k)
    out, pos = {}, 0
    for b in range(1, k + 1):
        size = base + (1 if b <= rem else 0)
        for key in sorted_keys[pos : pos + size]:
            out[key] = b
        pos += size
    return out


def test_segment_migration_matches_pure_python(spark):
    split = datetime.fromisoformat(_MIG_SPLIT)
    h1 = defaultdict(int)
    h2 = defaultdict(int)
    for r in table(spark, SF_SMOKE, "orders").collect():
        cents = int(round(r["o_totalprice"] * 100))
        (h1 if r["o_orderdate"] < split else h2)[r["o_custkey"]] += cents

    def segs(h):
        order = sorted(h, key=lambda ck: (h[ck], ck))
        return _ntile(order, 3)

    s1, s2 = segs(h1), segs(h2)
    matrix = defaultdict(int)
    for ck in set(s1) | set(s2):
        matrix[(s1.get(ck, 0), s2.get(ck, 0))] += 1
    rows = REGISTRY["customer_segment_migration"].fn(spark, SF_SMOKE).collect()
    got = {(r["from_seg"], r["to_seg"]): r["n_customers"] for r in rows}
    assert got == dict(matrix)
    assert (0, 0) not in got
    df = REGISTRY["customer_segment_migration"].fn(spark, SF_SMOKE)
    assert single_partition_windows(df) == []


def test_hill_tail_index_matches_pure_python(spark):
    act = defaultdict(int)
    for r in table(spark, SF_SMOKE, "events").collect():
        act[r["user_id"]] += 1
    top = sorted(act.items(), key=lambda kv: (-kv[1], kv[0]))[:_HILL_K]
    xs = sorted(kv[1] for kv in top)
    k = len(xs)
    x_min = xs[0]
    s = 0.0
    for x in xs:  # order-pinned ascending fold
        s += math.log(float(x))
    alpha = 1000.0 * (k - 1) / (s - k * math.log(float(x_min)))
    row = REGISTRY["events_hill_tail_index"].fn(spark, SF_SMOKE).collect()[0]
    assert row["k"] == k
    assert row["x_min"] == x_min
    assert row["alpha_milli"] == _round_ha(alpha)
