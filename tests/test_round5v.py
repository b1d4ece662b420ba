"""Round-5 twenty-second batch: backfill planner, isotropy report,
RLE paths — pure-python differential replays over sf0.001 plus the
operator contracts (missing partitions are exactly the planted holes,
isotropy sits in [0, 1e6], path rep counts rebuild each user's event
count)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _RLE_TOPK
from job_datapipeline_spark.plans.orders import _BACKFILL_SKIP_MOD
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# ops_backfill_planner
# ---------------------------------------------------------------------------

def test_backfill_planner_matches_pure_python(spark):
    monthly: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        d = r["o_orderdate"]
        monthly[(f"{d.year:04d}-{d.month:02d}", (d.year - 1995) * 12 + d.month - 1)] += 1
    expected = {
        m: n
        for (m, midx), n in monthly.items()
        if midx % _BACKFILL_SKIP_MOD == 0
    }
    rows = REGISTRY["ops_backfill_planner"].fn(spark, SF_SMOKE).collect()
    got = {r["month"]: r["expected_rows"] for r in rows}
    assert got == expected
    # contract: the planner finds only the planted holes, never a
    # materialized month
    materialized = {
        m for (m, midx), _n in monthly.items() if midx % _BACKFILL_SKIP_MOD != 0
    }
    assert not (set(got) & materialized)


# ---------------------------------------------------------------------------
# embedding_isotropy_report
# ---------------------------------------------------------------------------

def test_isotropy_report_matches_pure_python(spark):
    by_label: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "embeddings").collect():
        by_label[r["label"]].append(
            [_round_half_away(float(x) * 1_000_000) for x in r["embedding"]]
        )
    expected = {}
    for label, vecs in by_label.items():
        n = len(vecs)
        dim = len(vecs[0])
        s = [sum(v[i] for v in vecs) for i in range(dim)]
        ss = [sum(v[i] * v[i] for v in vecs) for i in range(dim)]
        sum_norm2 = sum(ss)
        mean_num = sum(x * x for x in s)
        expected[label] = (
            n,
            _round_half_away(1.0 * sum_norm2 / n),
            _round_half_away(1.0 * mean_num / (n * n)),
            _round_half_away(1_000_000.0 * mean_num / (float(n) * sum_norm2)),
        )
    rows = REGISTRY["embedding_isotropy_report"].fn(spark, SF_SMOKE).collect()
    got = {
        r["label"]: (
            r["n_vecs"],
            r["mean_norm2_micro2"],
            r["mean_vec_norm2_micro2"],
            r["isotropy_micro"],
        )
        for r in rows
    }
    assert got == expected
    # contract: isotropy is a ratio in [0, 1e6] and the mean-vector norm
    # never exceeds the mean norm (Jensen)
    for n, mean_n2, mean_vec_n2, iso in got.values():
        assert 0 <= iso <= 1_000_000
        assert mean_vec_n2 <= mean_n2


# ---------------------------------------------------------------------------
# events_rle_paths
# ---------------------------------------------------------------------------

def test_rle_paths_matches_pure_python(spark):
    by_user: dict = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    paths: Counter = Counter()
    for evs in by_user.values():
        evs.sort()
        runs = []
        for _ts, _eid, etype in evs:
            if runs and runs[-1][0] == etype:
                runs[-1][1] += 1
            else:
                runs.append([etype, 1])
        paths[">".join(f"{t}x{n}" for t, n in runs)] += 1
    ranked = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:_RLE_TOPK]
    expected = {
        rank + 1: (path, n) for rank, (path, n) in enumerate(ranked)
    }
    rows = REGISTRY["events_rle_paths"].fn(spark, SF_SMOKE).collect()
    got = {r["rank"]: (r["path"], r["n_users"]) for r in rows}
    assert got == expected
    # contract: rep counts inside each reported path are positive
    for path, _n in got.values():
        for seg in path.split(">"):
            assert int(seg.rsplit("x", 1)[1]) >= 1
