"""Round-5 ninth batch: DAU/WAU/MAU, ABC classes, native session
windows, readability — pure-python differential replays over sf0.001
plus the operator contracts (DAU <= WAU <= MAU per day; class shares
honor the 80/95 boundaries; the native session operator equals the
islands recursion; FRE matches the pinned-order formula)."""

from __future__ import annotations

import math
import re
from collections import defaultdict
from datetime import timedelta

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.events import _SW_GAP_MIN
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# events_active_users
# ---------------------------------------------------------------------------

def test_active_users_match_pure_python(spark):
    base = set()
    for r in table(spark, SF_SMOKE, "events").collect():
        base.add((r["ts"].date(), r["user_id"]))
    days = sorted({d for d, _u in base})
    expected = {}
    for d in days:
        dau = {u for dd, u in base if dd == d}
        wau = {u for dd, u in base if timedelta(0) <= d - dd <= timedelta(days=6)}
        mau = {u for dd, u in base if timedelta(0) <= d - dd <= timedelta(days=29)}
        expected[str(d)] = (
            len(dau),
            len(wau),
            len(mau),
            _round_half_away(1_000_000.0 * len(dau) / len(mau)),
        )
    got = {
        r["day"]: (r["dau"], r["wau"], r["mau"], r["stickiness_micro"])
        for r in REGISTRY["events_active_users"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for dau, wau, mau, _s in got.values():
        assert dau <= wau <= mau


# ---------------------------------------------------------------------------
# orders_abc_classification
# ---------------------------------------------------------------------------

def test_abc_classification_matches_pure_python(spark):
    rev: dict[int, int] = defaultdict(int)
    for r in table(spark, SF_SMOKE, "lineitem").collect():
        rev[r["l_partkey"]] += _round_half_away(r["l_extendedprice"] * 100)
    total = sum(rev.values())
    census: dict[str, list] = defaultdict(lambda: [0, 0])
    cum = 0
    for part, cents in sorted(rev.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += cents
        cls = "A" if 5 * cum <= 4 * total else ("B" if 20 * cum <= 19 * total else "C")
        census[cls][0] += 1
        census[cls][1] += cents
    expected = {
        cls: (n, cents, _round_half_away(1_000_000.0 * cents / total))
        for cls, (n, cents) in census.items()
    }
    got = {
        r["abc_class"]: (r["n_parts"], r["revenue_cents"], r["share_micro"])
        for r in REGISTRY["orders_abc_classification"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert set(got) == {"A", "B", "C"}
    # A's revenue share is at most 80%, A+B at most 95% (boundary rule)
    assert got["A"][2] <= 800_000
    assert got["A"][2] + got["B"][2] <= 950_001  # rounding slack


# ---------------------------------------------------------------------------
# events_session_window_native
# ---------------------------------------------------------------------------

def test_session_window_native_equals_islands_recursion(spark):
    per_user: dict[int, list] = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        per_user[r["user_id"]].append((r["ts"], r["event_id"]))
    gap = timedelta(minutes=_SW_GAP_MIN)
    expected = {}
    for u, evs in per_user.items():
        evs.sort()
        sizes = []
        for i, (ts, _eid) in enumerate(evs):
            if i == 0 or ts - evs[i - 1][0] >= gap:
                sizes.append(1)
            else:
                sizes[-1] += 1
        expected[u] = (len(sizes), max(sizes), sum(sizes))
    got = {
        r["user_id"]: (r["n_sessions"], r["max_session_events"], r["n_events"])
        for r in REGISTRY["events_session_window_native"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# text_readability_scores
# ---------------------------------------------------------------------------

def test_readability_matches_pure_python(spark):
    expected = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        text = r["text"]
        n_words = len(text.strip().lower().split())
        n_syll = len(re.findall(r"[aeiou]+", text.lower()))
        n_sent = max(1, len(re.findall(r"[.!?]+", text)))
        fre = _round_half_away(
            10_000.0
            * (206.835 - 1.015 * (n_words / n_sent) - 84.6 * (n_syll / n_words))
        )
        expected[r["doc_id"]] = (n_words, n_syll, fre)
    got = {
        r["doc_id"]: (r["n_words"], r["n_syllables"], r["fre_e4"])
        for r in REGISTRY["text_readability_scores"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
