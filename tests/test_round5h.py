"""Round-5 eighth batch: calibration ECE, Markov transitions, RFM
segmentation, cohort LTV — pure-python differential replays over
sf0.001 plus the operator contracts (transition probabilities sum to
1e6 per state up to rounding; each RFM quintile holds n/5±1 customers;
cohort LTV is monotone in the month index)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.ml import _CAL_BUCKET_MICRO, _CAL_LABEL_CHARS
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _score_micro(text: str, n_chars: int) -> int:
    alpha = sum(1 for ch in text.lower() if "a" <= ch <= "z")
    return _round_half_away(1_000_000.0 * alpha / n_chars)


# ---------------------------------------------------------------------------
# ml_calibration_ece
# ---------------------------------------------------------------------------

def test_calibration_ece_matches_pure_python(spark):
    buckets: dict[int, list] = defaultdict(lambda: [0, 0, 0])
    for r in table(spark, SF_SMOKE, "documents").collect():
        conf = _score_micro(r["text"], r["n_chars"])
        pos = 1 if r["n_chars"] >= _CAL_LABEL_CHARS else 0
        b = buckets[conf // _CAL_BUCKET_MICRO]
        b[0] += 1
        b[1] += pos
        b[2] += conf
    stats = {
        k: (
            n,
            npos,
            _round_half_away(1_000_000.0 * npos / n),
            _round_half_away(sconf / n),
        )
        for k, (n, npos, sconf) in buckets.items()
    }
    total_n = sum(n for n, _p, _r, _c in stats.values())
    ece = _round_half_away(
        sum(n * abs(rate - conf) for n, _p, rate, conf in stats.values())
        / total_n
    )
    got = {
        r["bucket"]: (
            r["n"], r["n_pos"], r["pos_rate_micro"], r["mean_conf_micro"],
            r["ece_e6"],
        )
        for r in REGISTRY["ml_calibration_ece"].fn(spark, SF_SMOKE).collect()
    }
    assert got == {k: (*v, ece) for k, v in stats.items()}


# ---------------------------------------------------------------------------
# events_markov_transitions
# ---------------------------------------------------------------------------

def test_markov_transitions_match_pure_python(spark):
    per_user: dict[int, list] = defaultdict(list)
    for r in table(spark, SF_SMOKE, "events").collect():
        per_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    trans: Counter = Counter()
    for evs in per_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans[(a, b)] += 1
    out: Counter = Counter()
    for (a, _b), n in trans.items():
        out[a] += n
    expected = {
        (a, b): (n, _round_half_away(1_000_000.0 * n / out[a]))
        for (a, b), n in trans.items()
    }
    rows = REGISTRY["events_markov_transitions"].fn(spark, SF_SMOKE).collect()
    got = {(r["cur"], r["nxt"]): (r["n"], r["prob_micro"]) for r in rows}
    assert got == expected
    # per-state probabilities sum to 1e6 within rounding slack
    sums: Counter = Counter()
    for (a, _b), (_n, p) in got.items():
        sums[a] += p
    for a, s in sums.items():
        assert abs(s - 1_000_000) <= 3, (a, s)


# ---------------------------------------------------------------------------
# orders_rfm_segmentation
# ---------------------------------------------------------------------------

def test_rfm_segmentation_matches_pure_python(spark):
    per_cust: dict[int, list] = {}
    mx = None
    for r in table(spark, SF_SMOKE, "orders").collect():
        d = r["o_orderdate"]
        mx = d if mx is None else max(mx, d)
        a = per_cust.setdefault(r["o_custkey"], [None, 0, 0])
        a[0] = d if a[0] is None else max(a[0], d)
        a[1] += 1
        a[2] += _round_half_away(r["o_totalprice"] * 100)

    def ntile5(order):
        n = len(order)
        scores = {}
        for i, k in enumerate(order):
            # SQL ntile: first (n % 5) tiles get ceil(n/5) rows
            q, rem = divmod(n, 5)
            boundary = 0
            for t in range(1, 6):
                boundary += q + (1 if t <= rem else 0)
                if i < boundary:
                    scores[k] = t
                    break
        return scores

    rec = ntile5(
        sorted(per_cust, key=lambda k: (-(mx - per_cust[k][0]).days, k))
    )
    freq = ntile5(sorted(per_cust, key=lambda k: (per_cust[k][1], k)))
    mon = ntile5(sorted(per_cust, key=lambda k: (per_cust[k][2], k)))
    seg_census: dict[int, list] = {}
    for k in per_cust:
        seg = rec[k] * 100 + freq[k] * 10 + mon[k]
        a = seg_census.setdefault(seg, [0, k])
        a[0] += 1
        a[1] = min(a[1], k)
    got = {
        r["rfm_segment"]: (r["n_customers"], r["example_customer"])
        for r in REGISTRY["orders_rfm_segmentation"].fn(spark, SF_SMOKE).collect()
    }
    assert got == {s: tuple(v) for s, v in seg_census.items()}
    # quintiles are balanced: each r/f/m tier holds n/5 +- 1 customers
    n = len(per_cust)
    for scores in (rec, freq, mon):
        tiers = Counter(scores.values())
        assert set(tiers) == {1, 2, 3, 4, 5}
        assert max(tiers.values()) - min(tiers.values()) <= 1, tiers


# ---------------------------------------------------------------------------
# orders_cohort_ltv
# ---------------------------------------------------------------------------

def test_cohort_ltv_matches_pure_python(spark):
    orders = [
        (r["o_custkey"], r["o_orderdate"], _round_half_away(r["o_totalprice"] * 100))
        for r in table(spark, SF_SMOKE, "orders").collect()
    ]
    first_month = {}
    for k, d, _c in orders:
        m = (d.year, d.month)
        if k not in first_month or m < first_month[k]:
            first_month[k] = m
    cells: Counter = Counter()
    for k, d, c in orders:
        cy, cm = first_month[k]
        idx = (d.year - cy) * 12 + (d.month - cm)
        cells[(f"{cy:04d}-{cm:02d}-01", idx)] += c
    expected = {}
    by_cohort: dict[str, list] = defaultdict(list)
    for (cohort, idx), cents in cells.items():
        by_cohort[cohort].append((idx, cents))
    for cohort, pts in by_cohort.items():
        pts.sort()
        cum = 0
        for idx, cents in pts:
            cum += cents
            expected[(cohort, idx)] = (cents, cum)
    got = {
        (r["cohort"], r["month_idx"]): (r["cents"], r["cum_ltv_cents"])
        for r in REGISTRY["orders_cohort_ltv"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # LTV is monotone non-decreasing in the month index per cohort
    for cohort, pts in by_cohort.items():
        cums = [got[(cohort, idx)][1] for idx, _c in sorted(pts)]
        assert cums == sorted(cums)
