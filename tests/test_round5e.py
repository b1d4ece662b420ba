"""Round-5 fifth batch: linear interpolation, negative sampling, skew
diagnosis, classification metrics, rank AUC — pure-python differential
replays over sf0.001 plus the operator contracts (interpolated values
must sit between their neighbors; negatives never equal their anchor;
the salt factor is an exact ceiling; AUC equals the O(n^2) pair
definition with half-credit ties)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.corpus import _NEG_BUCKETS, _NEG_K, _NEG_SALT
from job_datapipeline_spark.plans.ml import _CLS_LABEL_CHARS, _CLS_SCORE_THRESHOLD
from job_datapipeline_spark.plans.queries import _SKEW_TOPK
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _score_micro(text: str, n_chars: int) -> int:
    alpha = sum(1 for ch in text.lower() if "a" <= ch <= "z")
    return _round_half_away(1_000_000.0 * alpha / n_chars)


# ---------------------------------------------------------------------------
# events_interpolate_linear
# ---------------------------------------------------------------------------

def test_interpolate_linear_matches_pure_python(spark):
    from datetime import timedelta

    cents: dict[tuple, int] = {}
    lo = hi = None
    types = set()
    for r in table(spark, SF_SMOKE, "events").collect():
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        cents[(r["event_type"], h)] = cents.get((r["event_type"], h), 0) + (
            _round_half_away(r["value"] * 100)
        )
        lo = h if lo is None else min(lo, h)
        hi = h if hi is None else max(hi, h)
        types.add(r["event_type"])
    hours = []
    h = lo
    while h <= hi:
        hours.append(h)
        h = h + timedelta(hours=1)
    expected = {}
    for et in types:
        series = [
            None if hr.hour % 7 == 3 else cents.get((et, hr)) for hr in hours
        ]
        obs = [i for i, v in enumerate(series) if v is not None]
        for i, hr in enumerate(hours):
            if series[i] is not None:
                expected[(et, hr)] = ("observed", series[i])
                continue
            prev = max((j for j in obs if j <= i), default=None)
            nxt = min((j for j in obs if j >= i), default=None)
            if prev is None or nxt is None:
                expected[(et, hr)] = ("edge", None)
            else:
                pv, nv = series[prev], series[nxt]
                val = pv + _round_half_away((nv - pv) * (i - prev) / (nxt - prev))
                expected[(et, hr)] = ("interpolated", val)
    got = {
        (r["event_type"], r["hour"]): (r["status"], r["cents_filled"])
        for r in REGISTRY["events_interpolate_linear"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # contract: every interpolated value sits within its neighbor range,
    # and all three statuses are exercised at this sf
    assert {s for s, _v in got.values()} == {"observed", "interpolated", "edge"}


# ---------------------------------------------------------------------------
# corpus_negative_samples
# ---------------------------------------------------------------------------

def test_negative_samples_match_pure_python(spark):
    docs = [r["doc_id"] for r in table(spark, SF_SMOKE, "documents").collect()]
    bucket = {
        d: int(hashlib.md5(str(d).encode()).hexdigest()[0], 16) for d in docs
    }
    draw = {
        d: hashlib.md5(f"{_NEG_SALT}:{d}".encode()).hexdigest() for d in docs
    }
    reps = {}
    for d in docs:
        b = bucket[d]
        if b not in reps or (draw[d], d) < (draw[reps[b]], reps[b]):
            reps[b] = d
    expected = {
        (a, i): reps[(bucket[a] + i) % _NEG_BUCKETS]
        for a in docs
        for i in range(1, _NEG_K + 1)
        if (bucket[a] + i) % _NEG_BUCKETS in reps
    }
    got = {
        (r["anchor_id"], r["neg_i"]): r["negative_id"]
        for r in REGISTRY["corpus_negative_samples"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for (anchor, _i), neg in got.items():
        assert neg != anchor  # the ring never lands on the anchor's bucket


# ---------------------------------------------------------------------------
# join_skew_diagnosis
# ---------------------------------------------------------------------------

def test_skew_diagnosis_matches_pure_python(spark):
    hist = Counter(
        r["l_suppkey"] for r in table(spark, SF_SMOKE, "lineitem").collect()
    )
    n_keys, total = len(hist), sum(hist.values())
    ranked = sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:_SKEW_TOPK]
    expected = [
        (
            k,
            c,
            _round_half_away(1_000_000.0 * c / total),
            (c * n_keys + total - 1) // total,
        )
        for k, c in ranked
    ]
    got = [
        (r["key"], r["cnt"], r["share_micro"], r["salt_factor"])
        for r in REGISTRY["join_skew_diagnosis"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected
    for _k, c, _s, salt in got:
        # salt_factor is the exact ceiling of cnt / average
        assert salt == math.ceil(c * n_keys / total)
        assert salt >= 1


# ---------------------------------------------------------------------------
# ml_classification_metrics
# ---------------------------------------------------------------------------

def test_classification_metrics_match_pure_python(spark):
    tp = fp = fn = tn = 0
    for r in table(spark, SF_SMOKE, "documents").collect():
        pred = _score_micro(r["text"], r["n_chars"]) >= _CLS_SCORE_THRESHOLD
        actual = r["n_chars"] >= _CLS_LABEL_CHARS
        if pred and actual:
            tp += 1
        elif pred:
            fp += 1
        elif actual:
            fn += 1
        else:
            tn += 1
    [row] = REGISTRY["ml_classification_metrics"].fn(spark, SF_SMOKE).collect()
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    assert row["accuracy_micro"] == _round_half_away(
        1_000_000.0 * (tp + tn) / (tp + fp + fn + tn)
    )
    assert row["precision_micro"] == _round_half_away(1_000_000.0 * tp / (tp + fp))
    assert row["recall_micro"] == _round_half_away(1_000_000.0 * tp / (tp + fn))
    assert row["f1_micro"] == _round_half_away(
        2_000_000.0 * tp / (2 * tp + fp + fn)
    )
    # both classes and both predictions must be populated at this sf
    assert min(tp, fp, fn, tn) > 0


# ---------------------------------------------------------------------------
# ml_auc_rank
# ---------------------------------------------------------------------------

def test_auc_rank_matches_pairwise_definition(spark):
    data = [
        (
            _score_micro(r["text"], r["n_chars"]),
            r["n_chars"] >= _CLS_LABEL_CHARS,
        )
        for r in table(spark, SF_SMOKE, "documents").collect()
    ]
    pos = [s for s, p in data if p]
    neg = [s for s, p in data if not p]
    # the O(n^2) definition: P(pos > neg) + 0.5 * P(pos == neg)
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    [row] = REGISTRY["ml_auc_rank"].fn(spark, SF_SMOKE).collect()
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    # same float path as both engines: one division on exact integers
    assert row["auc_micro"] == _round_half_away(
        1_000_000.0 * (2 * wins + ties) / (2 * len(pos) * len(neg))
    )
    assert 0 <= row["auc_micro"] <= 1_000_000
