"""Round-5 fourth batch: PMI collocations, curriculum schedule,
incremental MV maintenance, preference pairs, lexical diversity, Gini —
pure-python differential replays over sf0.001 plus the operator
contracts (the maintained view must equal the full recompute on every
row; preference pairs must clear the margin; Gini must sit in [0, 1))."""

from __future__ import annotations

import math
from collections import Counter

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5d import (
    _CURRICULUM_BUDGET,
    _MV_ADD_OFFSET,
    _PAIR_MARGIN_MICRO,
    _PMI_MIN_PAIR,
    _PMI_TOPK,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _score_micro(text: str, n_chars: int) -> int:
    alpha = sum(1 for ch in text.lower() if "a" <= ch <= "z")
    return _round_half_away(1_000_000.0 * alpha / n_chars)


# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------

def test_pmi_collocations_matches_pure_python(spark):
    pair: Counter = Counter()
    for r in table(spark, SF_SMOKE, "documents").collect():
        ts = r["text"].strip().lower().split()
        for a, b in zip(ts, ts[1:]):
            pair[(a, b)] += 1
    c1: Counter = Counter()
    c2: Counter = Counter()
    for (a, b), c in pair.items():
        c1[a] += c
        c2[b] += c
    n = sum(pair.values())
    rows = [
        (a, b, c, _round_half_away(math.log((n * c) / (c1[a] * c2[b])) * 10000))
        for (a, b), c in pair.items()
        if c >= _PMI_MIN_PAIR
    ]
    rows.sort(key=lambda t: (-t[3], t[0], t[1]))
    expected = rows[:_PMI_TOPK]
    got = [
        (r["w1"], r["w2"], r["n_pair"], r["pmi_e4"])
        for r in REGISTRY["text_pmi_collocations"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# corpus_curriculum_schedule
# ---------------------------------------------------------------------------

def test_curriculum_schedule_matches_pure_python(spark):
    docs = [
        (r["doc_id"], len(r["text"].strip().lower().split()),
         _score_micro(r["text"], r["n_chars"]))
        for r in table(spark, SF_SMOKE, "documents").collect()
    ]
    docs.sort(key=lambda t: (-t[2], t[0]))
    expected: dict[int, list] = {}
    cum = 0
    for _doc_id, n_tokens, score in docs:
        phase = cum // _CURRICULUM_BUDGET
        cum += n_tokens
        a = expected.setdefault(phase, [0, 0, score, score])
        a[0] += 1
        a[1] += n_tokens
        a[2] = min(a[2], score)
        a[3] = max(a[3], score)
    got = {
        r["phase"]: [r["n_docs"], r["sum_tokens"], r["min_score"], r["max_score"]]
        for r in REGISTRY["corpus_curriculum_schedule"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # phases are a contiguous range starting at 0
    assert sorted(got) == list(range(len(got)))


# ---------------------------------------------------------------------------
# mv_incremental_maintenance
# ---------------------------------------------------------------------------

def test_mv_incremental_matches_full_recompute(spark):
    v2: dict[str, list] = {}
    for r in table(spark, SF_SMOKE, "orders").collect():
        k, st = r["o_orderkey"], r["o_orderstatus"]
        cents = _round_half_away(r["o_totalprice"] * 100)
        if k % 97 != 0:
            a = v2.setdefault(st, [0, 0])
            a[0] += 1
            a[1] += cents + (100 if k % 89 == 0 else 0)
        if k % 101 == 0:
            a = v2.setdefault(st, [0, 0])
            a[0] += 1
            a[1] += cents
    rows = REGISTRY["mv_incremental_maintenance"].fn(spark, SF_SMOKE).collect()
    assert rows, "maintenance verdict frame must not be empty"
    for r in rows:
        n, s = v2[r["o_orderstatus"]]
        assert r["match"] is True, r
        assert (r["n_full"], r["sum_cents_full"]) == (n, s), r
        assert (r["n_incr"], r["sum_cents_incr"]) == (n, s), r
    assert {r["o_orderstatus"] for r in rows} == set(v2)


def test_mv_incremental_rekeyed_adds_present(spark):
    # the planted re-keyed adds actually exercise the 'added' delta rule
    keys = [
        r["o_orderkey"] for r in table(spark, SF_SMOKE, "orders").collect()
    ]
    assert any(k % 101 == 0 for k in keys)
    assert any(k % 97 == 0 for k in keys)
    assert any(k % 89 == 0 and k % 97 != 0 for k in keys)
    assert _MV_ADD_OFFSET > max(keys)


# ---------------------------------------------------------------------------
# corpus_preference_pairs
# ---------------------------------------------------------------------------

def test_preference_pairs_match_pure_python(spark):
    groups: dict[tuple, list] = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        groups.setdefault((r["lang"], r["source"]), []).append(
            (r["doc_id"], _score_micro(r["text"], r["n_chars"]))
        )
    expected = {}
    for g, docs in groups.items():
        chosen = min(docs, key=lambda t: (-t[1], t[0]))
        rejected = min(docs, key=lambda t: (t[1], -t[0]))
        gap = chosen[1] - rejected[1]
        if chosen[0] != rejected[0] and gap >= _PAIR_MARGIN_MICRO:
            expected[g] = (chosen[0], rejected[0], gap)
    got = {
        (r["lang"], r["source"]): (r["chosen_id"], r["rejected_id"], r["gap_micro"])
        for r in REGISTRY["corpus_preference_pairs"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for chosen_id, rejected_id, gap in got.values():
        assert gap >= _PAIR_MARGIN_MICRO
        assert chosen_id != rejected_id


# ---------------------------------------------------------------------------
# text_lexical_diversity
# ---------------------------------------------------------------------------

def test_lexical_diversity_matches_pure_python(spark):
    per_lang: dict[str, Counter] = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        per_lang.setdefault(r["lang"], Counter()).update(
            r["text"].strip().lower().split()
        )
    expected = {}
    for lang, tc in per_lang.items():
        n_tokens = sum(tc.values())
        n_types = len(tc)
        n_hapax = sum(1 for c in tc.values() if c == 1)
        expected[lang] = (
            n_tokens,
            n_types,
            n_hapax,
            _round_half_away(1_000_000.0 * n_types / n_tokens),
        )
    got = {
        r["lang"]: (r["n_tokens"], r["n_types"], r["n_hapax"], r["ttr_micro"])
        for r in REGISTRY["text_lexical_diversity"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# agg_gini_concentration
# ---------------------------------------------------------------------------

def test_gini_matches_pure_python(spark):
    counts = Counter(
        r["source"] for r in table(spark, SF_SMOKE, "documents").collect()
    )
    xs = [c for _s, c in sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))]
    n, total = len(xs), sum(xs)
    s_ic = sum((i + 1) * x for i, x in enumerate(xs))
    gini = _round_half_away(1_000_000.0 * (2 * s_ic - (n + 1) * total) / (n * total))
    top = _round_half_away(1_000_000.0 * max(xs) / total)
    [row] = REGISTRY["agg_gini_concentration"].fn(spark, SF_SMOKE).collect()
    assert (row["n_groups"], row["n_docs"]) == (n, total)
    assert row["gini_micro"] == gini
    assert row["top_share_micro"] == top
    assert 0 <= row["gini_micro"] < 1_000_000
