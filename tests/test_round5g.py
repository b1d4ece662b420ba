"""Round-5 seventh batch: SCD2 apply, quality ablation, PSI drift —
pure-python differential replays over sf0.001 plus the operator
contracts (exactly one current row per key; exclusive-failure counts
never exceed total failures; PSI is non-negative and zero for
identical distributions)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.corpus import (
    _ABL_ALPHA_MICRO,
    _ABL_MIN_CHARS,
    _ABL_MWL_HI,
    _ABL_MWL_LO,
)
from job_datapipeline_spark.plans.orders import (
    _SCD2_CHANGE,
    _SCD2_INSERT_OFFSET,
    _SCD2_OPEN,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# scd2_apply_changes
# ---------------------------------------------------------------------------

def test_scd2_apply_matches_pure_python(spark):
    dim = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in table(spark, SF_SMOKE, "customer").collect()
    }
    expected = set()
    for k, seg in dim.items():
        if k % 7 == 0:
            expected.add((k, seg, _SCD2_OPEN, _SCD2_CHANGE, 1, False))
            expected.add((k, "DRIFTED", _SCD2_CHANGE, None, 2, True))
        else:
            expected.add((k, seg, _SCD2_OPEN, None, 1, True))
            if k % 11 == 0:
                expected.add(
                    (k + _SCD2_INSERT_OFFSET, "FRESH", _SCD2_CHANGE, None, 1, True)
                )
    got = {
        (
            r["c_custkey"], r["segment"], r["valid_from"], r["valid_to"],
            r["version"], r["is_current"],
        )
        for r in REGISTRY["scd2_apply_changes"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # SCD2 invariant: exactly one current row per key
    current = Counter(
        k for k, _s, _vf, _vt, _v, cur in got if cur
    )
    assert all(c == 1 for c in current.values())
    # every closed row has a version-2 successor
    closed = {k for k, _s, _vf, vt, _v, cur in got if not cur}
    v2 = {k for k, _s, _vf, _vt, v, _c in got if v == 2}
    assert closed == v2 and closed


# ---------------------------------------------------------------------------
# corpus_quality_ablation_report
# ---------------------------------------------------------------------------

def test_quality_ablation_matches_pure_python(spark):
    per_rule_fail = Counter()
    per_rule_excl = Counter()
    n_pass_all = 0
    for r in table(spark, SF_SMOKE, "documents").collect():
        text, n_chars = r["text"], r["n_chars"]
        alpha = sum(1 for ch in text.lower() if "a" <= ch <= "z")
        n_tok = len(text.strip().lower().split())
        rules = {
            "min_chars": n_chars >= _ABL_MIN_CHARS,
            "alpha": _round_half_away(1_000_000.0 * alpha / n_chars)
            >= _ABL_ALPHA_MICRO,
            "word_len": _ABL_MWL_LO * n_tok <= alpha <= _ABL_MWL_HI * n_tok,
            "stopword": f" {text.strip().lower()} ".find(" the ") >= 0,
        }
        if all(rules.values()):
            n_pass_all += 1
        fails = [name for name, ok in rules.items() if not ok]
        for name in fails:
            per_rule_fail[name] += 1
        if len(fails) == 1:
            per_rule_excl[fails[0]] += 1
    got = {
        r["rule"]: (r["n_fail"], r["n_fail_exclusive"], r["n_pass_all"])
        for r in REGISTRY["corpus_quality_ablation_report"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == {"min_chars", "alpha", "word_len", "stopword"}
    for rule, (n_fail, n_excl, n_pass) in got.items():
        assert n_fail == per_rule_fail[rule], rule
        assert n_excl == per_rule_excl[rule], rule
        assert n_pass == n_pass_all
        assert n_excl <= n_fail


# ---------------------------------------------------------------------------
# corpus_psi_drift
# ---------------------------------------------------------------------------

def test_psi_drift_matches_pure_python(spark):
    ca: Counter = Counter()
    cb: Counter = Counter()
    for r in table(spark, SF_SMOKE, "documents").collect():
        tgt = ca if r["lang"] == "en" else cb
        tgt.update(r["text"].strip().lower().split())
    ta, tb = sum(ca.values()), sum(cb.values())
    terms = []
    for tok in set(ca) & set(cb):
        a, b = ca[tok], cb[tok]
        term = (
            1_000_000.0
            * (a / ta - b / tb)
            * math.log((a * tb) / (b * ta))
        )
        terms.append(_round_half_away(term))
    [row] = REGISTRY["corpus_psi_drift"].fn(spark, SF_SMOKE).collect()
    assert row["n_bins"] == len(terms)
    assert row["psi_e6"] == sum(terms)
    assert row["psi_nonnegative"] is True
    assert row["psi_e6"] >= 0


def test_psi_identical_distributions_is_zero(spark):
    # PSI of a distribution against itself must be exactly 0 — run the
    # same fold with A = B = the whole corpus, in pure python mirroring
    # the per-term rounding contract
    c: Counter = Counter()
    for r in table(spark, SF_SMOKE, "documents").collect():
        c.update(r["text"].strip().lower().split())
    t = sum(c.values())
    total = sum(
        _round_half_away(
            1_000_000.0 * (n / t - n / t) * math.log((n * t) / (n * t))
        )
        for n in c.values()
    )
    assert total == 0
