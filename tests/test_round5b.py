"""Round-5 second batch: Bloom membership, count-min, URL blocklist,
mojibake repair, column profiler, embedding mean-pool.

Each registry query gets a pure-python differential replay (a third
engine besides Spark and the DuckDB oracle) over sf0.001, plus the
operator-contract assertions (Bloom: no false negatives; count-min:
never underestimates; mojibake: every row repairs clean).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5b import (
    _BLOCK_RULES,
    _BLOOM_K,
    _BLOOM_M,
    _CMS_D,
    _CMS_PROBE,
    _CMS_W,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _hash_mod(key: str, j: int, m: int) -> int:
    return int(_md5(f"{key}:{j}")[:15], 16) % m


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# agg_bloom_membership
# ---------------------------------------------------------------------------

def test_bloom_membership_matches_pure_python(spark):
    build = {
        r["o_custkey"] for r in table(spark, SF_SMOKE, "orders").collect()
    }
    bits = {
        _hash_mod(str(k), j, _BLOOM_M) for k in build for j in range(_BLOOM_K)
    }
    from job_datapipeline_spark.plans.llm_round5b import _BLOOM_NONMEMBER_OFFSET

    custkeys = [
        r["c_custkey"] for r in table(spark, SF_SMOKE, "customer").collect()
    ]
    probe = custkeys + [k + _BLOOM_NONMEMBER_OFFSET for k in custkeys]
    expected: Counter = Counter()
    for key in probe:
        member = all(
            _hash_mod(str(key), j, _BLOOM_M) in bits for j in range(_BLOOM_K)
        )
        expected[(member, key in build)] += 1
    got = {
        (r["bloom_member"], r["actual_member"]): r["n_keys"]
        for r in REGISTRY["agg_bloom_membership"].fn(spark, SF_SMOKE).collect()
    }
    assert got == dict(expected)
    # Bloom contract: a real member can never be reported absent.
    assert (False, True) not in got


# ---------------------------------------------------------------------------
# agg_countmin_frequency
# ---------------------------------------------------------------------------

def test_countmin_matches_pure_python(spark):
    counts: Counter[str] = Counter()
    for r in table(spark, SF_SMOKE, "documents").collect():
        for tok in r["text"].strip().lower().split():
            if tok:
                counts[tok] += 1
    cells: Counter = Counter()
    for tok, cnt in counts.items():
        for j in range(_CMS_D):
            cells[(j, _hash_mod(tok, j, _CMS_W))] += cnt
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_CMS_PROBE]
    expected = {}
    for tok, cnt in top:
        est = min(cells[(j, _hash_mod(tok, j, _CMS_W))] for j in range(_CMS_D))
        expected[tok] = (cnt, est, est - cnt)
    got = {
        r["tok"]: (r["exact_cnt"], r["est_cnt"], r["overestimate"])
        for r in REGISTRY["agg_countmin_frequency"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # count-min contract: never underestimates.
    assert all(over >= 0 for _, _, over in got.values())


# ---------------------------------------------------------------------------
# corpus_url_blocklist
# ---------------------------------------------------------------------------

def test_url_blocklist_matches_pure_python(spark):
    rows = table(spark, SF_SMOKE, "documents").collect()
    expected = {}
    for r in rows:
        host = f"{r['lang']}.{r['source']}.example.com"
        matched = sorted(
            rule
            for rule in _BLOCK_RULES
            if host == rule or host.endswith("." + rule)
        )
        expected[r["doc_id"]] = (
            host,
            bool(matched),
            matched[0] if matched else None,
        )
    got = {
        r["doc_id"]: (r["host"], r["blocked"], r["matched_rule"])
        for r in REGISTRY["corpus_url_blocklist"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the planted rules actually fire: every src3 doc is blocked, and
    # only the German slice of src5.
    by_doc = {r["doc_id"]: r for r in rows}
    for doc_id, (host, blocked, rule) in got.items():
        src = by_doc[doc_id]["source"]
        lang = by_doc[doc_id]["lang"]
        if src == "src3":
            assert blocked and rule == "src3.example.com"
        if src == "src5":
            assert blocked == (lang == "de")


# ---------------------------------------------------------------------------
# text_encoding_repair
# ---------------------------------------------------------------------------

def test_encoding_repair_matches_pure_python(spark):
    expected = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        planted = r["doc_id"] % 5 == 0
        intended = (
            r["text"].replace("e", "é").replace("a", "á")
            if planted
            else r["text"]
        )
        wire = intended.replace("é", "Ã©").replace("á", "Ã¡")
        fixed = (
            wire.replace("Ã©", "é")
            .replace("Ã¡", "á")
            .replace("â€™", "’")
            .replace("â€œ", "“")
        )
        n_moji = (
            len(wire) - len(wire.replace("Ã©", "").replace("Ã¡", ""))
        ) // 2
        expected[r["doc_id"]] = (planted, n_moji, fixed == intended)
    got = {
        r["doc_id"]: (r["planted"], r["n_mojibake"], r["repaired_ok"])
        for r in REGISTRY["text_encoding_repair"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the repair chain must actually round-trip every row, and the
    # planted slice must show corruption (the corpus always has e/a).
    assert all(ok for _, _, ok in got.values())
    assert all(n > 0 for planted, n, _ in got.values() if planted)


# ---------------------------------------------------------------------------
# quality_profile_columns
# ---------------------------------------------------------------------------

def test_profile_columns_matches_pure_python(spark):
    rows = table(spark, SF_SMOKE, "orders").collect()
    n = len(rows)

    def profile(vals, repr_fn):
        nonnull = [v for v in vals if v is not None]
        return (
            n,
            n - len(nonnull),
            len(set(nonnull)),
            repr_fn(min(nonnull)),
            repr_fn(max(nonnull)),
        )

    # n_distinct counts RAW doubles; min/max stringify as exact cents
    # (round is monotone, so it commutes with min/max).
    expected = {
        "o_custkey": profile([r["o_custkey"] for r in rows], str),
        "o_totalprice": profile(
            [r["o_totalprice"] for r in rows],
            lambda v: str(_round_half_away(v * 100)),
        ),
        "o_orderdate": profile([r["o_orderdate"] for r in rows], str),
        "o_orderstatus": profile([r["o_orderstatus"] for r in rows], str),
        "o_orderpriority": profile([r["o_orderpriority"] for r in rows], str),
    }
    got = {
        r["col_name"]: (
            r["n_rows"],
            r["n_nulls"],
            r["n_distinct"],
            r["min_repr"],
            r["max_repr"],
        )
        for r in REGISTRY["quality_profile_columns"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# embedding_mean_pool
# ---------------------------------------------------------------------------

def test_embedding_mean_pool_matches_pure_python(spark):
    sums: dict = {}
    ns: Counter = Counter()
    for r in table(spark, SF_SMOKE, "embeddings").collect():
        for pos, val in enumerate(r["embedding"]):
            micro = _round_half_away(float(val) * 1_000_000)
            key = (r["label"], pos)
            sums[key] = sums.get(key, 0) + micro
            ns[key] += 1
    expected = {
        key: (ns[key], s, math.floor(s / ns[key])) for key, s in sums.items()
    }
    got = {
        (r["label"], r["pos"]): (r["n"], r["sum_micro"], r["mean_micro"])
        for r in REGISTRY["embedding_mean_pool"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
