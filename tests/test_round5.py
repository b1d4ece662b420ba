"""Round-5 additions: persistent dedup state, domain caps, BPE pair
counting, DSIR importance, token-budget mixture allocation.

Each registry query gets a pure-python differential replay (a third
engine besides Spark and the DuckDB oracle) over sf0.001, plus unit
tests for the new dedup state primitives (band_table / lsh_join_state).
"""

from __future__ import annotations

import getpass
import hashlib
import math
import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.operators import dedup as D
from job_datapipeline_spark.plans.common import (
    NDD_BANDS as _NDD_BANDS,
    NDD_HASHES as _NDD_HASHES,
    NDD_RPB as _NDD_RPB,
)
from job_datapipeline_spark.plans.dedup import _INC_HIST_CAP
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE, jobs_in_group


def _docs(spark):
    return [
        (r["doc_id"], r["lang"], r["source"], r["n_chars"], r["text"])
        for r in table(spark, SF_SMOKE, "documents").collect()
    ]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _round_half_away(x: float) -> int:
    """Spark/DuckDB round(): half away from zero (python round() is
    banker's and would diverge on exact .5)."""
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# corpus_domain_cap
# ---------------------------------------------------------------------------

def test_domain_cap_matches_pure_python(spark):
    from job_datapipeline_spark.plans.corpus import _DOMCAP_K

    docs = _docs(spark)
    by_source: dict[str, list] = {}
    for doc_id, _, source, n_chars, _t in docs:
        by_source.setdefault(source, []).append((doc_id, n_chars))
    expected = set()
    for source, rows in by_source.items():
        rows.sort(key=lambda r: (-r[1], r[0]))
        for rank, (doc_id, n_chars) in enumerate(rows[:_DOMCAP_K], start=1):
            expected.add((source, doc_id, n_chars, rank))
    got = {
        (r["source"], r["doc_id"], r["n_chars"], r["rank"])
        for r in REGISTRY["corpus_domain_cap"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# tokenizer_bpe_pairs
# ---------------------------------------------------------------------------

def test_bpe_pairs_matches_pure_python(spark):
    from job_datapipeline_spark.plans.text import _BPE_TOPK

    counts: Counter[str] = Counter()
    for _, lang, _s, _n, text in _docs(spark):
        if lang != "en":
            continue
        for w in text.strip().lower().split():
            if len(w) < 2:
                continue
            counts.update(w[i : i + 2] for i in range(len(w) - 1))
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOPK]
    got = [
        (r["pair"], r["cnt"])
        for r in REGISTRY["tokenizer_bpe_pairs"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected


# ---------------------------------------------------------------------------
# corpus_dsir_importance
# ---------------------------------------------------------------------------

def test_dsir_matches_pure_python(spark):
    from job_datapipeline_spark.plans.corpus import _DSIR_BUCKETS

    docs = _docs(spark)
    doc_buckets: dict[int, list[int]] = {}
    c_r: Counter[int] = Counter()
    c_t: Counter[int] = Counter()
    for doc_id, lang, _s, _n, text in docs:
        toks = text.strip().lower().split()
        buckets = [int(_md5(t)[:15], 16) % _DSIR_BUCKETS for t in toks]
        if buckets:
            doc_buckets[doc_id] = buckets
        c_r.update(buckets)
        if lang == "en":
            c_t.update(buckets)
    n_r, n_t = sum(c_r.values()), sum(c_t.values())
    term = {
        b: _round_half_away(
            math.log(
                ((c_t[b] + 1) * (n_r + _DSIR_BUCKETS))
                / ((c_r[b] + 1) * (n_t + _DSIR_BUCKETS))
            )
            * 1_000_000
        )
        for b in c_r
    }
    expected = {
        doc_id: (len(bs), sum(term[b] for b in bs))
        for doc_id, bs in doc_buckets.items()
    }
    got = {
        r["doc_id"]: (r["n_toks"], r["score_micro"])
        for r in REGISTRY["corpus_dsir_importance"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# corpus_mix_budget
# ---------------------------------------------------------------------------

def test_mix_budget_matches_pure_python(spark):
    from job_datapipeline_spark.plans.corpus import (
        _MIX_BUDGET_SHARE_PCT,
        _MIX_SALT,
        _MIX_WEIGHTS_PM,
    )

    docs = _docs(spark)
    ntok = {d: len(t.strip().lower().split()) for d, _l, _s, _n, t in docs}
    lang_of = {d: lang for d, lang, _s, _n, _t in docs}
    avail_tokens: Counter[str] = Counter()
    avail_docs: Counter[str] = Counter()
    for d in ntok:
        avail_tokens[lang_of[d]] += ntok[d]
        avail_docs[lang_of[d]] += 1
    total = sum(avail_tokens.values())
    expected = {}
    for lang, a in avail_tokens.items():
        rate = min(
            1_000_000, (total * _MIX_BUDGET_SHARE_PCT * _MIX_WEIGHTS_PM[lang]) // (100 * a)
        )
        s_docs = s_toks = 0
        for d in ntok:
            if lang_of[d] != lang:
                continue
            draw16 = int(_md5(f"{_MIX_SALT}:{d}")[:4], 16)
            if draw16 * 1_000_000 < rate * 65536:
                s_docs += 1
                s_toks += ntok[d]
        expected[lang] = (avail_docs[lang], a, _MIX_WEIGHTS_PM[lang], rate, s_docs, s_toks)
    got = {
        r["lang"]: (
            r["avail_docs"],
            r["avail_tokens"],
            r["weight_pm"],
            r["rate_micro"],
            r["sampled_docs"],
            r["sampled_tokens"],
        )
        for r in REGISTRY["corpus_mix_budget"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# dedup state primitives + the persisted round trip
# ---------------------------------------------------------------------------

def test_lsh_join_state_equals_cross_restricted_self_join(spark):
    """Probing batch bands against state bands must yield exactly the
    cross (state-id, batch-id) subset of the symmetric self-join over the
    union — the invariant that makes incremental dedup equal one-shot."""
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 30)
    batch = hist.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    hist_bands = D.band_table(
        D.minhash_signatures(hist, num_hashes=_NDD_HASHES), rows_per_band=_NDD_RPB
    )
    batch_bands = D.band_table(
        D.minhash_signatures(batch, num_hashes=_NDD_HASHES), rows_per_band=_NDD_RPB
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_join_state(hist_bands, batch_bands).collect()
    }
    sym = D.lsh_candidate_pairs(
        D.minhash_signatures(hist.unionByName(batch), num_hashes=_NDD_HASHES),
        bands=_NDD_BANDS,
        rows_per_band=_NDD_RPB,
    )
    expected = {
        (r["id_a"], r["id_b"])
        for r in sym.filter((F.col("id_a") < 1000) & (F.col("id_b") >= 1000)).collect()
    }
    assert got == expected
    # identical text must collide on every band: (d, d+1000) for all docs
    base_ids = {r["doc_id"] for r in hist.collect()}
    assert {(d, d + 1000) for d in base_ids} <= got


def test_state_roundtrip_appends_batch_to_state(spark):
    """After the query runs, the persisted band index must cover BOTH
    runs (hist + planted batch), each doc with one row per band — run 3
    could probe it without touching run-1 or run-2 text."""
    result = REGISTRY["dedup_state_roundtrip"].fn(spark, SF_SMOKE)
    n_pairs = result.count()  # forces the plan, including both writes
    assert n_pairs > 0
    # the query runs in THIS process, so its scratch root carries our pid
    # (the round-7 per-pid scratch isolation; test_round7.py's convention)
    state_path = os.path.join(
        tempfile.gettempdir(),
        f"jdp_scratch_{getpass.getuser()}_{os.getpid()}",
        "dedup_state_roundtrip",
        "band_state",
    )
    state = spark.read.parquet(state_path)
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    hist_ids = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") < _INC_HIST_CAP).collect()
    }
    batch_ids = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") >= _INC_HIST_CAP).collect()
    }
    batch_ids |= {d + 10000 for d in hist_ids if d % 7 == 0}
    batch_ids |= {d + 20000 for d in hist_ids if d % 11 == 0}
    per_doc = {
        r["doc_id"]: r["n"]
        for r in state.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert set(per_doc) == hist_ids | batch_ids
    assert set(per_doc.values()) == {_NDD_BANDS}
    # verified pairs are hist-x-batch only, at/above the 0.8 threshold
    rows = result.collect()
    assert all(r["id_a"] in hist_ids and r["id_b"] in batch_ids for r in rows)
    assert all(r["jaccard"] >= 0.8 for r in rows)


# ---------------------------------------------------------------------------
# streaming_dedup_state_ingest
# ---------------------------------------------------------------------------

def test_streaming_ingest_equals_oneshot_candidates(spark):
    """The accumulated multi-batch result must equal the one-shot
    symmetric LSH candidate set over the same planted corpus — the
    batch-order-independence invariant the oracle also checks, here
    verified Spark-vs-Spark (three sequential micro-batches vs one pass)."""
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = (
        docs.unionByName(
            docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        ).unionByName(
            docs.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" qq xq zq")).alias("text"),
            )
        )
    )
    from job_datapipeline_spark.plans.common import NDD_BANDS as _NDD_BANDS
    oneshot = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(
            D.minhash_signatures(corpus, num_hashes=_NDD_HASHES),
            bands=_NDD_BANDS,
            rows_per_band=_NDD_RPB,
        ).filter(F.col("id_a") < F.col("id_b")).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["streaming_dedup_state_ingest"].fn(spark, SF_SMOKE).collect()
    }
    assert got == oneshot
    # planted exact copies must always collide on every band
    base_ids = {r["doc_id"] for r in docs.collect()}
    assert {(d, d + 100000) for d in base_ids} <= got


# ---------------------------------------------------------------------------
# ann_sq8_rerank
# ---------------------------------------------------------------------------

def test_sq8_rerank_matches_pure_python(spark):
    import math

    from job_datapipeline_spark.plans.ann import _SQ8_CAND, _SQ8_NQ, _SQ8_TOPK

    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in table(spark, SF_SMOKE, "embeddings").collect()
    }
    dims = len(next(iter(emb.values())))
    lo = [min(v[d] for v in emb.values()) for d in range(dims)]
    hi = [max(v[d] for v in emb.values()) for d in range(dims)]

    def code(x, d):
        if hi[d] == lo[d]:
            return 0
        return math.floor((float(x) - float(lo[d])) * 255.0 / (float(hi[d]) - float(lo[d])))

    codes = {i: [code(v[d], d) for d in range(dims)] for i, v in emb.items()}

    def cos(a, b):
        dp = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dp / (na * nb)

    expected = {}
    for q in range(_SQ8_NQ):
        adots = sorted(
            ((sum((c - 128) * (qc - 128) for c, qc in zip(codes[i], codes[q])), i)
             for i in emb if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        cand = [i for _, i in adots[:_SQ8_CAND]]
        rer = sorted(
            ((round(cos(emb[i], emb[q]), 4), i) for i in cand),
            key=lambda t: (-t[0], t[1]),
        )[:_SQ8_TOPK]
        brute = {
            i for _, i in sorted(
                ((cos(emb[i], emb[q]), i) for i in emb if i != q),
                key=lambda t: (-t[0], t[1]),
            )[:_SQ8_TOPK]
        }
        for rank, (c, i) in enumerate(rer, start=1):
            expected[(q, i)] = (c, rank, i in brute)
    got = {
        (r["q_id"], r["vec_id"]): (r["cos"], r["rank"], r["in_exact_topk"])
        for r in REGISTRY["ann_sq8_rerank"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # recall sanity: SQ8 at 64 dims over this corpus should recover most
    # of the exact top-k (quantization is lossy, so not asserted == 100%)
    n_hit = sum(1 for v in got.values() if v[2])
    assert n_hit >= int(0.6 * len(got))


# ---------------------------------------------------------------------------
# corpus_cc_perplexity_buckets
# ---------------------------------------------------------------------------

def test_cc_perplexity_matches_pure_python(spark):
    import math

    from job_datapipeline_spark.plans.corpus import _CC_BUCKETS

    docs = _docs(spark)
    c = Counter()
    n_en = 0
    doc_buckets = {}
    for doc_id, lang, _s, _n, text in docs:
        buckets = [int(_md5(t)[:15], 16) % _CC_BUCKETS
                   for t in text.strip().lower().split()]
        doc_buckets[(doc_id, lang)] = buckets
        if lang == "en":
            c.update(buckets)
            n_en += len(buckets)
    ent = {}
    for (doc_id, lang), bs in doc_buckets.items():
        s = sum(
            -_round_half_away(
                math.log((c[b] + 1) / (n_en + _CC_BUCKETS)) * 1_000_000
            )
            for b in bs
        )
        ent[(doc_id, lang)] = (s * 1000) // len(bs)
    by_lang = {}
    for (doc_id, lang), e in ent.items():
        by_lang.setdefault(lang, []).append((e, doc_id))
    expected = {}
    for lang, rows in by_lang.items():
        rows.sort()
        n = len(rows)
        # ntile(3): first (n mod 3) tiles get ceil(n/3)
        sizes = [n // 3 + (1 if i < n % 3 else 0) for i in range(3)]
        idx = 0
        for t, size in enumerate(sizes, start=1):
            part = rows[idx: idx + size]
            idx += size
            if part:
                es = [e for e, _ in part]
                expected[(lang, t)] = (len(part), min(es), max(es))
    got = {
        (r["lang"], r["tertile"]): (r["n_docs"], r["min_ent"], r["max_ent"])
        for r in REGISTRY["corpus_cc_perplexity_buckets"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("threshold", ["1024", "-1"])
def test_lsh_join_state_broadcasts_no_batch_over_threshold(spark, threshold):
    """A batch whose optimizer size estimate (a 1,000-row checkpointed
    frame: ~20 KB) exceeds autoBroadcastJoinThreshold gets no broadcast
    hint: the planner shuffles both sides instead of building the batch
    into a hash relation."""

    def bands(n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("band"),
            F.col("id").cast("string").alias("band_sig"),
        ).localCheckpoint()

    state, batch = bands(2000), bands(1000)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    # the size estimate is read from the plan: no job
    assert jobs_in_group(spark, "lsh-join-plan", lambda: D.lsh_join_state(state, batch)) == []
    try:
        assert "BroadcastHashJoin" in _physical_plan(D.lsh_join_state(state, batch))
        spark.conf.set(key, threshold)
        plan = _physical_plan(D.lsh_join_state(state, batch))
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan


@pytest.mark.parametrize("name", ["dedup_state_roundtrip", "streaming_dedup_state_ingest"])
def test_lsh_join_state_consumers_build_the_batch_side(spark, monkeypatch, name):
    """Both registry consumers still broadcast the batch bands (the join's
    right side) against the persisted state at sf0.01."""
    plans = []
    probe = D.lsh_join_state

    def recording(state_bands, batch_bands, *args, **kwargs):
        out = probe(state_bands, batch_bands, *args, **kwargs)
        plans.append(_physical_plan(out))
        return out

    monkeypatch.setattr(D, "lsh_join_state", recording)
    sf_small = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    assert REGISTRY[name].fn(spark, sf_small).count() > 0
    assert plans
    for plan in plans:
        assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan


# ---------------------------------------------------------------------------
# tokenizer_vocab_coverage
# ---------------------------------------------------------------------------

def test_vocab_coverage_matches_pure_python(spark):
    from job_datapipeline_spark.plans.text import _VOCAB_K

    docs = _docs(spark)
    freq = Counter()
    for _d, _l, _s, _n, text in docs:
        freq.update(text.strip().lower().split())
    vocab = {
        t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:_VOCAB_K]
    }
    tot = Counter()
    oov = Counter()
    for _d, lang, _s, _n, text in docs:
        for t in text.strip().lower().split():
            tot[lang] += 1
            if t not in vocab:
                oov[lang] += 1
    expected = {
        lang: (tot[lang], oov[lang], (oov[lang] * 1000) // tot[lang])
        for lang in tot
    }
    got = {
        r["lang"]: (r["total_tokens"], r["oov_tokens"], r["oov_permille"])
        for r in REGISTRY["tokenizer_vocab_coverage"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# dedup_exact_substring_spans / corpus_span_corruption_plan (shared islands)
# ---------------------------------------------------------------------------

def _merge_spans_py(starts: list[int], L: int) -> tuple[int, int]:
    """(n_spans, covered) for sorted fixed-length span starts."""
    if not starts:
        return 0, 0
    n_spans, covered = 0, 0
    first = prev = starts[0]
    for p in starts[1:]:
        if p - prev > L:
            n_spans += 1
            covered += prev - first + L
            first = p
        prev = p
    n_spans += 1
    covered += prev - first + L
    return n_spans, covered


def test_exact_substring_spans_matches_pure_python(spark):
    from job_datapipeline_spark.plans.dedup import _ESS_L

    docs = [(d, t.strip().lower().split()) for d, _l, _s, _n, t in _docs(spark)]
    gram_count = Counter()
    doc_grams = {}
    for d, toks in docs:
        if len(toks) < _ESS_L:
            continue
        ghs = [
            _md5(" ".join(toks[i : i + _ESS_L]))
            for i in range(len(toks) - _ESS_L + 1)
        ]
        doc_grams[d] = (ghs, len(toks))
        gram_count.update(ghs)
    expected = {}
    for d, (ghs, n) in doc_grams.items():
        starts = [i + 1 for i, g in enumerate(ghs) if gram_count[g] >= 2]
        if not starts:
            continue
        n_spans, covered = _merge_spans_py(starts, _ESS_L)
        expected[d] = (n_spans, covered, covered * 1000 // n)
    got = {
        r["doc_id"]: (r["n_spans"], r["covered_tokens"], r["covered_permille"])
        for r in REGISTRY["dedup_exact_substring_spans"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "fixture must contain repeated grams"


def test_span_corruption_matches_pure_python(spark):
    from job_datapipeline_spark.plans.corpus import _T5_SALT, _T5_SPAN, _T5_START_PM

    expected = {}
    for d, _l, _s, _n, text in _docs(spark):
        toks = text.strip().lower().split()
        if not toks:
            continue
        n = len(toks)
        starts = [
            pos
            for pos in range(1, n - _T5_SPAN + 2)
            if int(_md5(f"{_T5_SALT}:{d}:{pos}")[:4], 16) * 1000
            < _T5_START_PM * 65536
        ]
        n_spans, covered = _merge_spans_py(starts, _T5_SPAN)
        expected[d] = (n, n_spans, covered, covered * 1000 // n)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_masked"], r["mask_permille"])
        for r in REGISTRY["corpus_span_corruption_plan"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # the plan must actually mask something at the 5%-start rate
    assert sum(v[2] for v in expected.values()) > 0


# ---------------------------------------------------------------------------
# corpus_zipf_slope
# ---------------------------------------------------------------------------

def test_zipf_slope_matches_pure_python(spark):
    import math

    from job_datapipeline_spark.plans.corpus import _ZIPF_RANKS

    freq: dict[str, Counter] = {}
    for _d, lang, _s, _n, text in _docs(spark):
        freq.setdefault(lang, Counter()).update(text.strip().lower().split())
    expected = {}
    for lang, c in freq.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_RANKS]
        pts = [
            (
                _round_half_away(math.log(r) * 1_000_000),
                _round_half_away(math.log(cnt) * 1_000_000),
            )
            for r, (_t, cnt) in enumerate(ranked, start=1)
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        expected[lang] = (n, round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4))
    got = {
        r["lang"]: (r["n"], r["zipf_slope"])
        for r in REGISTRY["corpus_zipf_slope"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # natural-ish text: every slope negative, in a sane Zipf band
    assert all(-3.0 < v[1] < -0.1 for v in got.values())


# ---------------------------------------------------------------------------
# text_inverted_index
# ---------------------------------------------------------------------------

def test_inverted_index_matches_pure_python(spark):
    from job_datapipeline_spark.plans.text import _INV_POSTINGS, _INV_TERMS

    postings: dict[str, set] = {}
    for d, _l, _s, _n, text in _docs(spark):
        for t in set(text.strip().lower().split()):
            postings.setdefault(t, set()).add(d)
    top = sorted(postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))[:_INV_TERMS]
    expected = {
        t: (len(ds), ",".join(str(d) for d in sorted(ds)[:_INV_POSTINGS]))
        for t, ds in top
    }
    got = {
        r["term"]: (r["df"], r["postings"])
        for r in REGISTRY["text_inverted_index"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# text_cdc_chunk_match
# ---------------------------------------------------------------------------

def test_cdc_chunk_match_matches_pure_python(spark):
    from job_datapipeline_spark.plans.text import _CDC_MOD, _CDC_SHIFT

    def chunks_of(text: str) -> list[str]:
        toks = text.strip().lower().split()
        if len(toks) < 2:
            return []
        out, cur = [], []
        for i, tok in enumerate(toks):
            cur.append(tok)
            is_brk = (
                i + 1 < len(toks)
                and int(_md5(f"{tok} {toks[i + 1]}")[:4], 16) % _CDC_MOD == 0
            )
            if is_brk:
                out.append(_md5(" ".join(cur)))
                cur = []
        if cur:
            out.append(_md5(" ".join(cur)))
        return out

    n_copies = total = matched = 0
    for _d, _l, _s, _n, text in _docs(spark):
        base = set(chunks_of(text))
        copy = chunks_of(f"{_CDC_SHIFT} {text}")
        if not copy:
            continue
        n_copies += 1
        total += len(copy)
        matched += sum(1 for ch in copy if ch in base)
    row = REGISTRY["text_cdc_chunk_match"].fn(spark, SF_SMOKE).collect()[0]
    assert (
        row["n_copies"],
        row["total_chunks"],
        row["matched_chunks"],
        row["matched_permille"],
    ) == (n_copies, total, matched, matched * 1000 // total)
    # content-defined boundaries must re-synchronize after the 2-token
    # insertion: a fixed-stride chunker would match ~0 here
    assert row["matched_permille"] > 600


def test_cdc_beats_fixed_stride_on_insertion(spark):
    """The reason CDC exists: the SAME planted 2-token insertion against
    the repo's fixed-stride chunker (text_chunk_overlap hashing) yields a
    near-zero chunk match rate, while CDC re-synchronizes."""
    from job_datapipeline_spark.plans.common import (
        CHUNK_SIZE as _CHUNK_SIZE,
        CHUNK_STRIDE as _CHUNK_STRIDE,
    )
    from job_datapipeline_spark.plans.text import _CDC_SHIFT

    def stride_chunks(text: str) -> list[str]:
        toks = text.strip().lower().split()
        if not toks:
            return []
        n = len(toks)
        n_chunks = 1 + -(-max(n - _CHUNK_SIZE, 0) // _CHUNK_STRIDE)
        return [
            _md5(" ".join(toks[i * _CHUNK_STRIDE : i * _CHUNK_STRIDE + _CHUNK_SIZE]))
            for i in range(n_chunks)
        ]

    total = matched = 0
    for _d, _l, _s, _n, text in _docs(spark):
        base = set(stride_chunks(text))
        copy = stride_chunks(f"{_CDC_SHIFT} {text}")
        total += len(copy)
        matched += sum(1 for ch in copy if ch in base)
    assert total > 0
    fixed_permille = matched * 1000 // total
    cdc_permille = REGISTRY["text_cdc_chunk_match"].fn(spark, SF_SMOKE).collect()[0][
        "matched_permille"
    ]
    assert fixed_permille < 100 < cdc_permille


# ---------------------------------------------------------------------------
# corpus_split_drift
# ---------------------------------------------------------------------------

def test_split_drift_matches_pure_python(spark):
    from job_datapipeline_spark.plans.corpus import _DRIFT_TOPK

    a: Counter[str] = Counter()
    b: Counter[str] = Counter()
    for d, _l, _s, _n, text in _docs(spark):
        (a if d % 2 == 0 else b).update(text.strip().lower().split())
    n1, n2 = sum(a.values()), sum(b.values())
    scored = []
    for tok in set(a) | set(b):
        diff = float(a[tok] * n2 - b[tok] * n1)
        chi2 = round(diff * diff / (float(n1) * float(n2) * float(a[tok] + b[tok])), 4)
        scored.append((tok, a[tok], b[tok], chi2))
    scored.sort(key=lambda t: (-t[3], t[0]))
    expected = {
        (tok, av, bv, chi2, rank)
        for rank, (tok, av, bv, chi2) in enumerate(scored[:_DRIFT_TOPK], start=1)
    }
    got = {
        (r["tok"], r["a"], r["b"], r["chi2"], r["rank"])
        for r in REGISTRY["corpus_split_drift"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# dedup_minhash_estimate_accuracy
# ---------------------------------------------------------------------------

def test_minhash_estimate_accuracy_properties(spark):
    """Estimator sanity on the planted corpus: exact copies (ids +1e5)
    must estimate 1000 permille with zero error; the mean absolute error
    across all candidate pairs must sit within ~2x the 8-hash binomial
    std-err bound (sqrt(J(1-J)/8) ~ 140 milli at J=0.8)."""
    rows = REGISTRY["dedup_minhash_estimate_accuracy"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_pair = {(r["id_a"], r["id_b"]): r for r in rows}
    base_ids = {r["doc_id"] for r in table(spark, SF_SMOKE, "documents").collect()}
    for d in base_ids:
        r = by_pair.get((d, d + 100000))
        assert r is not None, f"exact copy pair ({d},{d+100000}) missing"
        assert r["n_match"] == _NDD_HASHES and r["est_permille"] == 1000
        assert r["jaccard"] == 1.0 and r["err_milli"] == 0
    mean_err = sum(r["err_milli"] for r in rows) / len(rows)
    assert mean_err < 280, mean_err
    # every estimate is a multiple of 1000/8 = 125
    assert all(r["est_permille"] % 125 == 0 for r in rows)
