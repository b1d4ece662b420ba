"""Pure-python differential replays for the round-4 operators: each query
recomputed by an INDEPENDENT implementation (a third engine besides Spark
and the DuckDB oracle) over sf0.001. Count/set comparisons are exact;
scores compare at the query's own rounding."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _docs(spark):
    return [
        (r["doc_id"], r["lang"], r["text"])
        for r in table(spark, SF_SMOKE, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    ]


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_bm25_matches_pure_python(spark):
    from job_datapipeline_spark.plans.text import _BM25_B, _BM25_K1, _BM25_QUERIES

    docs = _docs(spark)
    tf = {d: Counter(_toks(t)) for d, _, t in docs if _toks(t)}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df_ = Counter()
    for c in tf.values():
        df_.update(c.keys())
    queries = defaultdict(list)
    for q_id, term in _BM25_QUERIES:
        queries[q_id].append(term)
    expected = {}
    for q_id, terms in queries.items():
        scored = {}
        for d in tf:
            micros = 0
            hit = False
            for term in terms:
                f = tf[d].get(term, 0)
                if f == 0 or df_.get(term, 0) == 0:
                    continue
                hit = True
                idf = math.log(1.0 + (n_docs - df_[term] + 0.5) / (df_[term] + 0.5))
                part = (f * (_BM25_K1 + 1.0)) / (
                    f + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl[d] / avgdl)
                )
                micros += int(round(idf * part * 1000000.0))
            if hit:
                scored[d] = round(micros / 1000000.0, 4)
        top = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        for rank, (d, s) in enumerate(top, 1):
            expected[(q_id, d)] = (s, rank)
    got = {
        (r["q_id"], r["doc_id"]): (r["score"], r["rank"])
        for r in REGISTRY["text_bm25_search"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_temperature_sample_kept_set_matches_md5_replay(spark):
    docs = _docs(spark)
    counts = Counter(lang for _, lang, _ in docs)
    n_min = min(counts.values())
    kept_expected = set()
    for d, lang, _ in docs:
        p = min(math.sqrt(counts[lang]) * (n_min / math.sqrt(n_min)) / counts[lang], 1.0)
        if p >= 1.0:
            kept_expected.add(d)
            continue
        thr = format(int(p * 4294967296.0), "08x")
        if _md5(f"temp1:{d}")[:8] < thr:
            kept_expected.add(d)
    out = REGISTRY["corpus_temperature_sample"].fn(spark, SF_SMOKE).collect()
    got_counts = {r["lang"]: r["n_kept"] for r in out}
    exp_counts = Counter()
    lang_of = {d: lang for d, lang, _ in docs}
    for d in kept_expected:
        exp_counts[lang_of[d]] += 1
    assert got_counts == dict(exp_counts)


def test_chunking_matches_pure_python(spark):
    from job_datapipeline_spark.plans.common import (
        CHUNK_SIZE as _CHUNK_SIZE,
        CHUNK_STRIDE as _CHUNK_STRIDE,
    )

    docs = _docs(spark)
    expected = {}
    for d, _, t in docs:
        toks = _toks(t)
        if not t.strip():
            continue
        n = len(toks)
        n_chunks = 1 + max(0, math.ceil((n - _CHUNK_SIZE) / _CHUNK_STRIDE))
        for i in range(n_chunks):
            chunk = toks[i * _CHUNK_STRIDE : i * _CHUNK_STRIDE + _CHUNK_SIZE]
            expected[(d, i)] = (len(chunk), _md5(" ".join(chunk))[:16])
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_hash"])
        for r in REGISTRY["text_chunk_overlap"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_upsample_repeat_emitted_multiset_matches_replay(spark):
    from job_datapipeline_spark.plans.corpus import _EPOCHS

    docs = _docs(spark)
    exp = defaultdict(lambda: [0, 0, 0])  # lang -> [n_docs, n_emitted, max]
    for d, lang, _ in docs:
        w = _EPOCHS[lang]
        whole = int(w)
        thr = format(min(int((w - whole) * 16**8), 16**8 - 1), "08x")
        n = whole + (1 if _md5(f"up1:{d}")[:8] < thr else 0)
        if n > 0:
            exp[lang][0] += 1
            exp[lang][1] += n
            exp[lang][2] = max(exp[lang][2], n)
    out = REGISTRY["corpus_upsample_repeat"].fn(spark, SF_SMOKE).collect()
    got = {
        r["lang"]: [r["n_source_docs"], r["n_emitted"], r["max_epochs"]] for r in out
    }
    assert got == {k: v for k, v in exp.items()}


def test_waiting_suppliers_matches_bruteforce(spark):
    orders = {
        r["o_orderkey"]
        for r in table(spark, SF_SMOKE, "orders")
        .filter("o_orderstatus = 'F'")
        .select("o_orderkey")
        .collect()
    }
    li = [
        (r["l_orderkey"], r["l_suppkey"], r["l_shipdate"])
        for r in table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .collect()
        if r["l_orderkey"] in orders
    ]
    last_ship = {}
    for ok, sk, ts in li:
        key = (ok, sk)
        if key not in last_ship or ts > last_ship[key]:
            last_ship[key] = ts
    by_order = defaultdict(list)
    for (ok, sk), ts in last_ship.items():
        by_order[ok].append((sk, ts))
    wait = Counter()
    for ok, pairs in by_order.items():
        if len(pairs) < 2:
            continue
        mx = max(ts for _, ts in pairs)
        at_max = [sk for sk, ts in pairs if ts == mx]
        if len(at_max) == 1:
            wait[at_max[0]] += 1
    names = {
        r["s_suppkey"]: r["s_name"]
        for r in table(spark, SF_SMOKE, "supplier").select("s_suppkey", "s_name").collect()
    }
    ranked = sorted(wait.items(), key=lambda kv: (-kv[1], names[kv[0]]))[:20]
    expected = [(sk, names[sk], n) for sk, n in ranked]
    got = [
        (r["s_suppkey"], r["s_name"], r["numwait"])
        for r in REGISTRY["tpch_waiting_suppliers"].fn(spark, SF_SMOKE).collect()
    ]
    assert got == expected


def test_quality_classifier_scores_match_pure_python(spark):
    from job_datapipeline_spark.plans.common import (
        QC_BIAS as _QC_BIAS,
        QC_BUCKETS as _QC_BUCKETS,
        QC_WEIGHTS as _QC_WEIGHTS,
    )

    wgt = dict(_QC_WEIGHTS)
    docs = _docs(spark)
    per_lang = defaultdict(lambda: [0, 0, 0])  # n_docs, n_keep, score_units
    for d, lang, t in docs:
        toks = _toks(t)
        if not toks:
            continue
        feats = Counter(int(_md5(tok)[:4], 16) % _QC_BUCKETS for tok in toks)
        dl = sum(feats.values())
        micros = sum(
            int(round(wgt[b] * cnt * 1000000.0 / dl)) for b, cnt in feats.items()
        )
        score = round(1.0 / (1.0 + math.exp(-(micros / 1000000.0 + _QC_BIAS))), 4)
        per_lang[lang][0] += 1
        per_lang[lang][1] += 1 if score >= 0.5 else 0
        per_lang[lang][2] += int(round(score * 10000))
    expected = {
        lang: (n, k, round(u / 10000.0 / n, 4)) for lang, (n, k, u) in per_lang.items()
    }
    got = {
        r["lang"]: (r["n_docs"], r["n_keep"], r["avg_score"])
        for r in REGISTRY["text_quality_classifier"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_chunk_dedup_matches_pure_python(spark):
    from job_datapipeline_spark.plans.common import (
        CHUNK_SIZE as _CHUNK_SIZE,
        CHUNK_STRIDE as _CHUNK_STRIDE,
    )

    docs = _docs(spark)
    occurrences = []  # (doc_id, chunk_idx, hash)
    for d, _, t in sorted(docs):
        toks = _toks(t)
        if not t.strip():
            continue
        n = len(toks)
        n_chunks = 1 + max(0, math.ceil((n - _CHUNK_SIZE) / _CHUNK_STRIDE))
        for i in range(n_chunks):
            chunk = toks[i * _CHUNK_STRIDE : i * _CHUNK_STRIDE + _CHUNK_SIZE]
            occurrences.append((d, i, _md5(" ".join(chunk))[:16]))
    first_seen = {}
    per_doc = defaultdict(lambda: [0, 0])
    for d, i, h in sorted(occurrences):
        per_doc[d][0] += 1
        if h in first_seen:
            per_doc[d][1] += 1
        else:
            first_seen[h] = (d, i)
    expected = {
        d: (n, dup, round(dup / n, 4))
        for d, (n, dup) in per_doc.items()
        if dup > 0
    }
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"], r["dup_frac"])
        for r in REGISTRY["corpus_chunk_dedup"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
