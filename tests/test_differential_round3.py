"""Brute-force differential tests for the late-round-3 operators: each
query is recomputed by an INDEPENDENT pure-python implementation (a third
engine besides Spark and the DuckDB oracle) over sf0.001. Tolerances are
float-only; set/count comparisons are exact."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _rows(spark, name, cols):
    return [tuple(r) for r in table(spark, SF_SMOKE, name).select(*cols).collect()]


def test_scd2_islands_match_bruteforce(spark):
    events = _rows(spark, "events", ["user_id", "event_type", "ts", "event_id"])
    by_user = defaultdict(list)
    for u, et, ts, eid in events:
        by_user[u].append((ts, eid, et))
    expected = {}
    for u, evs in by_user.items():
        evs.sort()
        island = 0
        prev = None
        for ts, eid, et in evs:
            if prev is None or prev != et:
                island += 1
            key = (u, et, island)
            if key not in expected:
                expected[key] = [ts, ts, 0]
            expected[key][0] = min(expected[key][0], ts)
            expected[key][1] = max(expected[key][1], ts)
            expected[key][2] += 1
            prev = et
    out = REGISTRY["events_scd2_islands"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["user_id"], r["event_type"], r["island_id"]): [
            r["valid_from"], r["last_seen"], r["n_events"]
        ]
        for r in out
    }
    assert got == expected


def test_pagerank_matches_pure_python_power_iteration(spark):
    o = _rows(spark, "orders", ["o_orderkey", "o_custkey"])
    li = _rows(spark, "lineitem", ["l_orderkey", "l_suppkey"])
    cust_by_order = {ok: ck for ok, ck in o}
    e0 = {(f"c{cust_by_order[lk]}", f"s{sk}") for lk, sk in li if lk in cust_by_order}
    edges = list(e0) + [(b, a) for a, b in e0]
    nodes = sorted({s for s, _ in edges})
    n = float(len(nodes))
    outdeg = defaultdict(int)
    for s, _ in edges:
        outdeg[s] += 1
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(2):
        inflow = defaultdict(float)
        for s, d in edges:
            inflow[d] += pr[s] / outdeg[s]
        pr = {v: 0.15 / n + 0.85 * inflow[v] for v in nodes}
    expected_top = sorted(((round(p, 8), v) for v, p in pr.items()),
                          key=lambda t: (-t[0], t[1]))[:20]
    out = REGISTRY["graph_pagerank_bipartite"].fn(spark, SF_SMOKE).collect()
    assert len(out) == 20
    for r, (ep, ev) in zip(sorted(out, key=lambda r: r["rank"]), expected_top):
        assert r["node"] == ev
        assert abs(r["pagerank"] - ep) < 1e-7, (r["node"], r["pagerank"], ep)


def test_sliding_windows_match_bruteforce(spark):
    events = _rows(spark, "events", ["ts", "value"])
    acc = defaultdict(lambda: [0, 0.0])
    for ts, v in events:
        hour = ts.replace(minute=0, second=0, microsecond=0)
        for shift_h in (0, 1):
            import datetime

            start = hour - datetime.timedelta(hours=shift_h)
            acc[start][0] += 1
            acc[start][1] += v
    out = REGISTRY["events_sliding_windows"].fn(spark, SF_SMOKE).collect()
    got = {r["w_start"]: (r["n_events"], r["sum_value"]) for r in out}
    assert set(got) == set(acc)
    for k, (cnt, sv) in acc.items():
        assert got[k][0] == cnt
        assert abs(got[k][1] - round(sv, 2)) < 1e-6
        # every window spans exactly 2 hours
    spans = {(r["w_end"] - r["w_start"]).total_seconds() for r in out}
    assert spans == {7200.0}


def _round_half_up(x: float, nd: int) -> float:
    """Spark's F.round / DuckDB's round are HALF_UP; python's built-in
    round is banker's (half-even) — exact .xxxx5 values diverge."""
    import decimal

    q = decimal.Decimal(10) ** -nd
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def test_gopher_rules_match_bruteforce(spark):
    docs = _rows(spark, "documents", ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           REGISTRY["text_gopher_rules"].fn(spark, SF_SMOKE).collect()}
    assert len(out) == len(docs)
    for doc_id, text in docs:
        toks = text.strip().lower().split()
        n = len(toks)
        counts = defaultdict(int)
        for t in toks:
            counts[t] += 1
        top = max(counts.values())
        r = out[doc_id]
        assert r["n_words"] == n
        assert abs(r["mean_word_len"] - _round_half_up(sum(map(len, toks)) / n, 4)) < 1e-9
        assert abs(r["top_token_frac"] - _round_half_up(top / n, 4)) < 1e-9
        assert abs(r["uniq_ratio"] - _round_half_up(len(counts) / n, 4)) < 1e-9
        keep = (40 <= n <= 500
                and 2.5 <= _round_half_up(sum(map(len, toks)) / n, 4) <= 8.0
                and _round_half_up(top / n, 4) <= 0.12
                and _round_half_up(len(counts) / n, 4) >= 0.4)
        assert r["keep"] == keep


def test_kll_sketch_p50_close_to_true_median(spark):
    prices = sorted(t[0] for t in _rows(spark, "lineitem", ["l_extendedprice"]))
    true_p50 = prices[len(prices) // 2]
    row = (
        table(spark, SF_SMOKE, "lineitem")
        .agg(F.kll_sketch_agg_double("l_extendedprice").alias("sk"))
        .select(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"))
        .first()
    )
    # KLL k=200: rank error ~1.65%; assert the VALUE sits within the
    # +-3% rank band of the sorted data
    lo = prices[max(0, int(len(prices) * 0.47))]
    hi = prices[min(len(prices) - 1, int(len(prices) * 0.53))]
    assert lo <= row["p50"] <= hi, (lo, row["p50"], hi, true_p50)
    assert math.isfinite(row["p50"])


def test_funnel_report_matches_bruteforce(spark):
    """The composed curation funnel replayed by an independent pure-python
    implementation: Gopher keep, fingerprint dedup, benchmark carve-out +
    8-gram overlap decontamination, md5 sampling — every stage count must
    match exactly."""
    import hashlib

    from job_datapipeline_spark.plans.corpus import (
        _BENCH_FRACTION,
        _BENCH_SALT,
        _DECON_N,
        _FUNNEL_SALT,
        _FUNNEL_SAMPLE_P,
    )
    from job_datapipeline_spark.operators.sampling import sample_threshold_hex

    docs = _rows(spark, "documents", ["doc_id", "text"])

    def md5hex(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def sampled_ids(ids, salt, frac):
        thr = sample_threshold_hex(frac)
        return {i for i in ids if md5hex(f"{salt}:{i}")[:4] < thr}

    base = [(i, t) for i, t in docs if t.strip()]
    # stage 2: gopher keep
    q = []
    for i, t in base:
        toks = t.strip().lower().split()
        n = len(toks)
        counts = {}
        for tok in toks:
            counts[tok] = counts.get(tok, 0) + 1
        keep = (
            40 <= n <= 500
            and 2.5 <= _round_half_up(sum(map(len, toks)) / n, 4) <= 8.0
            and _round_half_up(max(counts.values()) / n, 4) <= 0.12
            and _round_half_up(len(counts) / n, 4) >= 0.4
        )
        if keep:
            q.append((i, t))
    # stage 3: keep min doc_id per normalized fingerprint
    best = {}
    for i, t in q:
        fp = md5hex(" ".join(t.strip().lower().split()))
        if fp not in best or i < best[fp][0]:
            best[fp] = (i, t)
    ded = sorted(best.values())
    # stage 4: benchmark members out; 8-gram overlap with other bench docs out
    bench_ids = sampled_ids([i for i, _ in docs], _BENCH_SALT, _BENCH_FRACTION)
    bench_grams = {}
    by_id = dict(docs)
    for b in bench_ids:
        toks = by_id[b].strip().lower().split()
        for k in range(len(toks) - _DECON_N + 1):
            bench_grams.setdefault(" ".join(toks[k:k + _DECON_N]), set()).add(b)
    clean = []
    for i, t in ded:
        if i in bench_ids:
            continue
        toks = t.strip().lower().split()
        hit = False
        for k in range(len(toks) - _DECON_N + 1):
            owners = bench_grams.get(" ".join(toks[k:k + _DECON_N]))
            if owners and owners - {i}:
                hit = True
                break
        if not hit:
            clean.append(i)
    # stage 5: deterministic sample
    sampled = sampled_ids(clean, _FUNNEL_SALT, _FUNNEL_SAMPLE_P)

    out = {
        r["stage"]: r["n_docs"]
        for r in REGISTRY["corpus_funnel_report"].fn(spark, SF_SMOKE).collect()
    }
    assert out == {
        "total": len(base),
        "quality": len(q),
        "exact_dedup": len(ded),
        "decontaminated": len(clean),
        "sampled": len(sampled),
    }


def test_containment_pairs_match_bruteforce(spark):
    """The prefix-filtered containment join must emit EXACTLY the pairs a
    brute-force all-pairs python scan finds — guards the losslessness of
    the prefix and container-size filters (a too-short prefix or an
    off-by-one in ceil would silently drop qualifying pairs)."""
    from job_datapipeline_spark.plans.dedup import (
        _CONTAIN_EXCERPT_TOKENS,
        _CONTAIN_MIN_TOKENS,
        _CONTAIN_THRESHOLD,
    )
    from job_datapipeline_spark.plans.queries import REGISTRY as _R

    docs = _rows(spark, "documents", ["doc_id", "text"])
    corpus = {}
    for i, t in docs:
        if not t.strip():
            continue
        toks = t.strip().lower().split()
        corpus[i] = toks
        if len(toks) >= _CONTAIN_MIN_TOKENS:
            corpus[i + 40000] = toks[:_CONTAIN_EXCERPT_TOKENS]
    shingles = {
        i: {" ".join(tk[k:k + 3]) for k in range(len(tk) - 2)}
        for i, tk in corpus.items()
        if len(tk) >= 3
    }
    expected = {}
    ids = sorted(shingles)
    for a in ids:
        for b in ids:
            if a == b:
                continue
            inter = len(shingles[a] & shingles[b])
            cont = inter / len(shingles[a])
            if cont >= _CONTAIN_THRESHOLD:
                expected[(a, b)] = _round_half_up(cont, 4)
    out = _R["dedup_containment_pairs"].fn(spark, SF_SMOKE).collect()
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in out}
    assert set(got) == set(expected)
    for k in expected:
        assert abs(got[k] - expected[k]) < 1e-9, (k, got[k], expected[k])


def test_robust_mad_matches_numpy(spark):
    """agg_robust_mad replayed by numpy's interpolated median."""
    import numpy as np

    vals = {}
    for flag, price in _rows(spark, "lineitem", ["l_returnflag", "l_extendedprice"]):
        vals.setdefault(flag, []).append(price)
    out = {r["l_returnflag"]: r for r in
           REGISTRY["agg_robust_mad"].fn(spark, SF_SMOKE).collect()}
    assert set(out) == set(vals)
    for flag, xs in vals.items():
        med = float(np.percentile(xs, 50, method="linear"))
        mad = float(np.percentile(np.abs(np.array(xs) - med), 50, method="linear"))
        assert abs(out[flag]["median_price"] - _round_half_up(med, 4)) < 1e-6
        assert abs(out[flag]["mad_price"] - _round_half_up(mad, 4)) < 1e-6
