"""Round-5 fifteenth batch: RAKE keyphrases, Z-order tiles, scan
provenance, bin packing — pure-python differential replays over
sf0.001 plus the operator contracts (phrases contain no stopwords,
morton codes are within 16 bits and tile ranges nest, provenance
counts rebuild the source table, every bin fill respects capacity)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.plans.llm_round5o import (
    _PACK_CAP_X,
    _PACK_FILL,
    _RAKE_STOPWORDS,
    _Z_TILE_SHIFT,
)
from job_datapipeline_spark.plans.registry import REGISTRY

from conftest import SF_SMOKE


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


# ---------------------------------------------------------------------------
# text_rake_keyphrases
# ---------------------------------------------------------------------------

def test_rake_keyphrases_matches_pure_python(spark):
    stop = set(_RAKE_STOPWORDS)
    expected = {}
    for r in table(spark, SF_SMOKE, "documents").collect():
        toks = (r["text"] or "").strip().lower().split()
        phrases = []
        cur = []
        for t in toks:
            if t in stop:
                if cur:
                    phrases.append(cur)
                    cur = []
            else:
                cur.append(t)
        if cur:
            phrases.append(cur)
        if not phrases:
            continue
        deg: Counter = Counter()
        freq: Counter = Counter()
        for p in phrases:
            for t in p:
                deg[t] += len(p)
                freq[t] += 1
        w_micro = {
            t: _round_half_away(1_000_000.0 * deg[t] / freq[t]) for t in deg
        }
        best = None
        for p in phrases:
            score = sum(w_micro[t] for t in p)
            cand = (-score, " ".join(p), len(p))
            if best is None or cand < best:
                best = cand
        expected[r["doc_id"]] = (best[1], best[2], -best[0])
    rows = REGISTRY["text_rake_keyphrases"].fn(spark, SF_SMOKE).collect()
    got = {r["doc_id"]: (r["phrase"], r["n_words"], r["score_micro"]) for r in rows}
    assert got == expected
    # contract: no stopword survives inside any phrase
    for phrase, _n, _s in got.values():
        assert not (set(phrase.split()) & stop)


# ---------------------------------------------------------------------------
# layout_zorder_tiles
# ---------------------------------------------------------------------------

def _morton(x: int, y: int) -> int:
    m = 0
    for b in range(8):
        m |= ((x >> b) & 1) << (2 * b)
        m |= ((y >> b) & 1) << (2 * b + 1)
    return m


def test_zorder_tiles_matches_pure_python(spark):
    tiles: dict = {}
    total = 0
    for r in table(spark, SF_SMOKE, "orders").collect():
        total += 1
        d = r["o_orderdate"]
        m = _morton(
            r["o_custkey"] % 256, ((d.year - 1995) * 12 + (d.month - 1)) % 256
        )
        t = m >> _Z_TILE_SHIFT
        cur = tiles.get(t)
        row = (m, r["o_orderkey"], str(d))
        if cur is None:
            tiles[t] = [1, m, m, r["o_orderkey"], r["o_orderkey"], str(d), str(d)]
        else:
            cur[0] += 1
            cur[1] = min(cur[1], m)
            cur[2] = max(cur[2], m)
            cur[3] = min(cur[3], r["o_orderkey"])
            cur[4] = max(cur[4], r["o_orderkey"])
            cur[5] = min(cur[5], str(d))
            cur[6] = max(cur[6], str(d))
        del row
    rows = REGISTRY["layout_zorder_tiles"].fn(spark, SF_SMOKE).collect()
    got = {
        r["tile"]: [
            r["n_rows"],
            r["min_morton"],
            r["max_morton"],
            r["min_orderkey"],
            r["max_orderkey"],
            r["min_date"],
            r["max_date"],
        ]
        for r in rows
    }
    assert got == {t: v for t, v in tiles.items()}
    # contracts: codes stay within 16 bits, morton range nests in the tile,
    # and the tiles partition all rows
    for t, v in got.items():
        assert 0 <= v[1] <= v[2] < (1 << 16)
        assert v[1] >> _Z_TILE_SHIFT == t and v[2] >> _Z_TILE_SHIFT == t
    assert sum(v[0] for v in got.values()) == total


# ---------------------------------------------------------------------------
# audit_scan_provenance
# ---------------------------------------------------------------------------

def test_scan_provenance_matches_pure_python(spark):
    src: dict = defaultdict(lambda: [0, None, None])
    for r in table(spark, SF_SMOKE, "orders").collect():
        a = src[r["o_orderpriority"]]
        a[0] += 1
        a[1] = r["o_orderkey"] if a[1] is None else min(a[1], r["o_orderkey"])
        a[2] = r["o_orderkey"] if a[2] is None else max(a[2], r["o_orderkey"])
    rows = REGISTRY["audit_scan_provenance"].fn(spark, SF_SMOKE).collect()
    got = {
        r["partition_value"]: [r["n_rows"], r["min_orderkey"], r["max_orderkey"]]
        for r in rows
    }
    assert got == {k: v for k, v in src.items()}
    # contract: the physical routing check held for every partition
    assert all(r["path_matches"] for r in rows)


# ---------------------------------------------------------------------------
# compaction_bin_packing
# ---------------------------------------------------------------------------

def test_bin_packing_matches_pure_python(spark):
    items: Counter = Counter()
    for r in table(spark, SF_SMOKE, "orders").collect():
        d = r["o_orderdate"]
        items[(r["o_orderpriority"], (d.year - 1995) * 12 + (d.month - 1))] += 1
    sizes = {k: v * 100 for k, v in items.items()}
    cap = _PACK_CAP_X * (sum(sizes.values()) // len(sizes))
    expected = {}
    by_part: dict = defaultdict(list)
    for (part, m), size in sizes.items():
        by_part[part].append((m, size))
    for part, lst in by_part.items():
        state = 0
        for m, size in sorted(lst):
            if state % _PACK_FILL + size > cap:
                state = (state // _PACK_FILL + 1) * _PACK_FILL + size
            else:
                state += size
            expected[(part, m)] = (size, state // _PACK_FILL, state % _PACK_FILL)
    rows = REGISTRY["compaction_bin_packing"].fn(spark, SF_SMOKE).collect()
    got = {
        (r["part"], r["month_index"]): (r["size"], r["bin"], r["bin_fill_after"])
        for r in rows
    }
    assert got == expected
    # contract: no bin ever exceeds capacity unless a single item does
    for (_part, _m), (size, _b, fill) in got.items():
        assert fill <= cap or size > cap
