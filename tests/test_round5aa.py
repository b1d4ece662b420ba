"""Round-5 twenty-seventh batch: dHash image near-dedup — differential
replay through the REAL codec path plus the operator contracts (the
brightness-shifted copy is Hamming 0, the reversed gradient is the
exact bitwise complement, and dhash_bits round-trips int64 signs)."""

from __future__ import annotations

from job_datapipeline_spark.plans.formats import (
    _DHASH_FIXTURES,
    _DHASH_NEAR,
    _bmp_bytes_for,
    _golden_dhash,
)
from job_datapipeline_spark.plans.registry import REGISTRY
from job_datapipeline_spark.sources.multimodal import (
    bmp_luminance_matrix,
    dhash_bits,
)

from conftest import SF_SMOKE


def test_dhash_codec_path_matches_golden_replay():
    # the production codec+resample+hash against the pure-python replay,
    # per fixture — no Spark needed for the unit contract
    for name, w, h, fn in _DHASH_FIXTURES:
        lum = bmp_luminance_matrix(_bmp_bytes_for(fn, w, h))
        assert lum is not None, name
        assert dhash_bits(lum) == _golden_dhash(fn, w, h), name


def test_dhash_pairs_match_golden(spark):
    hashes = {
        name: _golden_dhash(fn, w, h) for name, w, h, fn in _DHASH_FIXTURES
    }
    names = sorted(hashes)
    expected = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            ham = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            expected[(a, b)] = (ham, ham <= _DHASH_NEAR)
    rows = REGISTRY["multimodal_image_dhash"].fn(spark, SF_SMOKE).collect()
    got = {(r["file_a"], r["file_b"]): (r["hamming"], r["is_near"]) for r in rows}
    assert got == expected
    # contracts: the planted copy is identical, the reversed gradient is
    # the exact complement — both verdicts fire
    assert got[("img_a.bmp", "img_a_shift.bmp")] == (0, True)
    assert got[("img_a.bmp", "img_b.bmp")] == (64, False)
