"""Round-10 semantic pins: the persistent IVF index round trip must
return the SAME top-k as the never-persisted in-session IVF plan over
the identical corpus/quantizer, the appended batch must be visible in
the results, and the probe must be honest ANN (every hit shares a
probed cell with its query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.operators.similarity import ivf_topk
from job_datapipeline_spark.plans.common import IVF_CENTS as _R10_IVF_CENTS
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _roundtrip(spark):
    return (
        REGISTRY["ann_ivf_index_roundtrip"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )


def test_ivf_roundtrip_equals_in_session_plan(spark):
    """The defining property: write + append + probe over parquet state
    == one-shot ivf_topk over the union corpus (floats round-trip
    parquet bit-exactly; the appended batch is indistinguishable from
    build-time vectors)."""
    got = _roundtrip(spark)
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    queries = emb.filter(
        (F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)
    ).select(F.col("vec_id").alias("q_id"), "embedding")
    want = (
        ivf_topk(
            corpus, queries, k=5, centroid_ids=_R10_IVF_CENTS,
            nprobe=2, cos_round=4,
        )
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(got["q_id"]) == list(want["q_id"])
    assert list(got["vec_id"]) == list(want["vec_id"])
    assert list(got["cos"]) == list(want["cos"])
    assert list(got["rank"]) == list(want["rank"])


def test_ivf_roundtrip_batch_visible(spark):
    """The append materially changed the answer: at least one top-k hit
    is a batch (vec_id % 10 == 7) vector, and the in-plan verdict
    column agrees with the per-row flags."""
    df = _roundtrip(spark)
    assert df["batch_visible"].all()
    assert df["from_batch"].any()
    assert (df["from_batch"] == (df["vec_id"] % 10 == 7)).all()


def test_streaming_ingest_equals_batch_roundtrip(spark):
    """Arrival order and micro-batch boundaries must not matter: the
    streamed index serves the exact top-k the batch round trip (same
    corpus, same quantizer) produces."""
    got = (
        REGISTRY["streaming_ann_index_ingest"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    want = _roundtrip(spark)
    for col in ("q_id", "vec_id", "cos", "rank"):
        assert list(got[col]) == list(want[col]), col
    # the verdict: hits arrived in more than one micro-batch
    assert got["multi_batch_hits"].all()
    assert got["arrival_batch"].nunique() >= 2
    assert got["arrival_batch"].between(0, 2).all()


def test_pq_adc_recall_beats_chance(spark):
    """PQ is lossy by design — the pin is that the ADC candidate stage
    carries real signal: recall@5 against the exact top-k must beat the
    random-candidate baseline (CAND/|corpus| ~ 4-11% at test SFs) by a
    wide margin, and the rerank stage must emit exact cosines."""
    df = (
        REGISTRY["ann_pq_adc_topk"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["q_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(df) == 50  # 10 queries x top-5
    assert df["in_exact_topk"].mean() >= 0.2  # measured 0.38-0.42; chance ~0.1 at sf0.001
    # rank-1 hits should be the most reliable: the true nearest neighbor
    # usually survives quantization into the top-20 candidates
    assert df[df["rank"] == 1]["in_exact_topk"].mean() >= 0.5
    for _, grp in df.groupby("q_id"):
        assert list(grp["rank"]) == [1, 2, 3, 4, 5]
        assert (grp["cos"].diff().dropna() <= 0).all()
    assert df["cos"].between(-1.0, 1.0).all()


def test_kmv_theta_sketch_pins(spark):
    """Semantic pins: the mergeability verdict holds, the exact-fallback
    branch fires when n < k (sf0.001 segments are ~130 < 256 so every
    estimate is exact there), and set-algebra sanity on the estimates."""
    df = (
        REGISTRY["agg_kmv_theta_sketch_ops"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("metric")
    )
    assert list(df.index) == ["seg_urgent", "seg_high", "union", "intersection"]
    assert df["merge_consistent"].all()
    # sf0.001: every set is smaller than k=256 -> sketches are exhaustive
    # -> the n<k fallback makes segment/union estimates EXACT
    for m in ("seg_urgent", "seg_high", "union"):
        assert df.loc[m, "estimate"] == df.loc[m, "exact"], m
        assert df.loc[m, "abs_err_permille"] == 0
    # inclusion-exclusion sanity on the exact column
    assert (
        df.loc["seg_urgent", "exact"] + df.loc["seg_high", "exact"]
        - df.loc["intersection", "exact"]
        == df.loc["union", "exact"]
    )
    # intersection estimate: near-exhaustive sketches -> small error
    inter = df.loc["intersection"]
    assert abs(inter["estimate"] - inter["exact"]) <= 0.1 * inter["exact"] + 1


def test_matryoshka_curve_monotone_and_identity(spark):
    """The overlap curve must be monotone non-decreasing in the dim
    budget, end at the exact identity (d=64 overlaps itself 1000/1000,
    pinned in-plan), and degrade for real at small d on these untrained
    embeddings (the honest-measurement property)."""
    df = (
        REGISTRY["embedding_matryoshka_overlap"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .sort_values("dim_budget")
        .reset_index(drop=True)
    )
    assert list(df["dim_budget"]) == [8, 16, 32, 64]
    assert df["identity_holds"].all()
    assert df.loc[3, "avg_overlap_milli"] == 1000
    overlaps = list(df["avg_overlap_milli"])
    assert overlaps == sorted(overlaps)
    # untrained embeddings: the 8-dim prefix must NOT look as good as the
    # full vector (if it did, the measurement would be broken)
    assert df.loc[0, "avg_overlap_milli"] < 1000
    assert (df["bytes_permille"] == [125, 250, 500, 1000]).all()


def test_unigram_encode_scorecard(spark):
    """Semantic pins: every word segmentable (byte fallback), fertility
    in a sane band (>1 piece/word given the sub-word vocab, bounded by
    the 12-char word cap), fallback share strictly between 0 and 1
    (the multi vocab is used AND does not cover everything), and one
    row per language."""
    df = (
        REGISTRY["tokenizer_unigram_encode"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("lang")
    )
    assert sorted(df.index) == ["de", "en", "es", "fr", "zh"]
    assert df["all_segmentable"].all()
    assert (df["fertility_milli"] > 1000).all()
    assert (df["fertility_milli"] < 12000).all()
    assert (df["char_fallback_permille"] > 0).all()
    assert (df["char_fallback_permille"] < 1000).all()
    assert (df["n_types"] > 0).all()
    assert (df["n_tokens"] >= df["n_types"]).all()


def test_ivf_roundtrip_shape(spark):
    """Structural pins: <=5 hits per query with dense ranks from 1, every
    query id present, cosines in [-1, 1]."""
    df = _roundtrip(spark)
    for q_id, grp in df.groupby("q_id"):
        assert q_id % 10 == 3 and q_id < 100
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert len(grp) <= 5
        assert (grp["cos"].diff().dropna() <= 0).all()
    assert df["cos"].between(-1.0, 1.0).all()
