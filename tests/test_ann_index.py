"""Persisted ANN index writes: a read-back of a table written in the same
call uses the written schema (no footer-inference job), and the IVF+PQ
append keeps codes a subset of cells when either append fails."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.operators import similarity
from job_datapipeline_spark.plans.queries import _scratch_dir
from job_datapipeline_spark.plans.r10_shared import R10_IVF_CENTS

from conftest import SF_SMOKE, jobs_in_group


def _frames(spark):
    emb = table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    cents = emb.filter(F.col("vec_id").isin(*R10_IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    cb = emb.filter(F.col("vec_id") < 18).select(
        F.col("vec_id").alias("c"),
        F.inline(similarity.pq_subspace_struct(F.col("embedding"), 8, 8, out="cvec")),
    )
    return base, batch, cents, cb


@pytest.fixture
def parquet_reads(spark, monkeypatch):
    """(path, job ids) for each ``spark.read...parquet`` call: the jobs the
    read call itself starts, before any action on its frame."""
    reads = []
    real = DataFrameReader.parquet

    def counted(self, *paths, **options):
        out = []
        jobs = jobs_in_group(
            spark,
            f"parquet-read-{len(reads)}",
            lambda: out.append(real(self, *paths, **options)),
        )
        reads.append((paths[0], jobs))
        return out[0]

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return reads


def test_index_write_read_backs_start_no_job(spark, parquet_reads):
    base, _batch, cents, cb = _frames(spark)
    root = _scratch_dir("t_ann_read_backs")
    similarity.ivf_index_write_frame(base, root + "/ivf", cents)
    similarity.ivf_pq_index_write_frame(base, root + "/pq", cents, cb, 8, 8)
    # Control: inferring the schema from the footer does start a job, so the
    # counts of the read-backs would see one.
    spark.read.parquet(root + "/pq/codebook")
    index_reads = [
        (os.path.relpath(p, root), len(jobs))
        for p, jobs in parquet_reads
        if p.startswith(root)
    ]
    *read_backs, control = index_reads
    assert read_backs == [
        ("ivf/centroids", 0),
        ("pq/centroids", 0),
        ("pq/codebook", 0),
    ]
    assert control[0] == "pq/codebook" and control[1] >= 1


@pytest.mark.parametrize("failing", ["cells", "codes"])
def test_pq_append_failure_keeps_codes_within_cells(spark, monkeypatch, failing):
    base, batch, cents, cb = _frames(spark)
    path = os.path.join(_scratch_dir(f"t_ann_append_{failing}"), "idx")
    similarity.ivf_pq_index_write_frame(base, path, cents, cb, 8, 8)
    real = similarity._write_cells

    def write_or_fail(frame, target, mode, *args):
        if target.endswith("/" + failing):
            raise RuntimeError(f"injected {failing} append failure")
        real(frame, target, mode, *args)

    monkeypatch.setattr(similarity, "_write_cells", write_or_fail)
    with pytest.raises(RuntimeError, match="injected"):
        similarity.ivf_pq_index_append(spark, path, batch, 8, 8)

    def ids(frame):
        return {r[0] for r in frame.select("vec_id").collect()}

    cells = ids(spark.read.parquet(path + "/cells"))
    codes = ids(spark.read.parquet(path + "/codes"))
    assert codes <= cells
    # the batch reached cells exactly when the cells append ran
    assert (ids(batch) <= cells) == (failing == "codes")
    assert not ids(batch) & codes
