"""Round-11 first batch: TRAINED quantizer composed into the persistent
IVF index — the r10 verdict's "what's missing" item 2.

Round 10 shipped both halves separately: ``embedding_kmeans_refine``
proves one Lloyd iteration as a declarative plan, and
``ann_ivf_index_roundtrip`` proves the write/append/probe round trip
over a persisted FIXED-ID quantizer.  This query joins them into the
production chain: TRAIN (one Lloyd step refines the fixed-id seeds into
data-adaptive centroids — componentwise means rounded to 6dp so both
engines reassign from identical values) -> WRITE (the trained quantizer
and the cell-assigned corpus persist via operators/similarity.
ivf_index_write_frame; the assignment runs against the READ-BACK
quantizer, so the cells are keyed by exactly what a probe will read) ->
PROBE (nprobe=2 against the persisted index, scan restricted to probed
cell partitions by dynamic partition pruning).

The oracle replays the whole chain one-shot from the raw embeddings
table, so a green row proves train -> persist -> probe over parquet
state equals the single-pass plan.  The in-plan ``quantizer_trained``
verdict certifies the PERSISTED quantizer differs from the seed vectors
— i.e. the probe really is served by trained centroids, not the
fixed-id convention ("training happened once, elsewhere" is now an
executed chain, not a docstring claim).

100 TB shape: training is write-time-only — each Lloyd iteration is one
corpus scan against broadcast centroids (iterations chain with a
checkpoint boundary, the Spark MLlib KMeans structure), and NOTHING on
the probe path changes: arrival assignment and probes read the
persisted quantizer exactly as in the fixed-id round trip, so re-
training remains a separate, rare event that rewrites one kilobyte-
scale table plus a one-pass corpus re-assignment.

Reference parity: none (the reference has no embeddings); extends the
similarity family mandated by the LLM-pipeline brief.
"""

from __future__ import annotations

from os import path as _os_path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import ivf_assign, ivf_index_probe, ivf_index_write_frame
from .queries import _scratch_dir
from .registry import register
from .r10_shared import (
    R10_IVF_CENTS as _SEED_IDS,
    R10_IVF_CENTS_SQL as _SEED_IDS_SQL,
    R10_IVF_L2 as _L2,
)

_DIM = 64
_MEANS = ", ".join(
    f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)" for i in range(1, _DIM + 1)
)


@register(
    "ann_ivf_trained_index",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_SEED_IDS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    a1 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM corp e CROSS JOIN seeds c) x
        WHERE r = 1
    ),
    trained AS (
        SELECT cell AS cid, [{_MEANS}] AS cent FROM a1 GROUP BY cell
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM corp e CROSS JOIN trained c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN trained c
            WHERE e.vec_id % 10 = 3 AND e.vec_id < 100) x
        WHERE r <= 2
    ),
    scored AS (
        SELECT qa.q_id, ca.vec_id,
               round(list_dot_product(ca.embedding, qa.qv) /
                     (sqrt(list_dot_product(ca.embedding, ca.embedding)) *
                      sqrt(list_dot_product(qa.qv, qa.qv))), 4) AS cos
        FROM ca JOIN qa USING (cell)
    ),
    topk AS (
        SELECT q_id, vec_id, cos, rank FROM (
            SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rank
            FROM scored) x
        WHERE rank <= 5
    ),
    moved AS (
        SELECT bool_or(list_sum(
                   [CASE WHEN t.cent[i] <> round(CAST(s.cent[i] AS DOUBLE), 6)
                         THEN 1 ELSE 0 END FOR i IN range(1, {_DIM + 1})]
               ) > 0) AS quantizer_trained
        FROM trained t JOIN seeds s ON t.cid = s.cid
    )
    SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank,
           (SELECT quantizer_trained FROM moved) AS quantizer_trained
    FROM topk ORDER BY q_id, rank
    """,
    doc="Trained-quantizer persistent IVF index — the executed "
        "training -> index -> probe chain: one Lloyd step (assign to "
        "fixed-id seeds via the shared ivf_assign device, componentwise "
        "means rounded to 6dp) produces the centroids that "
        "ivf_index_write_frame persists (assignment against the READ-"
        "BACK quantizer), then queries multi-probe (nprobe=2) the cell-"
        "partitioned corpus with dynamic partition pruning. The oracle "
        "replays train + assign + probe one-shot from raw embeddings; "
        "the in-plan quantizer_trained verdict certifies the persisted "
        "centroids differ from the seed vectors, i.e. the probe is "
        "served by TRAINED centroids. Training is write-time-only: one "
        "corpus scan per Lloyd iteration against broadcast centroids; "
        "the probe path is unchanged from ann_ivf_index_roundtrip.",
)
def ann_ivf_trained_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    seeds = emb.filter(F.col("vec_id").isin(*_SEED_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent")
    )
    path = _os_path.join(_scratch_dir("ann_ivf_trained_index"), "ivf_index")

    # TRAIN: one Lloyd step — assignment uses the SAME device (and the
    # same 6dp-rounded L2, ties by cid) the index write and probe use,
    # so train/serve can never drift apart on assignment semantics.
    a1 = ivf_assign(
        corpus.select("vec_id", F.col("embedding").alias("_v")), seeds, "vec_id", 1
    )
    trained = (
        a1.groupBy("cell")
        .agg(
            *[
                F.round(F.avg(F.col("_v")[i].cast("double")), 6).alias(f"_c{i}")
                for i in range(_DIM)
            ]
        )
        .select(
            F.col("cell").alias("cid"),
            F.array(*[f"_c{i}" for i in range(_DIM)]).alias("cent"),
        )
    )
    # WRITE: the trained quantizer persists first; the corpus assignment
    # runs against the read-back parquet (ivf_index_write_frame).
    ivf_index_write_frame(corpus, path, trained)
    # PROBE: unchanged from the fixed-id round trip.
    topk = ivf_index_probe(spark, path, queries, k=5, nprobe=2, cos_round=4)

    # <=50 rows — materialized so the verdict agg reads the tiny result
    # instead of replaying the probe subtree (the roundtrip precedent).
    flagged = topk.localCheckpoint()
    persisted = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_t")
    )
    seeds_rounded = seeds.select(
        "cid",
        F.transform("_cent", lambda x: F.round(x.cast("double"), 6)).alias("_s"),
    )
    moved = (
        persisted.join(F.broadcast(seeds_rounded), "cid")
        .select(
            F.exists(
                F.zip_with("_t", "_s", lambda a, b: a != b), lambda x: x
            ).alias("_m")
        )
        .agg(F.max("_m").alias("quantizer_trained"))
    )
    return flagged.crossJoin(F.broadcast(moved)).orderBy("q_id", "rank")
