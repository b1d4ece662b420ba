"""Round-10 second batch: STREAMING ingest into the persistent IVF index.

``ann_ivf_index_roundtrip`` proves the write/append/probe composition
over persisted state; this is its production arrival shape — the
embedding twin of ``streaming_dedup_state_ingest``: vectors arrive as 3
hash-split files, a real AvailableNow file-source stream processes one
file per micro-batch, and each ``foreachBatch`` assigns ONLY its own
batch against the offline-trained quantizer (persisted centroids) and
appends the batch's cell partitions (operators/similarity.
ivf_index_append).  The corpus is never re-read, re-assigned, or
re-normed; per-arrival cost is O(|batch| x k_centroids).

After the stream drains, one probe against the accumulated index must
equal the ONE-SHOT IVF top-k over the whole corpus — the oracle replays
that single-pass plan, so a green row proves the result is independent
of arrival order and batch boundaries.  ``arrival_batch`` labels each
hit with the deterministic md5 split (the FILE it was staged into —
cross-engine reproducible, so the oracle pins it); the in-plan
``multi_batch_hits`` verdict counts the REAL ``batch_id``s stamped by
``foreachBatch`` at ingest (persisted to an ``arrivals`` side table),
certifying the probe really is serving vectors that arrived in
different micro-batches — i.e. the incremental appends, not any single
batch, produced the answer.  The two are deliberately decoupled (r10
advice): a stream that coalesced all files into one batch would flip
the real-stamp verdict to false and go red at the gate, while the
split expression alone would still show 3 values.

Reference parity: none (the reference has neither embeddings nor
streaming); extends the LLM-pipeline similarity family mandated by the
brief.  Scale shape: identical to ann_ivf_index_roundtrip (broadcast
quantizer assignment per batch, cell-partitioned appends, DPP-pruned
probe); state grows by one row per arriving vector.
"""

from __future__ import annotations

from os import path as _os_path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import ivf_index_append, ivf_index_probe
from .r10_shared import R10_IVF_CENTS, R10_IVF_CENTS_SQL, R10_IVF_L2
from .queries import _scratch_dir, _stream_state_partitions
from .registry import register

_SPLIT_SQL = (
    "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 3"
)


def _split_col():
    return F.pmod(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(3),
    )


@register(
    "streaming_ann_index_ingest",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {R10_IVF_CENTS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {R10_IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {R10_IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c
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
    )
    SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank,
           {_SPLIT_SQL} AS arrival_batch,
           (SELECT count(DISTINCT {_SPLIT_SQL}) FROM topk) > 1
               AS multi_batch_hits
    FROM topk ORDER BY q_id, rank
    """,
    doc="Streaming ingest into the persistent IVF index — the daily-"
        "arrival shape of ann_ivf_index_roundtrip: vectors arrive as 3 "
        "md5-split files, an AvailableNow file stream processes one file "
        "per micro-batch, and each foreachBatch assigns ONLY its batch "
        "via the persisted offline quantizer and appends its cell "
        "partitions (no corpus re-read; O(batch x k_cents) per arrival). "
        "One probe after the drain must equal the one-shot IVF top-5 the "
        "oracle replays — independent of arrival order and batch "
        "boundaries. arrival_batch labels each hit's staged file (md5 "
        "split, oracle-pinned); the in-plan multi_batch_hits verdict "
        "counts the REAL foreachBatch batch_ids stamped at ingest, "
        "certifying the answer is assembled from appends across actual "
        "micro-batches, not any single batch.",
)
def streaming_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    root = _scratch_dir("stream_ann_ingest")
    src = _os_path.join(root, "src")
    idx = _os_path.join(root, "ivf_index")
    ckpt = _os_path.join(root, "ckpt")

    # The quantizer is trained OFFLINE (here: the fixed-id convention of
    # the roundtrip query) and persisted before any vector arrives —
    # ingest only assigns against it, exactly like a production IVF
    # deployment where re-training is a separate, rare event.
    corpus.filter(F.col("vec_id").isin(*R10_IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    ).write.mode("overwrite").parquet(idx + "/centroids")

    # 3 deterministic arrival files: md5-split so each micro-batch holds
    # an unpredictable slice of every cell.
    staged = corpus.withColumn("_split", _split_col()).localCheckpoint()
    for k in range(3):
        staged.filter(F.col("_split") == k).drop("_split").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_append(batch_df.sparkSession, idx, batch_df)
        # Stamp the REAL micro-batch id alongside the index append (r10
        # advice): the multi-batch verdict below must certify actual
        # arrival batches, not the split function that staged the files.
        batch_df.select("vec_id").withColumn(
            "ingest_batch", F.lit(int(batch_id)).cast("bigint")
        ).write.mode("append").parquet(idx + "/arrivals")

    stream = (
        spark.readStream.schema(staged.drop("_split").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(ingest)
            .start()
        )
        q.awaitTermination()

    topk = ivf_index_probe(spark, idx, queries, k=5, nprobe=2, cos_round=4)
    # <=50 rows — materialized so the verdict agg reads the tiny result
    # instead of replaying the probe subtree (the roundtrip precedent).
    # arrival_batch (output column) is the deterministic md5 split — the
    # FILE each vector was staged into, reproducible cross-engine so the
    # oracle can pin it.  multi_batch_hits (the verdict) deliberately
    # does NOT reuse that expression: it counts the REAL batch_ids
    # stamped by ingest() (r10 advice) — if the stream ignored
    # maxFilesPerTrigger and landed all 3 files in one micro-batch, the
    # real count would be 1, the verdict false, and the gate red, even
    # though the split expression would still show 3 distinct values.
    flagged = topk.select(
        "q_id", "vec_id", "cos", "rank", _split_col().alias("arrival_batch")
    ).localCheckpoint()
    arrivals = spark.read.parquet(idx + "/arrivals")
    verdict = (
        arrivals.join(F.broadcast(flagged.select("vec_id").distinct()), "vec_id")
        .agg((F.countDistinct("ingest_batch") > 1).alias("multi_batch_hits"))
    )
    return flagged.crossJoin(F.broadcast(verdict)).orderBy("q_id", "rank")
