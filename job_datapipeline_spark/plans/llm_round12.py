"""Round-12 batch: the two compositions the r11 verdict named as the
remaining gaps in the 100 TB vector-serving story.

1. ``ann_ivf_pq_index`` — the PQ codes PERSISTED into the IVF index.
   Round 11 measured (SCALE_GROWTH.md "IVFPQ-vs-PQ ladder") that the
   only viable 100 TB layout stores the 8-byte codes CELL-KEYED NEXT TO
   the cell partitions — stored codes were 2.5x over full ADC at 100x,
   and the query-time cell join halved the advantage — but the
   persistent index family still stored raw floats only, while
   ``ann_ivf_pq_topk`` computed cells and codes in-query.  This query
   executes the measured production layout end-to-end: write persists
   quantizer + codebook + cell-partitioned vectors + cell-partitioned
   codes; append encodes ONLY the arriving batch (persisted quantizer
   and codebook — arrival cost independent of index size); probe is a
   DPP-pruned integer ADC scan over the probed cells' codes followed by
   an exact-cosine rerank that reads ONLY the surviving candidates'
   vectors (again cell-pruned, write-time norms).  The oracle replays
   the whole composition one-shot from raw embeddings, so a green row
   proves four persisted tables + an append compose to the single-pass
   plan; ``batch_visible`` certifies the append materially changed the
   answer (operators: operators/similarity.py ivf_pq_index_*).

2. ``ann_ivf_filtered_probe`` — a metadata predicate pushed INTO the
   persistent-index probe.  ``ann_filtered_topk`` (r11) proved
   pre-filter beats post-filter but its pre-filter path was an exact
   scan; its docstring's claim that "the filter composes inside the
   probed cells" had no executed query.  Here the index is written
   ``partitionBy("cell", "label")`` (ivf_index_write_frame's new
   meta/partition columns), so the probe's equi-joins on BOTH keys get
   dynamic partition pruning: the scan reads only (probed cell x target
   label) leaf partitions — the storage-layout form of filtering inside
   the index.  The in-plan verdict compares against the exact filtered
   top-k (the labeled brute baseline): per-query ``exact_hits`` counts
   agreement and ``probe_complete`` certifies every query returned a
   full k among matches in its probed cells.

Reference parity: none (the reference has no embeddings); these close
"What's missing" items 2 and 3 of VERDICT.md r11.
"""

from __future__ import annotations

from os import path as _os_path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import (
    ivf_assign,
    ivf_index_write_frame,
    ivf_pq_index_append,
    ivf_pq_index_probe,
    ivf_pq_index_write_frame,
    pq_subspace_struct,
)
from ..functions.vectors import dot as _dot_hof, norm as _norm_hof
from .llm_round10c import _PQ_CB_MAX, _PQ_M, _PQ_SUB, _sql_l2sq_micro
from .queries import _scratch_dir
from .registry import register
from .r10_shared import (
    R10_IVF_CENTS as _CENT_IDS,
    R10_IVF_CENTS_SQL as _CENT_IDS_SQL,
    R10_IVF_L2 as _L2,
)

_NPROBE = 2
_CAND = 20
_TOPK = 5

_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


@register(
    "ann_ivf_pq_index",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_CENT_IDS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    qs AS (
        SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE vec_id % 10 = 3 AND vec_id < 100
    ),
    ca AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, cid AS cell FROM (
            SELECT e.vec_id AS q_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id % 10 = 3 AND e.vec_id < 100) x
        WHERE r <= {_NPROBE}
    ),
    js AS (SELECT unnest(range(0, {_PQ_M})) AS j),
    cb AS (
        SELECT vec_id AS c, j,
               list_slice(embedding, j * {_PQ_SUB} + 1,
                          j * {_PQ_SUB} + {_PQ_SUB}) AS cvec
        FROM embeddings CROSS JOIN js
        WHERE vec_id < {_PQ_CB_MAX} AND vec_id % 10 <> 3
    ),
    csub AS (
        SELECT vec_id, j,
               list_slice(embedding, j * {_PQ_SUB} + 1,
                          j * {_PQ_SUB} + {_PQ_SUB}) AS svec
        FROM corp CROSS JOIN js
    ),
    enc AS (
        SELECT vec_id, j, c AS code FROM (
            SELECT s.vec_id, s.j, cb.c,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.j
                       ORDER BY {_sql_l2sq_micro('s.svec', 'cb.cvec')}, cb.c
                   ) AS r
            FROM csub s JOIN cb ON cb.j = s.j) x
        WHERE r = 1
    ),
    lut AS (
        SELECT q.q_id, cb.j, cb.c,
               {_sql_l2sq_micro(
                   "list_slice(q.embedding, cb.j * " + str(_PQ_SUB)
                   + " + 1, cb.j * " + str(_PQ_SUB) + " + " + str(_PQ_SUB) + ")",
                   "cb.cvec")} AS dsq
        FROM qs q CROSS JOIN cb
    ),
    adc AS (
        SELECT l.q_id, e.vec_id, sum(l.dsq) AS adc
        FROM enc e
        JOIN ca ON ca.vec_id = e.vec_id
        JOIN qa ON qa.cell = ca.cell
        JOIN lut l ON l.q_id = qa.q_id AND l.j = e.j AND l.c = e.code
        GROUP BY l.q_id, e.vec_id
    ),
    cand AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adc ASC, vec_id) AS r
            FROM adc) x
        WHERE r <= {_CAND}
    ),
    exact AS (
        SELECT cand.q_id, cand.vec_id,
               {_COS4.format(a='e2.embedding', b='q2.embedding')} AS cos
        FROM cand
        JOIN embeddings e2 ON e2.vec_id = cand.vec_id
        JOIN embeddings q2 ON q2.vec_id = cand.q_id
    ),
    topk AS (
        SELECT q_id, vec_id, cos, rank FROM (
            SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rank
            FROM exact) x
        WHERE rank <= {_TOPK}
    )
    SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank,
           vec_id % 10 = 7 AS from_batch,
           (SELECT bool_or(vec_id % 10 = 7) FROM topk) AS batch_visible
    FROM topk ORDER BY q_id, rank
    """,
    doc="Persistent IVF+PQ index — the faiss-IVFPQ layout the r11 scale "
        "ladder measured as the only viable 100 TB shape, actually "
        "STORED: the write persists quantizer + PQ codebook + cell-"
        "partitioned vectors AND the 8-byte codes partitioned by the "
        "SAME cell key (codes derived from the read-back cells, so they "
        "are a projection of exactly the stored vectors); the append "
        "assigns and encodes ONLY the arriving batch against the "
        "persisted quantizer/codebook (arrival cost independent of "
        "index size); the probe is a DPP-pruned integer ADC scan over "
        f"the {_NPROBE} probed cells' codes (per-query MICRO-unit LUT "
        "broadcast, exact integer sums, ties by vec_id) whose top "
        f"{_CAND} candidates are reranked by exact cosine reading ONLY "
        "the survivors' vectors — again cell-pruned, write-time norms. "
        "The oracle replays the whole composition one-shot from raw "
        "embeddings; batch_visible certifies the append materially "
        "changed the top-k (operators/similarity.py ivf_pq_index_*).",
)
def ann_ivf_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter((F.col("vec_id") % 10 != 3) & (F.col("vec_id") % 10 != 7))
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cents = emb.filter(F.col("vec_id").isin(*_CENT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    cb = emb.filter(
        (F.col("vec_id") < _PQ_CB_MAX) & (F.col("vec_id") % 10 != 3)
    ).select(
        F.col("vec_id").alias("c"),
        F.inline(pq_subspace_struct(F.col("embedding"), _PQ_M, _PQ_SUB, out="cvec")),
    )
    path = _os_path.join(_scratch_dir("ann_ivf_pq_index"), "ivf_pq_index")

    # RUN 1: build + persist (quantizer, codebook, cells, cell-keyed codes).
    ivf_pq_index_write_frame(base, path, cents, cb, _PQ_M, _PQ_SUB)
    # RUN 2: incremental arrival — ONLY the batch is assigned + encoded.
    ivf_pq_index_append(spark, path, batch, _PQ_M, _PQ_SUB)
    # RUN 3: probe (fresh reads, no lineage to 1 or 2).
    topk = ivf_pq_index_probe(
        spark, path, queries, _PQ_M, _PQ_SUB,
        k=_TOPK, nprobe=_NPROBE, cand=_CAND, cos_round=4,
    )

    from_batch = (F.col("vec_id") % 10 == 7).alias("from_batch")
    # k x |queries| rows (<=50) — materialized so the batch_visible verdict
    # agg reads the tiny result instead of replaying the probe subtree
    # (the ann_ivf_index_roundtrip replay fix)
    flagged = topk.select("q_id", "vec_id", "cos", "rank", from_batch).localCheckpoint()
    visible = flagged.agg(F.max("from_batch").alias("batch_visible"))
    return flagged.crossJoin(F.broadcast(visible)).orderBy("q_id", "rank")


@register(
    "ann_ivf_filtered_probe",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS q_id, embedding AS qv,
               CAST((vec_id // 10) % 10 AS INT) AS target_label
        FROM embeddings WHERE vec_id % 10 = 3 AND vec_id < 100
    ),
    corp AS (
        SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 <> 3
    ),
    cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_CENT_IDS_SQL}
    ),
    ca AS (
        SELECT vec_id, label, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.label, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, target_label, cid AS cell FROM (
            SELECT q.q_id, q.qv, q.target_label, c.cid,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY {_L2.replace('e.embedding', 'q.qv')},
                                               c.cid) AS r
            FROM qs q CROSS JOIN cents c) x
        WHERE r <= {_NPROBE}
    ),
    probe AS (
        SELECT q_id, target_label, vec_id, cos, rank FROM (
            SELECT qa.q_id, qa.target_label, ca.vec_id,
                   {_COS4.format(a='ca.embedding', b='qa.qv')} AS cos,
                   row_number() OVER (
                       PARTITION BY qa.q_id
                       ORDER BY {_COS4.format(a='ca.embedding', b='qa.qv')} DESC,
                                ca.vec_id) AS rank
            FROM ca JOIN qa ON ca.cell = qa.cell
                           AND ca.label = qa.target_label) x
        WHERE rank <= {_TOPK}
    ),
    exact AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_COS4.format(a='c.embedding', b='q.qv')} DESC,
                                c.vec_id) AS r
            FROM qs q JOIN corp c ON c.label = q.target_label) x
        WHERE r <= {_TOPK}
    ),
    hits AS (
        SELECT probe.q_id,
               CAST(sum(CASE WHEN exact.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS exact_hits,
               count(*) AS returned
        FROM probe LEFT JOIN exact
          ON exact.q_id = probe.q_id AND exact.vec_id = probe.vec_id
        GROUP BY probe.q_id
    ),
    verdict AS (
        SELECT bool_and(returned = {_TOPK}) AS probe_complete FROM hits
    )
    SELECT probe.q_id, probe.target_label, probe.vec_id, probe.cos,
           CAST(probe.rank AS BIGINT) AS rank,
           (exact.vec_id IS NOT NULL) AS in_exact_filtered,
           hits.exact_hits,
           (SELECT probe_complete FROM verdict) AS probe_complete
    FROM probe
    LEFT JOIN exact ON exact.q_id = probe.q_id AND exact.vec_id = probe.vec_id
    JOIN hits ON hits.q_id = probe.q_id
    ORDER BY probe.q_id, rank
    """,
    doc="Metadata predicate pushed INTO the persistent-index probe — the "
        "composition ann_filtered_topk's docstring promised but no query "
        "executed: the IVF index is written partitionBy(cell, label) "
        "(ivf_index_write_frame meta/partition columns), so the probe's "
        "equi-joins on BOTH keys trigger dynamic partition pruning and "
        "the scan reads only the (probed cell x target label) leaf "
        "partitions — the storage-layout form of filtering inside the "
        "index; scoring touches only label matches within probed cells "
        "(write-time norms, 4dp cosine, ties by vec_id). Each of the 10 "
        "queries targets label (q_id // 10) % 10, sweeping all 10 "
        "labels. The in-plan verdict joins the exact filtered top-k "
        "(the labeled brute baseline): in_exact_filtered flags each row, "
        "exact_hits counts per-query agreement, and probe_complete "
        "certifies every query returned a full k among matches in its "
        "probed cells.",
)
def ann_ivf_filtered_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    qv = (
        emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            ((F.col("vec_id") / 10).cast("long") % 10).cast("int").alias(
                "target_label"
            ),
        )
        .localCheckpoint()  # 10 rows: assignment, probe join, exact baseline
    )
    cents = emb.filter(F.col("vec_id").isin(*_CENT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    path = _os_path.join(_scratch_dir("ann_ivf_filtered_probe"), "ivf_labeled_index")

    # RUN 1: persist the index with label as a SECOND partition key — the
    # predicate becomes a physical pruning axis, not a post-scan filter.
    ivf_index_write_frame(
        corpus, path, cents,
        meta_cols=("label",), partition_cols=("cell", "label"),
    )

    # RUN 2: probe (fresh reads). Both join keys are partition columns of
    # the cells table, so DPP restricts the scan to nprobe x 1 leaves.
    cents_p = spark.read.parquet(path + "/centroids").select(
        "cid", F.col("cent").alias("_cent")
    )
    qa = ivf_assign(
        qv.select("q_id", "target_label", F.col("qv").alias("_qv")),
        cents_p,
        "q_id",
        _NPROBE,
        vec_col="_qv",
    ).withColumn("_qn", _norm_hof(F.col("_qv")))
    cells = spark.read.parquet(path + "/cells")
    denom = F.col("vnorm") * F.col("_qn")
    cos = F.when(
        denom > 0, _dot_hof(F.col("embedding"), F.col("_qv")) / denom
    ).otherwise(F.lit(0.0))
    w_p = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    probe = (
        cells.join(
            F.broadcast(qa),
            (cells["cell"] == qa["cell"])
            & (cells["label"] == qa["target_label"]),
        )
        .withColumn("cos", F.round(cos, 4))
        .withColumn("rank", F.row_number().over(w_p).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
        .select("q_id", "target_label", "vec_id", "cos", "rank")
    )

    # Exact filtered top-k (the labeled brute baseline of ann_filtered_topk)
    dot_cos = F.round(
        _dot_hof(F.col("embedding"), F.col("qv"))
        / (_norm_hof(F.col("embedding")) * _norm_hof(F.col("qv"))),
        4,
    )
    w_e = Window.partitionBy("q_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    exact = (
        corpus.join(F.broadcast(qv), corpus["label"] == qv["target_label"])
        .select("q_id", "vec_id", dot_cos.alias("_cos"))
        .withColumn("r", F.row_number().over(w_e))
        .filter(F.col("r") <= _TOPK)
        .select("q_id", "vec_id", F.lit(True).alias("_hit"))
    )

    # <=50 rows — materialize so the verdict aggs read the tiny frame
    # instead of replaying the probe subtree (the roundtrip precedent)
    flagged = (
        probe.join(F.broadcast(exact), ["q_id", "vec_id"], "left")
        .select(
            "q_id", "target_label", "vec_id", "cos", "rank",
            F.coalesce("_hit", F.lit(False)).alias("in_exact_filtered"),
        )
        .localCheckpoint()
    )
    hits = flagged.groupBy("q_id").agg(
        F.sum(F.col("in_exact_filtered").cast("int")).cast("bigint").alias("exact_hits"),
        F.count("*").alias("_returned"),
    )
    verdict = hits.agg(F.min(F.col("_returned") == _TOPK).alias("probe_complete"))
    return (
        flagged.join(F.broadcast(hits.select("q_id", "exact_hits")), "q_id")
        .crossJoin(F.broadcast(verdict))
        .select(
            "q_id", "target_label", "vec_id", "cos", "rank",
            "in_exact_filtered", "exact_hits", "probe_complete",
        )
        .orderBy("q_id", "rank")
    )
