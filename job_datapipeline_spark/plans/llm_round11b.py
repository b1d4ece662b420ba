"""Round-11 second batch: IVF+PQ hybrid ANN (the faiss IVFPQ shape).

Round 10 certified the two halves separately: IVF coarse quantization
restricts WHERE a query looks (``ann_ivf_topk`` / the persistent index
family — probe reads nprobe cell partitions), and product quantization
restricts WHAT the scan reads per candidate (``ann_pq_adc_topk`` —
8-byte codes + a broadcast integer LUT instead of 256-byte float
vectors).  This query composes them into the index structure that is
the 100 TB vector-serving default (faiss ``IVFxx,PQ8``): the ADC scan
runs ONLY over the codes of the query's nprobe probed cells, so cost
per query is (corpus/k_cells x nprobe) code-rows x 8 LUT adds — both
reductions multiply, neither half's verdict is weakened (exact-cosine
rerank of the ADC top candidates, in-plan recall flag vs brute force).

Integer discipline as in ann_pq_adc_topk: LUT entries are MICRO-unit
bigints, ADC sums exact integer arithmetic, ties by vec_id — bit-
identical on any engine.  Assignment/encode both reuse the certified
devices (operators/similarity.ivf_assign; the r10c corpus-only
codebook convention), so hybrid and standalone paths cannot drift.

100 TB shape: cells are the persisted partition layout (the roundtrip
family), codes live NEXT TO the cell partitions (32x smaller than the
floats), the LUT is |Q| x 128 rows broadcast; the brute-force recall
branch is the labeled small-scale verification baseline, exactly as in
ann_pq_adc_topk.  Reference parity: none (no embeddings in the
reference); extends the similarity family mandated by the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import ivf_assign
from .llm_round10c import _PQ_CB_MAX, _PQ_M, _PQ_SUB, _sql_l2sq_micro
from .registry import register
from .r10_shared import (
    R10_IVF_CENTS as _CENT_IDS,
    R10_IVF_CENTS_SQL as _CENT_IDS_SQL,
    R10_IVF_L2 as _L2,
)

_NPROBE = 2
_CAND = 20
_TOPK = 5


@register(
    "ann_ivf_pq_topk",
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
               round(list_dot_product(e2.embedding, q2.embedding) /
                     (sqrt(list_dot_product(e2.embedding, e2.embedding)) *
                      sqrt(list_dot_product(q2.embedding, q2.embedding))), 4)
                   AS cos
        FROM cand
        JOIN embeddings e2 ON e2.vec_id = cand.vec_id
        JOIN embeddings q2 ON q2.vec_id = cand.q_id
    ),
    rer AS (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM exact
    ),
    brute AS (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, e3.vec_id,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_dot_product(e3.embedding, q.embedding) /
                                (sqrt(list_dot_product(e3.embedding, e3.embedding)) *
                                 sqrt(list_dot_product(q.embedding, q.embedding)))
                           DESC, e3.vec_id) AS r
            FROM corp e3 CROSS JOIN qs q) x
        WHERE r <= {_TOPK}
    )
    SELECT rer.q_id, rer.vec_id, rer.cos, CAST(rer.rank AS BIGINT) AS rank,
           (brute.vec_id IS NOT NULL) AS in_exact_topk
    FROM rer LEFT JOIN brute
      ON brute.q_id = rer.q_id AND brute.vec_id = rer.vec_id
    WHERE rer.rank <= {_TOPK}
    ORDER BY rer.q_id, rank
    """,
    doc="IVF+PQ hybrid ANN (the faiss IVFPQ composition, the 100 TB "
        f"vector-serving default): queries probe their {_NPROBE} nearest "
        "IVF cells (the certified ivf_assign device) and the integer ADC "
        "scan runs ONLY over the PQ codes of those cells' members — the "
        "two reductions multiply (nprobe/k_cells of the corpus x 32x "
        "smaller rows). Encode/LUT reuse the ann_pq_adc_topk convention "
        "(corpus-only codebook, MICRO-unit bigint distances, exact "
        f"integer sums, ties by vec_id); the top {_CAND} ADC candidates "
        f"per query are reranked by exact cosine and the final top {_TOPK} "
        "carry an in-plan recall flag against the brute-force exact "
        "top-k (the labeled small-scale verification baseline).",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    qv = (
        emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
        .localCheckpoint()  # 10-row query frame: assignment, LUT, rerank, brute
    )
    cents = (
        emb.filter(F.col("vec_id").isin(*_CENT_IDS))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent"))
        .localCheckpoint()  # 8 rows; feeds 2 assignments + their guards
    )

    # IVF half: corpus cell assignment + query multi-probe (shared device)
    ca = ivf_assign(
        corpus.select("vec_id", F.col("embedding").alias("_v")), cents, "vec_id", 1
    ).select("vec_id", "cell")
    qa = ivf_assign(
        qv.select("q_id", F.col("qvec").alias("_qv")),
        cents,
        "q_id",
        _NPROBE,
        vec_col="_qv",
    ).select("q_id", "cell")

    # PQ half: corpus-only codebook, min_by encode, per-query integer LUT
    subspaces = F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            F.slice("embedding", j * _PQ_SUB + 1, _PQ_SUB).alias("svec"),
        )
        for j in range(_PQ_M)
    ])
    cb = (
        emb.filter((F.col("vec_id") < _PQ_CB_MAX) & (F.col("vec_id") % 10 != 3))
        .select(F.col("vec_id").alias("c"), F.inline(subspaces))
        .withColumnRenamed("svec", "cvec")
        .localCheckpoint()
    )

    def l2sq_micro(a, b):
        diffs = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
        s = F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)
        return F.round(s * 1_000_000.0, 0).cast("bigint")

    csub = corpus.select("vec_id", F.inline(subspaces))
    enc = (
        csub.join(F.broadcast(cb), "j")
        .select(
            "vec_id", "j", "c",
            l2sq_micro(F.col("svec"), F.col("cvec")).alias("_d"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min_by("c", F.struct("_d", "c")).alias("code"))
    )
    qsub = qv.select(
        "q_id",
        F.inline(F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("qvec", j * _PQ_SUB + 1, _PQ_SUB).alias("qsvec"),
            )
            for j in range(_PQ_M)
        ])),
    )
    lut = qsub.join(F.broadcast(cb), "j").select(
        "q_id", "j", "c", l2sq_micro(F.col("qsvec"), F.col("cvec")).alias("dsq")
    )

    # The hybrid join: codes restricted to the query's probed cells.
    # (q_id, cell) x LUT is a tiny broadcast (|Q| x nprobe x 128 rows);
    # the stream side is the cell-keyed code table — at 100 TB the codes
    # are stored partitioned by cell next to the vectors, so this join
    # IS the partition-pruned scan of the roundtrip family.
    lutq = lut.join(F.broadcast(qa), "q_id")  # (q_id, j, c, dsq, cell)
    encc = enc.join(ca, "vec_id")  # (vec_id, j, code, cell)
    adc = (
        encc.join(
            F.broadcast(lutq),
            (encc["cell"] == lutq["cell"])
            & (encc["j"] == lutq["j"])
            & (encc["code"] == lutq["c"]),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dsq").alias("adc"))
    )
    w_a = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    cand = (
        adc.withColumn("r", F.row_number().over(w_a))
        .filter(F.col("r") <= _CAND)
        .select("q_id", "vec_id")
    )

    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = lambda a, b: dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))  # noqa: E731
    exact = (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id", "vec_id",
            F.round(cos(F.col("embedding"), F.col("qvec")), 4).alias("cos"),
        )
    )
    w_r = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    rer = (
        exact.withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )
    brute = (
        corpus.join(F.broadcast(qv))
        .select(
            "q_id", "vec_id",
            cos(F.col("embedding"), F.col("qvec")).alias("_c"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("_c"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("r") <= _TOPK)
        .select("q_id", "vec_id", F.lit(True).alias("_hit"))
    )
    return (
        rer.join(F.broadcast(brute), ["q_id", "vec_id"], "left")
        .select(
            "q_id", "vec_id", "cos", "rank",
            F.coalesce("_hit", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("q_id", "rank")
    )
