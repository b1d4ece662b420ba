"""Vector search and embedding analytics: exact cosine top-k, LSH and
IVF probes, scalar and product quantization with exact rerank, the
persisted IVF / IVF+PQ indexes (write, append, probe, filtered probe,
trained quantizer), MMR re-ranking, k-means refinement, mean pooling,
Gram matrices, isotropy, PCA and Matryoshka truncation.

Distances are rounded to 6 dp (or to integer micro-units for ADC sums)
before ranking, so top-k sets agree across engines.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

from os import path as _os_path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.vectors import cosine
from ..functions.vectors import dot as _dot_hof
from ..functions.vectors import norm as _norm_hof
from ..operators.similarity import (
    ivf_assign,
    ivf_index_append,
    ivf_index_probe,
    ivf_index_write,
    ivf_index_write_frame,
    ivf_pq_index_append,
    ivf_pq_index_probe,
    ivf_pq_index_write_frame,
    l2sq_micro,
    pq_subspace_struct,
)
from ..operators.similarity import ivf_topk as _ivf_topk
from ..operators.similarity import lsh_topk as _lsh_topk
from .common import (
    ANN_DIM,
    ANN_PLANES,
    IVF_CENTS,
    IVF_CENTS_SQL,
    IVF_L2,
    scratch_dir,
    sql_bucket,
)
from .registry import register


def _cos_unguarded(a, b):
    """Cosine as dot / (norm * norm), no zero-norm guard (unlike
    ``functions.vectors.cosine``): the form every ANN oracle here writes."""
    return _dot_hof(a, b) / (_norm_hof(a) * _norm_hof(b))


def _rerank_recall(emb, cand, qv, brute_pairs, k: int, qcol: str) -> DataFrame:
    """Exact-cosine rerank of approximate candidates with an in-plan recall
    flag — the tail shared by the SQ8 and PQ families.

    ``cand`` (q_id, vec_id) joins the broadcast query frame ``qv`` (q_id,
    ``qcol``); the top ``k`` by rounded cosine (ties by vec_id) carry
    ``in_exact_topk`` against the brute-force exact top ``k`` over
    ``brute_pairs`` (the corpus x query pairs, with embedding and ``qcol``).
    Output: (q_id, vec_id, cos, rank, in_exact_topk)."""
    exact = (
        emb.join(F.broadcast(cand), "vec_id")  # cand is <= |Q| x CAND rows: never shuffle the corpus
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id", "vec_id",
            F.round(_cos_unguarded(F.col("embedding"), F.col(qcol)), 4).alias("cos"),
        )
    )
    w_r = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    rer = (
        exact.withColumn("rank", F.row_number().over(w_r).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
    brute = (
        brute_pairs.select(
            "q_id", "vec_id",
            _cos_unguarded(F.col("embedding"), F.col(qcol)).alias("_c"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("_c"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("r") <= k)
        .select("q_id", "vec_id", F.lit(True).alias("_hit"))
    )
    return (
        rer.join(F.broadcast(brute), ["q_id", "vec_id"], "left")
        .select(
            "q_id", "vec_id", "cos", "rank",
            F.coalesce("_hit", F.lit(False)).alias("in_exact_topk"),
        )
    )


# ---------------------------------------------------------------------------
# Embeddings: similarity surface
# ---------------------------------------------------------------------------

@register(
    "ann_cosine_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
             SELECT q.q_id, e.vec_id,
                    round(list_dot_product(e.embedding, q.qv) /
                          (sqrt(list_dot_product(e.embedding, e.embedding)) *
                           sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos
             FROM embeddings e CROSS JOIN q
             WHERE e.vec_id != q.q_id
         )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 neighbors for 5 query vectors — the exact "
        "ANN baseline; corpus scan is one broadcast-joined codegen stage.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(cosine(F.col("embedding"), F.col("qv")), 4))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos", "rank")
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH c AS (SELECT vec_id, embedding, {sql_bucket('embedding')} AS bucket FROM embeddings),
    q AS (SELECT vec_id AS q_id, embedding AS qv, {sql_bucket('embedding')} AS bucket
          FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.q_id, c.vec_id,
               round(list_dot_product(c.embedding, q.qv) /
                     (sqrt(list_dot_product(c.embedding, c.embedding)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        FROM c JOIN q USING (bucket)
    )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
    doc="Hyperplane-LSH ANN top-5: bucket by 8 sign-of-dot bits, exact "
        "cosine only within the query's bucket. At 100 TB the corpus is "
        "written partitioned by bucket so a query touches one partition; "
        "here the oracle replays the same deterministic planes as literals.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return _lsh_topk(emb, q, k=5, num_planes=ANN_PLANES, dim=ANN_DIM)


# ---------------------------------------------------------------------------
# IVF ANN: the data-adaptive counterpart of the hyperplane-LSH path. The
# oracle replays centroid assignment (L2 argmin with double-cast element
# math, rounded to 6 before ranking) and in-cell cosine scoring in SQL.
# ---------------------------------------------------------------------------


_IVF_CENTS = "(0, 7, 14, 21, 28, 35, 42, 49)"
_IVF_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    "FOR i IN range(1, 65)])), 6)"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_IVF_CENTS}
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 5) x
        WHERE r <= 2
    ),
    scored AS (
        SELECT qa.q_id, ca.vec_id,
               round(list_dot_product(ca.embedding, qa.qv) /
                     (sqrt(list_dot_product(ca.embedding, ca.embedding)) *
                      sqrt(list_dot_product(qa.qv, qa.qv))), 4) AS cos
        FROM ca JOIN qa USING (cell)
    )
    SELECT q_id, vec_id, cos, rank FROM (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored) x
    WHERE rank <= 5
    """,
    doc="IVF ANN top-5: corpus vectors assigned to their nearest of 8 "
        "fixed-id centroids (L2 argmin, deterministic ties), queries probe "
        "their 2 nearest cells, exact cosine only within probed cells. At "
        "100 TB the corpus is written partitioned by cell; a query reads "
        "nprobe partitions.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding")
    )
    return _ivf_topk(emb, q, k=5, nprobe=2, cos_round=4)


_IVF_CENT_IDS = (0, 7, 14, 21, 28, 35, 42, 49)
_KM_DIM = 64
_KM_MEAN_COMPONENTS = ", ".join(
    f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)" for i in range(1, _KM_DIM + 1)
)
_KM_L2 = (
    "round(sqrt(list_sum(["
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) * "
    "(CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)) "
    f"FOR i IN range(1, {_KM_DIM + 1})])), 6)"
)


@register(
    "embedding_kmeans_refine",
    oracle=f"""
    WITH cents0 AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {_IVF_CENTS}),
    a1 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_KM_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents0 c) x
        WHERE r = 1),
    cent1 AS (
        SELECT cell AS cid, [{_KM_MEAN_COMPONENTS}] AS cent
        FROM a1
        GROUP BY cell),
    a2 AS (
        SELECT vec_id, cid AS cell, d FROM (
            SELECT e.vec_id, c.cid, {_KM_L2} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_KM_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cent1 c) x
        WHERE r = 1),
    agg AS (
        SELECT cell, count(*) AS n_vecs, round(avg(d), 4) AS mean_dist
        FROM a2 GROUP BY cell)
    SELECT agg.cell, agg.n_vecs,
           round(list_sum(cent1.cent), 4) AS centroid_checksum,
           agg.mean_dist
    FROM agg JOIN cent1 ON agg.cell = cent1.cid
    """,
    doc="One Lloyd k-means iteration as a DECLARATIVE plan — the centroid "
        "refinement ann_ivf_topk's coarse quantizer points at "
        "(operators/similarity.py ivf_topk doc): assign every vector to "
        "its nearest seed centroid (broadcast + window argmin, rounded "
        "distances, ties by centroid id), recompute centroids as "
        "componentwise means (ONE hash aggregate with 64 avg "
        "accumulators — no explode, no UDF), round components to 6dp so "
        "both engines reassign from identical centroids, then reassign "
        "and report per-cell population, centroid checksum, and mean "
        "distance. 100 TB shape: each iteration is one corpus scan with "
        "broadcast centroids; iterations chain with a checkpoint at each "
        "boundary, exactly how Spark MLlib's KMeans structures it.",
)
def embedding_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents0 = emb.filter(F.col("vec_id").isin(*_IVF_CENT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent")
    )
    base = emb.select("vec_id", F.col("embedding").alias("_v"))

    def assign(cents: DataFrame) -> DataFrame:
        from ..functions.vectors import l2_distance as _l2

        d = F.round(_l2(F.col("_v"), F.col("_cent")), 6)
        w = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("cid"))
        return (
            base.join(F.broadcast(cents))
            .withColumn("_d", d)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("vec_id", "_v", F.col("cid").alias("cell"), "_d")
        )

    a1 = assign(cents0)
    cent1 = (
        a1.groupBy("cell")
        .agg(
            *[
                F.round(F.avg(F.col("_v")[i].cast("double")), 6).alias(f"_c{i}")
                for i in range(_KM_DIM)
            ]
        )
        .select(
            F.col("cell").alias("cid"),
            F.array(*[f"_c{i}" for i in range(_KM_DIM)]).alias("_cent"),
        )
    )
    a2 = assign(cent1)
    per_cell = a2.groupBy("cell").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("_d"), 4).alias("mean_dist"),
    )
    checksum = cent1.select(
        F.col("cid").alias("cell"),
        F.round(
            F.aggregate("_cent", F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("centroid_checksum"),
    )
    return per_cell.join(F.broadcast(checksum), "cell").select(
        "cell", "n_vecs", "centroid_checksum", "mean_dist"
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN with exact rerank
# ---------------------------------------------------------------------------

_SQ8_NQ = 5        # query vectors: vec_id < 5
_SQ8_CAND = 20     # quantized candidates per query fed to the exact rerank
_SQ8_TOPK = 5


@register(
    "ann_sq8_rerank",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    dim AS (
        SELECT pos, min(v) AS lo, max(v) AS hi FROM e GROUP BY pos
    ),
    codes AS (
        SELECT e.vec_id, e.pos,
               CASE WHEN dim.hi = dim.lo THEN 0
                    ELSE CAST(floor((CAST(e.v AS DOUBLE) - CAST(dim.lo AS DOUBLE))
                              * 255.0 / (CAST(dim.hi AS DOUBLE) - CAST(dim.lo AS DOUBLE)))
                         AS BIGINT)
               END AS code
        FROM e JOIN dim ON dim.pos = e.pos
    ),
    qc AS (SELECT vec_id AS q_id, pos, code FROM codes WHERE vec_id < {_SQ8_NQ}),
    approx AS (
        SELECT qc.q_id, c.vec_id, sum((c.code - 128) * (qc.code - 128)) AS adot
        FROM codes c JOIN qc ON qc.pos = c.pos AND c.vec_id != qc.q_id
        GROUP BY qc.q_id, c.vec_id
    ),
    cand AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adot DESC, vec_id) AS r
            FROM approx) x
        WHERE r <= {_SQ8_CAND}
    ),
    exact AS (
        SELECT cand.q_id, cand.vec_id,
               round(list_dot_product(e2.embedding, q2.embedding) /
                     (sqrt(list_dot_product(e2.embedding, e2.embedding)) *
                      sqrt(list_dot_product(q2.embedding, q2.embedding))), 4) AS cos
        FROM cand
        JOIN embeddings e2 ON e2.vec_id = cand.vec_id
        JOIN embeddings q2 ON q2.vec_id = cand.q_id
    ),
    rer AS (
        SELECT q_id, vec_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM exact
    ),
    brute AS (
        SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, e3.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(e3.embedding, q.embedding) /
                                (sqrt(list_dot_product(e3.embedding, e3.embedding)) *
                                 sqrt(list_dot_product(q.embedding, q.embedding))) DESC,
                                e3.vec_id) AS r
            FROM embeddings e3 CROSS JOIN embeddings q
            WHERE q.vec_id < {_SQ8_NQ} AND e3.vec_id != q.vec_id) x
        WHERE r <= {_SQ8_TOPK}
    )
    SELECT rer.q_id, rer.vec_id, rer.cos, rer.rank,
           (brute.vec_id IS NOT NULL) AS in_exact_topk
    FROM rer LEFT JOIN brute
      ON brute.q_id = rer.q_id AND brute.vec_id = rer.vec_id
    WHERE rer.rank <= {_SQ8_TOPK}
    """,
    doc="Scalar-quantized (SQ8, faiss-style) ANN with exact rerank: each "
        "dimension is linearly quantized to an 8-bit code against the "
        "corpus per-dimension min/max, candidate generation scores "
        "INTEGER dot products of CENTERED codes ((c-128), cancelling the "
        "affine shift so the integer score tracks the true inner product "
        "of these unit-norm embeddings == cosine; uncentered codes rank "
        "by Sum(v_d)+const and recall collapses — measured 4% vs 100%). "
        "Exact bigint sums are bit-identical on any engine; the top "
        f"{_SQ8_CAND} per query are reranked by "
        f"exact cosine, and the final top {_SQ8_TOPK} carry an in-plan "
        "recall flag against the brute-force exact top-k. The one float "
        "step (floor of the affine code map) is double-precision IEEE on "
        "both engines. 100 TB shape: the codes table is 4-16x smaller "
        "than the float corpus and the integer dot is SIMD-friendly; "
        "candidate generation reads ONLY codes (one narrow shuffle per "
        "query batch), the float vectors are touched for "
        f"{_SQ8_CAND} rows per query in the rerank — the standard "
        "quantize-then-rerank recall/cost trade, here measured by the "
        "recall flag itself.",
)
def ann_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # (vec_id, pos, v) exploded once; feeds dim stats AND code assembly
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "v").localCheckpoint()
    dim = e.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    codes = (
        e.join(F.broadcast(dim), "pos")
        .select(
            "vec_id",
            "pos",
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
            .otherwise(
                F.floor(
                    (F.col("v").cast("double") - F.col("lo").cast("double"))
                    * 255.0
                    / (F.col("hi").cast("double") - F.col("lo").cast("double"))
                ).cast("bigint")
            )
            .alias("code"),
        )
        .localCheckpoint()  # feeds the query-side slice and the corpus side
    )
    qc = codes.filter(F.col("vec_id") < _SQ8_NQ).select(
        F.col("vec_id").alias("q_id"), "pos", F.col("code").alias("qcode")
    )
    approx = (
        codes.join(F.broadcast(qc), ["pos"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum((F.col("code") - 128) * (F.col("qcode") - 128)).alias("adot"))
    )
    w_a = Window.partitionBy("q_id").orderBy(F.desc("adot"), F.asc("vec_id"))
    cand = (
        approx.withColumn("r", F.row_number().over(w_a))
        .filter(F.col("r") <= _SQ8_CAND)
        .select("q_id", "vec_id")
    )
    qv = (
        emb.filter(F.col("vec_id") < _SQ8_NQ)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
        .localCheckpoint()  # 5-row query frame, consumed by rerank AND brute verify
    )
    return _rerank_recall(
        emb, cand, qv,
        emb.join(F.broadcast(qv), F.col("vec_id") != F.col("q_id")),
        _SQ8_TOPK, "qv",
    )


# ---------------------------------------------------------------------------
# Embedding mean-pooling
# ---------------------------------------------------------------------------
#
# Embedding mean-pooling: per-group element-wise mean vector — the
# chunk→document / cluster→centroid pooling step between embedding
# generation and ANN indexing.

@register(
    "embedding_mean_pool",
    oracle="""
    WITH comps AS (
        -- parallel unnests in one SELECT zip positionally in DuckDB
        SELECT label,
               unnest(range(len(embedding))) AS pos,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
                   AS micro
        FROM embeddings
    )
    SELECT label, pos,
           count(*) AS n,
           CAST(sum(micro) AS BIGINT) AS sum_micro,
           CAST(floor(sum(micro) / count(*)) AS BIGINT) AS mean_micro
    FROM comps
    GROUP BY label, pos
    """,
    doc="Per-group element-wise mean vector (mean-pooling): the "
        "chunk->document / cluster->centroid pooling step between "
        "embedding generation and ANN indexing (operators/similarity.py "
        "consumes such centroids for IVF). Plan: posexplode to "
        "(label, dim) components, ONE partial-aggregated groupBy — "
        "shuffle volume is O(groups x dims), independent of vector "
        "count, because the map-side combine collapses each task to "
        "its local per-(label, dim) sums. Float discipline: each "
        "float32 component is converted to integer MICRO-UNITS "
        "before summing, so the group "
        "sum is an exact bigint on both engines regardless of "
        "accumulation order (float sums are order-dependent; integer "
        "sums commute), and the mean is floor(exact_sum / n) — "
        "bit-identical cross-engine. At 100 TB this is the only safe "
        "way to compare pooled centroids across engine versions at all.",
)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "label",
        "pos",
        F.round(F.col("val").cast("double") * 1000000).cast("bigint").alias("micro"),
    )
    return comps.groupBy("label", "pos").agg(
        F.count("*").alias("n"),
        F.sum("micro").cast("bigint").alias("sum_micro"),
        F.floor(F.sum("micro") / F.count("*")).cast("bigint").alias("mean_micro"),
    )


# ---------------------------------------------------------------------------
# Embedding Gram matrix
# ---------------------------------------------------------------------------
#
# Embedding Gram matrix (upper triangle of the first 16 components):
# component values quantized to micro ints, pairwise products summed
# as EXACT bigints — the order-free formulation of the covariance
# accumulation every PCA/whitening pass needs, with the 100 TB
# overflow ceiling documented.

_GRAM_DIMS = 16  # upper triangle of the first 16 components: 136 cells


@register(
    "embedding_gram_matrix",
    oracle=f"""
    WITH q AS (
        SELECT list_transform(embedding[1:{_GRAM_DIMS}],
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    idx AS (
        SELECT i.i AS i, j.j AS j
        FROM generate_series(1, {_GRAM_DIMS}) i(i),
             generate_series(1, {_GRAM_DIMS}) j(j)
        WHERE i.i <= j.j
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(sum(qv[i] * qv[j]) AS BIGINT) AS gram_micro2,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM q CROSS JOIN idx
    GROUP BY i, j ORDER BY i, j
    """,
    doc=f"Embedding Gram matrix — the upper triangle (i<=j) of "
        f"sum(x_i * x_j) over the first {_GRAM_DIMS} components: the "
        "second-moment accumulation every PCA / whitening / linear-"
        "probe pass needs before any eigen step (the d x d eigensolve "
        "itself is a driver-side O(d^3) on a matrix this query has "
        "already shrunk to kilobytes). Components quantize to micro "
        "ints FIRST (float->double is exact, one deterministic round), "
        "so the products and their sums are EXACT bigints — the "
        "order-free formulation that makes the accumulation partition-"
        "invariant, where a double dot-product sum would drift with "
        "shuffle order. Ceiling: |x|<=0.5 -> products <=2.5e11, int64 "
        "holds ~3.7e7 vectors per cell; beyond that, decimal(38) "
        "accumulators or per-shard partial Grams merged exactly. The "
        "100 TB shape: each vector expands to the 136-cell index frame "
        "via a BROADCAST nested loop (no shuffle of the fact side), "
        "partial aggregation collapses everything map-side onto 136 "
        "keys, and one tiny exchange finishes — the same plan at any "
        "scale.",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            F.slice("embedding", 1, _GRAM_DIMS),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("qv")
    )
    idx = (
        spark.range(1, _GRAM_DIMS + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _GRAM_DIMS + 1).select(F.col("id").alias("j")))
        .filter(F.col("i") <= F.col("j"))
    )
    return (
        q.crossJoin(F.broadcast(idx))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.element_at("qv", F.col("i").cast("int"))
                * F.element_at("qv", F.col("j").cast("int"))
            )
            .cast("bigint")
            .alias("gram_micro2"),
            F.count("*").cast("bigint").alias("n_vecs"),
        )
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# MMR diverse top-k
# ---------------------------------------------------------------------------
#
# MMR (Maximal Marginal Relevance) diverse top-k re-ranking — the
# retrieval-diversification pass every RAG stack runs between ANN
# recall and the prompt: fetch a candidate pool by relevance, then
# GREEDILY select k items maximizing relevance MINUS the max
# similarity to anything already selected (lambda = 1/2, where the
# two weights cancel into an integer difference). The greedy loop is
# a k-step LEFT FOLD whose accumulator is the selected-id list; every
# relevance and pairwise similarity is an EXACT quantized bigint dot
# product, so the argmax at each step (max over (score, -id) structs)
# is integer-deterministic and both engines replay the identical
# selection.

_MMR_POOL = 12  # candidate pool from the relevance pass
_MMR_K = 5  # diverse picks


@register(
    "ann_mmr_diverse_topk",
    oracle=f"""
    WITH mn AS (SELECT min(vec_id) AS qid FROM embeddings),
    q AS (
        SELECT list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings, mn WHERE vec_id = mn.qid
    ),
    vecs AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS vv
        FROM embeddings, mn WHERE vec_id <> mn.qid
    ),
    rel AS (
        SELECT vec_id, vv,
               CAST(list_sum(list_transform(list_zip(vv, q.qv),
                                            s -> s[1] * s[2])) AS BIGINT)
                   AS rel
        FROM vecs, q
    ),
    pool AS (
        SELECT vec_id, vv, rel,
               row_number() OVER (ORDER BY rel DESC, vec_id) AS idx
        FROM rel
        ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
    ),
    sims AS (
        SELECT a.idx AS i,
               list(CAST(list_sum(list_transform(list_zip(a.vv, b.vv),
                                                 s -> s[1] * s[2]))
                         AS BIGINT) ORDER BY b.idx) AS srow
        FROM pool a, pool b
        GROUP BY a.idx
    ),
    cands AS (
        SELECT list(struct_pack(idx := CAST(p.idx AS BIGINT),
                                rel := p.rel,
                                sims := s.srow) ORDER BY p.idx) AS cl
        FROM pool p JOIN sims s ON s.i = p.idx
    ),
    folded AS (
        SELECT cl,
               list_reduce(
                   [CAST([] AS BIGINT[]){(", []" * _MMR_K)}],
                   (acc, x) -> list_append(acc,
                       -struct_extract(list_max(list_transform(
                           list_filter(cl, c -> NOT list_contains(acc,
                                                                  c.idx)),
                           c -> struct_pack(
                               score := c.rel - coalesce(
                                   list_max(list_transform(acc,
                                       j -> c.sims[CAST(j AS INT)])),
                                   CAST(0 AS BIGINT)),
                               negidx := -c.idx))), 'negidx'))) AS sel
        FROM cands
    )
    SELECT CAST(t AS BIGINT) AS rank,
           p.vec_id, p.rel AS rel_micro2,
           CAST(p.idx AS BIGINT) AS pool_idx
    FROM (SELECT sel, unnest(generate_series(1, len(sel))) AS t
          FROM folded) u
    JOIN pool p ON p.idx = u.sel[u.t]
    ORDER BY rank
    """,
    doc=f"MMR diverse top-{_MMR_K} re-ranking over a {_MMR_POOL}-"
        "candidate relevance pool (query = the lowest vec_id; pool = "
        "top dot products with a vec_id tiebreak) — the retrieval-"
        "diversification pass every RAG stack runs between ANN recall "
        "and the prompt, here with lambda = 1/2 so MMR's two weights "
        "cancel into the INTEGER objective rel(i) - max_sim(i, "
        "selected). The greedy loop is a k-step left fold (Spark "
        "F.aggregate over a sequence; oracle list_reduce with a "
        "prepended typed-empty-list init) whose accumulator is the "
        "selected-id list; at each step the argmax is an array_max "
        "over (score, -idx) structs — exact quantized-bigint dot "
        "products everywhere, so both engines replay the identical "
        "greedy trajectory bit-for-bit. The 100 TB shape: the "
        "expensive part is the RELEVANCE pass, which is the existing "
        "ANN family's scan (brute/LSH/IVF all slot in); the MMR fold "
        "touches only the k x pool similarity matrix — constant-size "
        "state that lives comfortably in one task, per query, for "
        "thousands of concurrent queries (group the fold by query "
        "id).",
)
def ann_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("vv"),
    ).localCheckpoint()  # feeds the query row AND the corpus side
    qid = quant.agg(F.min("vec_id").alias("qid"))
    q = (
        quant.join(F.broadcast(qid), quant.vec_id == qid.qid)
        .select(F.col("vv").alias("qv"))
    )
    rel = (
        quant.join(F.broadcast(qid), quant.vec_id == qid.qid, "anti")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "vv",
            F.aggregate(
                F.zip_with("vv", "qv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("rel"),
        )
    )
    pool = (
        rel.orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy(F.col("rel").desc(), "vec_id")),
        )
        .localCheckpoint()  # feeds sims (twice) AND the final join
    )
    a = pool.select(F.col("idx").alias("i"), F.col("vv").alias("va"))
    b = pool.select(F.col("idx").alias("j"), F.col("vv").alias("vb"))
    sims = (
        a.crossJoin(b)
        .select(
            "i",
            "j",
            F.aggregate(
                F.zip_with("va", "vb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("sim"),
        )
        .groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "sim"))),
                lambda s: s["sim"],
            ).alias("srow")
        )
    )
    cands = (
        pool.join(sims, pool.idx == sims.i)
        .select(
            F.struct(
                F.col("idx").cast("bigint").alias("idx"),
                F.col("rel").alias("rel"),
                F.col("srow").alias("sims"),
            ).alias("c")
        )
        .agg(F.array_sort(F.collect_list("c")).alias("cl"))
    )
    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MMR_K)),
        F.array().cast("array<long>"),
        lambda acc, _x: F.array_append(
            acc,
            -F.array_max(
                F.transform(
                    F.filter(
                        F.col("cl"), lambda c: ~F.array_contains(acc, c["idx"])
                    ),
                    lambda c: F.struct(
                        (
                            c["rel"]
                            - F.coalesce(
                                F.array_max(
                                    F.transform(
                                        acc,
                                        lambda j: F.element_at(
                                            c["sims"], j.cast("int")
                                        ),
                                    )
                                ),
                                F.lit(0).cast("long"),
                            )
                        ).alias("score"),
                        (-c["idx"]).alias("negidx"),
                    ),
                )
            )["negidx"],
        ),
    )
    folded = cands.select(sel.alias("sel"))
    ranked = folded.select(
        F.posexplode("sel").alias("rank0", "pidx")
    ).select((F.col("rank0") + 1).cast("bigint").alias("rank"), "pidx")
    return (
        ranked.join(F.broadcast(pool), ranked.pidx == pool.idx)
        .select(
            "rank",
            "vec_id",
            F.col("rel").alias("rel_micro2"),
            F.col("idx").cast("bigint").alias("pool_idx"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Embedding isotropy report
# ---------------------------------------------------------------------------
#
# Embedding isotropy report — the representation-quality audit run
# before trusting any embedding space: per label, mean vector norm,
# the norm of the mean vector, and the isotropy ratio
# ||mean||^2 / mean(||x||^2) (≈ average pairwise cosine; high means
# the space collapsed toward a cone). All second moments accumulate
# as EXACT micro-quantized bigints — the Gram-matrix device — so
# the report is partition-invariant.


@register(
    "embedding_isotropy_report",
    oracle="""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    comps AS (
        SELECT label, u.i AS i, qv[u.i] AS v
        FROM (SELECT label, qv,
                     unnest(generate_series(1, len(qv))) AS i
              FROM q) u(label, qv, i)
    ),
    per_dim AS (
        SELECT label, i,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS ss,
               CAST(count(*) AS BIGINT) AS n
        FROM comps GROUP BY 1, 2
    ),
    agg AS (
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vecs,
               CAST(sum(ss) AS BIGINT) AS sum_norm2,
               CAST(sum(s * s) AS BIGINT) AS mean_num
        FROM per_dim GROUP BY label
    )
    SELECT CAST(label AS BIGINT) AS label, n_vecs,
           CAST(round(1.0 * sum_norm2 / n_vecs) AS BIGINT)
               AS mean_norm2_micro2,
           CAST(round(1.0 * mean_num / (n_vecs * n_vecs)) AS BIGINT)
               AS mean_vec_norm2_micro2,
           CAST(round(1000000.0 * mean_num
                      / (CAST(n_vecs AS DOUBLE) * sum_norm2)) AS BIGINT)
               AS isotropy_micro
    FROM agg ORDER BY label
    """,
    doc="Embedding isotropy report per label — the representation-"
        "quality audit run before trusting any embedding space: mean "
        "squared norm, squared norm of the MEAN vector, and the "
        "isotropy ratio ||mean||^2 / mean(||x||^2), which "
        "approximates the average pairwise cosine — near 0 for an "
        "isotropic (well-spread) space, near 1 when the space has "
        "collapsed toward a cone (the classic anisotropy failure of "
        "contrastive training). Everything reduces to per-dimension "
        "sums S_i and squared sums SS_i of micro-quantized ints — "
        "the Gram-device formulation: ||mean||^2 = sum_i S_i^2 / n^2 "
        "and mean norm^2 = sum_i SS_i / n, all EXACT bigints until "
        "one final division each. The 100 TB shape: components "
        "partial-aggregate map-side onto the label x dimension frame "
        "(labels x 64 rows); the report is dimension-bounded at any "
        "corpus size and the accumulation is partition-invariant "
        "because it is integer.",
)
def embedding_isotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
            )
        ).alias("i0", "v"),
    )
    per_dim = comps.groupBy("label", "i0").agg(
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
        F.count("*").cast("bigint").alias("n"),
    )
    agg = per_dim.groupBy("label").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum("ss").cast("bigint").alias("sum_norm2"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("mean_num"),
    )
    return agg.select(
        F.col("label").cast("bigint").alias("label"),
        "n_vecs",
        F.round(F.lit(1.0) * F.col("sum_norm2") / F.col("n_vecs"))
        .cast("bigint")
        .alias("mean_norm2_micro2"),
        F.round(F.lit(1.0) * F.col("mean_num") / (F.col("n_vecs") * F.col("n_vecs")))
        .cast("bigint")
        .alias("mean_vec_norm2_micro2"),
        F.round(
            F.lit(1_000_000.0)
            * F.col("mean_num")
            / (F.col("n_vecs").cast("double") * F.col("sum_norm2"))
        )
        .cast("bigint")
        .alias("isotropy_micro"),
    ).orderBy("label")


# Float discipline (the queries module docstring): Gram cells, pair counts
# and merge picks are exact integers; the ONLY floats are the per-round norm
# (an order-pinned fold) and the per-component division, each rounded once to
# micro.

# ---------------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------------
#
# Top principal component of the (quantized) embedding Gram matrix by
# POWER ITERATION: three matvec+normalize rounds, every matvec an
# exact integer/decimal accumulation, every normalization a
# deterministic ORDER-PINNED fold (the 16 components are folded in
# index order on both engines, so even the float norm is
# bit-identical), each round's vector re-quantized to micro — the
# embedding-space health check (dominant direction + eigenvalue)
# behind isotropy/anisotropy audits, and the building block of
# spectral methods generally.

_PCA_DIMS = 16
_PCA_ITERS = 3
_PCA_V0 = 250_000  # ones/sqrt(16) in micro units: exact unit-norm init


def _pca_oracle() -> str:
    parts = [f"""
    WITH q AS (
        SELECT list_transform(embedding[1:{_PCA_DIMS}],
                              x -> CAST(round(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS qv
        FROM embeddings
    ),
    idx AS (
        SELECT i.i AS i, j.j AS j
        FROM generate_series(1, {_PCA_DIMS}) i(i),
             generate_series(1, {_PCA_DIMS}) j(j)
    ),
    gram AS (
        SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS g
        FROM q CROSS JOIN idx GROUP BY i, j
    ),
    v0 AS (
        SELECT i.i AS i, CAST({_PCA_V0} AS BIGINT) AS vm
        FROM generate_series(1, {_PCA_DIMS}) i(i)
    )"""]
    for k in range(1, _PCA_ITERS + 1):
        parts.append(f"""
    , w{k} AS (
        SELECT g.i AS i,
               -- HUGEINT: |g| <= ~5e15, |vm| <= ~1e6 -> terms to ~5e21
               sum(CAST(g.g AS HUGEINT) * v.vm) AS w
        FROM gram g JOIN v{k - 1} v ON v.i = g.j
        GROUP BY g.i
    ),
    n{k} AS (
        -- order-pinned fold: components squared and summed in index
        -- order, so the double norm is bit-identical on any engine
        SELECT sqrt(list_reduce(
                   list_prepend(0.0, list(CAST(w AS DOUBLE) ORDER BY i)),
                   (acc, x) -> acc + x * x)) AS nrm
        FROM w{k}
    ),
    v{k} AS (
        SELECT w.i AS i,
               CAST(round(1000000.0 * CAST(w.w AS DOUBLE) / n.nrm)
                    AS BIGINT) AS vm
        FROM w{k} w CROSS JOIN n{k} n
    )""")
    parts.append(f"""
    SELECT CAST(v.i AS BIGINT) AS i,
           v.vm AS loading_micro,
           CAST(round(n.nrm / 1000000000000.0) AS BIGINT) AS eigval_micro
    FROM v{_PCA_ITERS} v CROSS JOIN n{_PCA_ITERS} n
    ORDER BY i""")
    return "\n".join(parts)


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the embedding Gram matrix "
        f"(first {_PCA_DIMS} dims, micro-quantized — the "
        f"embedding_gram_matrix device) by {_PCA_ITERS} power-iteration "
        "rounds from the exact ones/4 unit init: each matvec "
        "accumulates g*v products exactly (decimal(38,0) / HUGEINT — "
        "terms reach ~5e21), each norm is sqrt of an ORDER-PINNED fold "
        "over the 16 components (F.aggregate in index order == "
        "DuckDB list_reduce over the index-ordered list, so the double "
        "is bit-identical), and each round re-quantizes the vector to "
        "micro — the trajectory replays exactly on any engine/"
        "partitioning. Output: the 16 loadings plus the eigenvalue "
        "estimate ||G v||/||v|| in micro. This is the dominant-"
        "direction audit behind anisotropy findings (a large top "
        "eigenvalue share = embeddings collapse toward one direction; "
        "companion to embedding_isotropy_report) and the first step of "
        "spectral clustering / PCA whitening. The 100 TB shape: ONE "
        "corpus-scale stage (the Gram partial-combining aggregate, "
        "dim^2-cell output); every iteration after runs on dim- and "
        "dim^2-row frames — power iteration at scale is gram-once, "
        "iterate-small.",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.transform(
            F.slice("embedding", 1, _PCA_DIMS),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("bigint"),
        ).alias("qv")
    )
    idx = (
        spark.range(1, _PCA_DIMS + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(1, _PCA_DIMS + 1).select(F.col("id").alias("j")))
    )
    gram = (
        q.crossJoin(F.broadcast(idx))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.element_at("qv", F.col("i").cast("int"))
                * F.element_at("qv", F.col("j").cast("int"))
            )
            .cast("bigint")
            .alias("g")
        )
        .localCheckpoint()  # scanned once per iteration
    )
    v = spark.range(1, _PCA_DIMS + 1).select(
        F.col("id").alias("i"), F.lit(_PCA_V0).cast("long").alias("vm")
    )
    nrm_frame = None
    for _ in range(_PCA_ITERS):
        w = (
            gram.join(v.select(F.col("i").alias("j"), "vm"), "j")
            .groupBy("i")
            .agg(
                # widen BEFORE multiplying: |g| grows with corpus size and
                # g*vm exceeds int64 (~5e21 at sf0.1) — casting the
                # PRODUCT would overflow in long first (the round-5 EM
                # lesson, caught again here by the sf0.1 sweep)
                F.sum(F.col("g").cast("decimal(38,0)") * F.col("vm")).alias(
                    "wd"
                )
            )
            .select("i", F.col("wd").cast("double").alias("w"))
            .localCheckpoint()
        )
        nrm_frame = w.groupBy().agg(
            F.sqrt(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("i", "w"))
                    ).cast("array<struct<i:long,w:double>>"),
                    F.lit(0.0),
                    lambda acc, s: acc + s["w"] * s["w"],
                )
            ).alias("nrm")
        )
        v = (
            w.crossJoin(F.broadcast(nrm_frame))
            .select(
                "i",
                F.round(F.lit(1_000_000.0) * F.col("w") / F.col("nrm"))
                .cast("bigint")
                .alias("vm"),
            )
            .localCheckpoint()
        )
    return (
        v.crossJoin(F.broadcast(nrm_frame))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("vm").alias("loading_micro"),
            F.round(F.col("nrm") / F.lit(1_000_000_000_000.0))
            .cast("bigint")
            .alias("eigval_micro"),
        )
        .orderBy("i")
    )


# PERSISTENT IVF/ANN index round trip.
#
# The embedding family's scale story ("pay cell assignment once at write
# time, probe reads nprobe partitions" — docs/SCALING.md and the
# corpus_decontaminate_semantic docstring) needs a persisted index:
# ``ann_ivf_topk`` builds its IVF cells per session.  This is the
# operator that proves the round trip, the embedding twin of
# ``dedup_state_roundtrip``:
#
# - RUN 1 (index build): the base corpus's coarse quantizer (centroids)
#   and its cell-assigned vectors — with the L2 norm PRECOMPUTED — are
#   written to parquet, cells ``partitionBy("cell")``.
# - RUN 2 (incremental arrival): a later batch is assigned against the
#   PERSISTED quantizer (fresh parquet read, no lineage to run 1) and its
#   cell partitions appended.  The historical corpus is never re-read,
#   re-assigned, or re-normed: arrival cost is O(|batch| x k_centroids),
#   independent of index size.
# - RUN 3 (probe): queries multi-probe (nprobe=2) their nearest cells via
#   the persisted quantizer and join — query side broadcast — against the
#   cell-partitioned corpus ON THE PARTITION COLUMN, so the scan reads
#   only the probed cells; exact cosine uses the write-time ``vnorm``.
#
# The oracle computes the same top-k ONE-SHOT from the raw embeddings
# table, so a green row proves the three-run composition over persisted
# state equals the single-pass plan — floats survive the parquet round
# trip bit-exactly and the appended batch is indistinguishable from
# vectors indexed at build time.  ``from_batch`` marks top-k hits that
# exist only because of the append; the in-plan ``batch_visible`` verdict
# certifies at least one such hit, i.e. the increment materially changed
# the answer.

@register(
    "ann_ivf_index_roundtrip",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
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
           vec_id % 10 = 7 AS from_batch,
           (SELECT bool_or(vec_id % 10 = 7) FROM topk) AS batch_visible
    FROM topk ORDER BY q_id, rank
    """,
    doc="Persistent IVF/ANN index round trip — the pay-once-at-write-time "
        "layout the embedding family's 100 TB story rests on, actually "
        "executed against stored state: RUN 1 writes the coarse quantizer "
        "and the cell-assigned base corpus (norms precomputed) to parquet "
        "partitioned by cell (operators/similarity.ivf_index_write); RUN 2 "
        "assigns ONLY a late-arriving batch via the PERSISTED quantizer "
        "and appends its cell partitions (ivf_index_append — arrival cost "
        "independent of index size); RUN 3 multi-probes queries against "
        "the persisted cells joined on the partition column with the "
        "query side broadcast (ivf_index_probe — the scan reads nprobe "
        "partitions, dynamic partition pruning). The oracle recomputes "
        "the same top-5 one-shot from raw embeddings, so a green row "
        "proves the three-run composition over persisted state equals "
        "the single-pass plan; the in-plan batch_visible verdict "
        "certifies the appended batch materially changed the answer.",
)
def ann_ivf_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter((F.col("vec_id") % 10 != 3) & (F.col("vec_id") % 10 != 7))
    batch = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    path = _os_path.join(scratch_dir("ann_ivf_index_roundtrip"), "ivf_index")

    # RUN 1: build + persist (quantizer, cell-partitioned corpus, norms).
    ivf_index_write(base, path, IVF_CENTS)
    # RUN 2: incremental arrival — only the batch is assigned; the only
    # link to run 1 is the persisted quantizer and the appended partitions.
    ivf_index_append(spark, path, batch)
    # RUN 3: probe the persisted index (fresh read, no lineage to 1 or 2).
    topk = ivf_index_probe(spark, path, queries, k=5, nprobe=2, cos_round=4)

    from_batch = (F.col("vec_id") % 10 == 7).alias("from_batch")
    # k x |queries| rows (<=50) — materialized so the batch_visible verdict
    # agg reads the tiny result instead of replaying the whole probe
    # subtree (same replay fix as orders_lorenz_curve, 15 -> ~7 exchanges)
    flagged = topk.select("q_id", "vec_id", "cos", "rank", from_batch).localCheckpoint()
    visible = flagged.agg(F.max("from_batch").alias("batch_visible"))
    return (
        flagged.crossJoin(F.broadcast(visible))
        .orderBy("q_id", "rank")
    )


# product-quantized ANN with ADC scoring.
#
# ``ann_sq8_rerank`` covers SCALAR quantization (per-dimension affine
# codes); this is the other half of the faiss index family — PRODUCT
# quantization: the 64-dim space splits into m=8 subspaces of 8 dims,
# each subspace gets its own 16-entry codebook (corpus sub-vectors at
# fixed ids — the repo's training-free quantizer convention; k-means
# refinement slots in identically), and every corpus vector compresses to
# 8 one-byte codes (64 floats -> 8 bytes, a 32x compression vs the 4x of
# SQ8).
#
# Scoring is the textbook ADC (asymmetric distance computation): per
# query, ONE 8x16 lookup table of exact query-subvector-to-codebook
# distances; a corpus vector's approximate distance is the sum of 8 LUT
# entries selected by its codes — the corpus floats are never touched
# until the exact-cosine rerank of the top candidates.
#
# Integer discipline: all LUT entries are MICRO-unit bigints
# (round(l2sq * 1e6)), so ADC sums are exact integer arithmetic —
# bit-identical across engines regardless of addition order, with ties
# pinned by vec_id.  The final top-5 carry an in-plan recall flag against
# the brute-force exact top-k (the measured recall/cost trade, as in
# ann_sq8_rerank).
#
# 100 TB shape: the codes table is 32x smaller than the float corpus and
# the ADC scan reads ONLY codes + a broadcast per-query LUT (map-side
# expand by |Q|, partial-agg combine); encoding is a write-time cost — one
# min_by partial aggregate per (vector, subspace), never a window — and
# the float vectors are touched for CAND rows per query in the rerank.

_PQ_M = 8       # subspaces
_PQ_SUB = 8     # dims per subspace (8 x 8 = the 64-dim testdata width)
_PQ_KS = 16     # codebook entries per subspace
# Codebook ids are drawn from CORPUS-ONLY vectors: ids < 18 excluding the
# query residue (% 10 == 3 strips 3 and 13), leaving exactly _PQ_KS = 16
# entries.  The r10 advice flagged the original `vec_id < 16` draw as a
# mild query leak (it trained the quantizer on query vectors 3 and 13),
# breaking the query/corpus separation IVF_CENTS maintains.
_PQ_CB_MAX = 18
_PQ_CAND = 20   # ADC candidates per query fed to the exact rerank
_PQ_TOPK = 5

# micro-unit l2^2 between two 8-dim slices (DuckDB side); s/c are the
# slice expressions, 1-based positions
def _sql_l2sq_micro(a: str, b: str) -> str:
    return (
        f"CAST(round(list_sum([(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"FOR i IN range(1, {_PQ_SUB + 1})]) * 1000000) AS BIGINT)"
    )


def _pq_encode_lut(emb, corpus, qv):
    """The PQ half shared by ann_pq_adc_topk and ann_ivf_pq_topk.

    The codebook is KS x M corpus-only sub-vectors (query residue
    excluded — no quantizer leak), kilobytes, reused by encode AND LUT.
    Encode is the nearest codebook entry per (vector, subspace) — a
    min_by PARTIAL AGGREGATE (map-side combinable), deliberately not a
    window. The per-query LUT holds M x KS integer distances — |Q| x 128
    rows, broadcast. Returns (enc (vec_id, j, code), lut (q_id, j, c, dsq))."""
    subspaces = pq_subspace_struct("embedding", _PQ_M, _PQ_SUB)
    cb = (
        emb.filter((F.col("vec_id") < _PQ_CB_MAX) & (F.col("vec_id") % 10 != 3))
        .select(F.col("vec_id").alias("c"), F.inline(subspaces))
        .withColumnRenamed("svec", "cvec")
        .localCheckpoint()
    )
    enc = (
        corpus.select("vec_id", F.inline(subspaces))
        .join(F.broadcast(cb), "j")
        .select(
            "vec_id", "j", "c",
            l2sq_micro(F.col("svec"), F.col("cvec")).alias("_d"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min_by("c", F.struct("_d", "c")).alias("code"))
    )
    qsub = qv.select(
        "q_id", F.inline(pq_subspace_struct("qvec", _PQ_M, _PQ_SUB, "qsvec"))
    )
    lut = qsub.join(F.broadcast(cb), "j").select(
        "q_id", "j", "c", l2sq_micro(F.col("qsvec"), F.col("cvec")).alias("dsq")
    )
    return enc, lut


def _adc_candidates(scan, n: int) -> DataFrame:
    """ADC scan: sum the LUT distances of the (q_id, vec_id, dsq) code/LUT
    join ``scan`` into exact integer scores and keep the n lowest per
    query (ties by vec_id) as (q_id, vec_id)."""
    adc = scan.groupBy("q_id", "vec_id").agg(F.sum("dsq").alias("adc"))
    w_a = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        adc.withColumn("r", F.row_number().over(w_a))
        .filter(F.col("r") <= n)
        .select("q_id", "vec_id")
    )


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    qs AS (
        SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE vec_id % 10 = 3 AND vec_id < 100
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
        FROM enc e JOIN lut l ON l.j = e.j AND l.c = e.code
        GROUP BY l.q_id, e.vec_id
    ),
    cand AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY adc ASC, vec_id) AS r
            FROM adc) x
        WHERE r <= {_PQ_CAND}
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
        WHERE r <= {_PQ_TOPK}
    )
    SELECT rer.q_id, rer.vec_id, rer.cos, CAST(rer.rank AS BIGINT) AS rank,
           (brute.vec_id IS NOT NULL) AS in_exact_topk
    FROM rer LEFT JOIN brute
      ON brute.q_id = rer.q_id AND brute.vec_id = rer.vec_id
    WHERE rer.rank <= {_PQ_TOPK}
    ORDER BY rer.q_id, rank
    """,
    doc="Product-quantized (PQ, faiss-style) ANN with ADC scoring and "
        f"exact rerank: the 64-dim space splits into {_PQ_M} subspaces of "
        f"{_PQ_SUB} dims with a {_PQ_KS}-entry codebook each (corpus "
        "sub-vectors at fixed ids), every corpus vector compresses to "
        f"{_PQ_M} one-byte codes (32x vs the float corpus), and per-query "
        f"scoring sums {_PQ_M} entries of a broadcast {_PQ_M}x{_PQ_KS} "
        "lookup table of MICRO-UNIT INTEGER query-to-codebook distances — "
        "exact bigint arithmetic, bit-identical on any engine, ties by "
        f"vec_id. The top {_PQ_CAND} ADC candidates per query are "
        f"reranked by exact cosine; the final top {_PQ_TOPK} carry an "
        "in-plan recall flag against the brute-force exact top-k. "
        "Encoding is a write-time min_by PARTIAL AGGREGATE per (vector, "
        "subspace) — map-side combinable, no window; the ADC scan reads "
        "only codes + the broadcast LUT, the standard memory-bandwidth "
        "trade that makes PQ the 100 TB vector-index default.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    qv = (
        emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
        .localCheckpoint()  # 10-row query frame: LUT, rerank, brute verify
    )
    enc, lut = _pq_encode_lut(emb, corpus, qv)
    # ADC scan: codes join the broadcast LUT
    cand = _adc_candidates(
        enc.join(F.broadcast(lut), (enc.j == lut.j) & (enc.code == lut.c)),
        _PQ_CAND,
    )
    return _rerank_recall(
        emb, cand, qv, corpus.join(F.broadcast(qv)), _PQ_TOPK, "qvec"
    ).orderBy("q_id", "rank")


# MATRYOSHKA (prefix-dimension) truncation quality.
#
# Matryoshka representation learning (Kusupati et al. 2022) trains
# embeddings whose PREFIX dimensions are themselves usable embeddings —
# the storage/bandwidth lever modern vector pipelines pull first: scan
# the 16-dim prefix (4x less I/O than 64), rerank survivors with the full
# vector.  Whether a given embedding table actually tolerates truncation
# is an empirical question, so this is the measurement operator: for
# every dim budget d in {{8, 16, 32, 64}}, the exact top-5 by d-prefix
# cosine is compared against the full-dimension top-5 and the mean
# overlap@5 reported per budget.
#
# In-plan verdicts: the d=64 row must overlap itself perfectly (1000
# milli — the harness's identity check), and the testdata's embeddings
# are unstructured (not MRL-trained), so the curve SHOULD degrade
# toward small d — the measured fraction is the honest answer, not an
# asserted one.
#
# Scale shape: scoring is ONE codegen'd scan of corpus x broadcast queries
# computing all four prefix cosines per row (prefix dots reuse nothing
# between budgets on purpose — bit-reproducible rounding per budget), then
# a map-side unpivot and one (q_id, budget)-keyed top-k window; the
# overlap join runs on the <=200-row top-k frames. This is the labeled
# EVALUATION query (sampled query set), not the serving path — the serving
# path is the IVF/PQ family.

_MRL_BUDGETS = (8, 16, 32, 64)
_MRL_TOPK = 5


def _sql_pcos(d: int) -> str:
    dot = (
        f"list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
        f"FOR i IN range(1, {d + 1})])"
    )
    nc = (
        f"sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) "
        f"FOR i IN range(1, {d + 1})]))"
    )
    nq = (
        f"sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
        f"FOR i IN range(1, {d + 1})]))"
    )
    return f"round({dot} / ({nc} * {nq}), 6)"


@register(
    "embedding_matryoshka_overlap",
    oracle=f"""
    WITH corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    qs AS (
        SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE vec_id % 10 = 3 AND vec_id < 100
    ),
    scored AS (
        SELECT q.q_id, c.vec_id, b.d,
               CASE b.d {"".join(
                   f"WHEN {d} THEN {_sql_pcos(d)} " for d in _MRL_BUDGETS
               )}END AS pcos
        FROM corp c
        CROSS JOIN qs q
        CROSS JOIN (SELECT unnest({list(_MRL_BUDGETS)}) AS d) b
    ),
    topk AS (
        SELECT q_id, vec_id, d FROM (
            SELECT q_id, vec_id, d,
                   row_number() OVER (PARTITION BY q_id, d
                                      ORDER BY pcos DESC, vec_id) AS r
            FROM scored) x
        WHERE r <= {_MRL_TOPK}
    ),
    full_k AS (SELECT q_id, vec_id FROM topk WHERE d = 64),
    ov AS (
        SELECT t.d, t.q_id, count(f.vec_id) AS hits
        FROM topk t LEFT JOIN full_k f
          ON f.q_id = t.q_id AND f.vec_id = t.vec_id
        GROUP BY t.d, t.q_id
    )
    SELECT CAST(d AS BIGINT) AS dim_budget,
           CAST(round(avg(hits) * 1000.0 / {_MRL_TOPK}) AS BIGINT)
               AS avg_overlap_milli,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(round(d * 1000.0 / 64) AS BIGINT) AS bytes_permille,
           (SELECT bool_and(d < 64 OR hits = {_MRL_TOPK}) FROM ov)
               AS identity_holds
    FROM ov GROUP BY d ORDER BY dim_budget
    """,
    doc="Matryoshka truncation-quality measurement: exact top-5 by "
        "PREFIX-dimension cosine (budgets 8/16/32/64 of the 64-dim "
        "embeddings) compared against the full-dimension top-5, mean "
        "overlap@5 per budget in milli — the storage/bandwidth-vs-recall "
        "curve an MRL-style vector pipeline reads before choosing its "
        "scan dimension (a 16-dim prefix scan is 4x less I/O). The d=64 "
        "row is the in-plan identity verdict (must overlap itself "
        "1000/1000); smaller budgets report the honest measured fraction "
        "on these untrained embeddings. One codegen'd corpus x broadcast-"
        "queries scan computes all four prefix cosines per row, a "
        "map-side unpivot feeds one (q_id, budget)-keyed top-k window, "
        "and the overlap join runs on <=200-row top-k frames — the "
        "labeled evaluation query for the IVF/PQ serving family.",
)
def embedding_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    qv = (
        emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
    )

    def pcos(d: int):
        dot = F.aggregate(
            F.zip_with(
                F.slice("embedding", 1, d),
                F.slice("qvec", 1, d),
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sq = lambda c: F.aggregate(  # noqa: E731
            F.transform(
                F.slice(c, 1, d), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(
            dot / (F.sqrt(sq("embedding")) * F.sqrt(sq("qvec"))), 6
        )

    # one scan: all four prefix cosines per (corpus row, query), then a
    # map-side unpivot into (budget, pcos) rows
    scored = corpus.join(F.broadcast(qv)).select(
        "q_id",
        "vec_id",
        F.inline(
            F.array(*[
                F.struct(
                    F.lit(d).cast("bigint").alias("d"), pcos(d).alias("pcos")
                )
                for d in _MRL_BUDGETS
            ])
        ),
    )
    w = Window.partitionBy("q_id", "d").orderBy(F.desc("pcos"), F.asc("vec_id"))
    topk = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _MRL_TOPK)
        .select("q_id", "vec_id", "d")
        .localCheckpoint()  # <= |Q| x 4 x 5 rows, feeds both overlap sides
    )
    full_k = topk.filter(F.col("d") == 64).select(
        "q_id", "vec_id", F.lit(True).alias("_hit")
    )
    ov = (
        topk.join(F.broadcast(full_k), ["q_id", "vec_id"], "left")
        .groupBy("d", "q_id")
        .agg(F.sum(F.when(F.col("_hit"), 1).otherwise(0)).alias("hits"))
    )
    identity = ov.agg(
        F.min(
            F.when(F.col("d") < 64, F.lit(True)).otherwise(
                F.col("hits") == _MRL_TOPK
            )
        ).alias("identity_holds")
    )
    return (
        ov.groupBy("d")
        .agg(
            F.round(F.avg("hits") * 1000.0 / _MRL_TOPK)
            .cast("bigint")
            .alias("avg_overlap_milli"),
            F.count("*").cast("bigint").alias("n_queries"),
        )
        .select(
            F.col("d").alias("dim_budget"),
            "avg_overlap_milli",
            "n_queries",
            F.round(F.col("d") * 1000.0 / 64).cast("bigint").alias("bytes_permille"),
        )
        .crossJoin(F.broadcast(identity))
        .orderBy("dim_budget")
    )


# TRAINED quantizer composed into the persistent IVF index.
#
# ``embedding_kmeans_refine``
# proves one Lloyd iteration as a declarative plan, and
# ``ann_ivf_index_roundtrip`` proves the write/append/probe round trip
# over a persisted FIXED-ID quantizer.  This query joins them into the
# production chain: TRAIN (one Lloyd step refines the fixed-id seeds into
# data-adaptive centroids — componentwise means rounded to 6dp so both
# engines reassign from identical values) -> WRITE (the trained quantizer
# and the cell-assigned corpus persist via operators/similarity.
# ivf_index_write_frame; the assignment runs against the READ-BACK
# quantizer, so the cells are keyed by exactly what a probe will read) ->
# PROBE (nprobe=2 against the persisted index, scan restricted to probed
# cell partitions by dynamic partition pruning).
#
# The oracle replays the whole chain one-shot from the raw embeddings
# table, so a green row proves train -> persist -> probe over parquet
# state equals the single-pass plan.  The in-plan ``quantizer_trained``
# verdict certifies the PERSISTED quantizer differs from the seed vectors
# — i.e. the probe really is served by trained centroids, not the
# fixed-id convention ("training happened once, elsewhere" is now an
# executed chain, not a docstring claim).
#
# 100 TB shape: training is write-time-only — each Lloyd iteration is one
# corpus scan against broadcast centroids (iterations chain with a
# checkpoint boundary, the Spark MLlib KMeans structure), and NOTHING on
# the probe path changes: arrival assignment and probes read the
# persisted quantizer exactly as in the fixed-id round trip, so re-
# training remains a separate, rare event that rewrites one kilobyte-
# scale table plus a one-pass corpus re-assignment.

_DIM = 64
_MEANS = ", ".join(
    f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)" for i in range(1, _DIM + 1)
)


@register(
    "ann_ivf_trained_index",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    a1 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
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
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN trained c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
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
    seeds = emb.filter(F.col("vec_id").isin(*IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent")
    )
    path = _os_path.join(scratch_dir("ann_ivf_trained_index"), "ivf_index")

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


# IVF+PQ hybrid ANN (the faiss IVFPQ shape).
#
# The two halves exist separately: IVF coarse quantization
# restricts WHERE a query looks (``ann_ivf_topk`` / the persistent index
# family — probe reads nprobe cell partitions), and product quantization
# restricts WHAT the scan reads per candidate (``ann_pq_adc_topk`` —
# 8-byte codes + a broadcast integer LUT instead of 256-byte float
# vectors).  This query composes them into the index structure that is
# the 100 TB vector-serving default (faiss ``IVFxx,PQ8``): the ADC scan
# runs ONLY over the codes of the query's nprobe probed cells, so cost
# per query is (corpus/k_cells x nprobe) code-rows x 8 LUT adds — both
# reductions multiply, neither half's verdict is weakened (exact-cosine
# rerank of the ADC top candidates, in-plan recall flag vs brute force).
#
# Integer discipline as in ann_pq_adc_topk: LUT entries are MICRO-unit
# bigints, ADC sums exact integer arithmetic, ties by vec_id — bit-
# identical on any engine.  Assignment/encode both reuse the certified
# devices (operators/similarity.ivf_assign; the r10c corpus-only
# codebook convention), so hybrid and standalone paths cannot drift.
#
# 100 TB shape: cells are the persisted partition layout (the roundtrip
# family), codes live NEXT TO the cell partitions (32x smaller than the
# floats), the LUT is |Q| x 128 rows broadcast; the brute-force recall
# branch is the labeled small-scale verification baseline, exactly as in
# ann_pq_adc_topk.

_NPROBE = 2
_CAND = 20
_TOPK = 5


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
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
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, cid AS cell FROM (
            SELECT e.vec_id AS q_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
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
        emb.filter(F.col("vec_id").isin(*IVF_CENTS))
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
    enc, lut = _pq_encode_lut(emb, corpus, qv)

    # The hybrid join: codes restricted to the query's probed cells.
    # (q_id, cell) x LUT is a tiny broadcast (|Q| x nprobe x 128 rows);
    # the stream side is the cell-keyed code table — at 100 TB the codes
    # are stored partitioned by cell next to the vectors, so this join
    # IS the partition-pruned scan of the roundtrip family.
    lutq = lut.join(F.broadcast(qa), "q_id")  # (q_id, j, c, dsq, cell)
    encc = enc.join(ca, "vec_id")  # (vec_id, j, code, cell)
    cand = _adc_candidates(
        encc.join(
            F.broadcast(lutq),
            (encc["cell"] == lutq["cell"])
            & (encc["j"] == lutq["j"])
            & (encc["code"] == lutq["c"]),
        ),
        _CAND,
    )
    return _rerank_recall(
        emb, cand, qv, corpus.join(F.broadcast(qv)), _TOPK, "qvec"
    ).orderBy("q_id", "rank")


# FILTERED vector search — metadata predicate +
# ANN top-k, the vector-database feature the similarity family lacked.
#
# Real vector serving is almost never "top-k over everything": queries
# carry a metadata predicate (tenant, language, date range, safety tier)
# and the engine must return the top-k AMONG MATCHES.  Two textbook
# strategies, both executed here with an in-plan comparison:
#
# - PRE-FILTER (the correct one for selective predicates, and this
#   query's OUTPUT): push the label predicate below scoring, exact
#   cosine top-5 over the ~10% of the corpus that matches.  At 100 TB
#   the predicate is a parquet column — partition/row-group pruning
#   makes the filtered scan proportional to the MATCH count, and the
#   IVF/PQ index family composes on top (filter inside the probed
#   cells).
# - POST-FILTER (the classic failure, quantified per query): take the
#   UNFILTERED IVF shortlist (nprobe=2, k'=25), then apply the
#   predicate.  ``post_hits`` counts how many of the required 5 survive
#   per query; the in-plan ``post_deficit`` verdict certifies at least
#   one query comes up short — the measured reason engines push filters
#   into the index scan instead of filtering a fixed shortlist.
#
# Each query's target label is data-derived ((q_id // 10) % 10, so the
# 10 queries sweep all 10 labels).  Exact arithmetic: cosine rounded to
# 4dp before ranking, ties by vec_id — bit-identical cross-engine.


def _labeled_queries(emb) -> DataFrame:
    """The 10 query vectors (q_id, qv) with their data-derived target label
    ((q_id // 10) % 10), materialized: every consumer reads the tiny frame."""
    return (
        emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            ((F.col("vec_id") / 10).cast("long") % 10).cast("int").alias(
                "target_label"
            ),
        )
        .localCheckpoint()
    )


_SHORTLIST = 25


_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS q_id, embedding AS qv,
               CAST((vec_id // 10) % 10 AS INT) AS target_label
        FROM embeddings WHERE vec_id % 10 = 3 AND vec_id < 100
    ),
    corp AS (
        SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 10 <> 3
    ),
    pre AS (
        SELECT q_id, target_label, vec_id, cos, rank FROM (
            SELECT q.q_id, q.target_label, c.vec_id,
                   {_COS.format(a='c.embedding', b='q.qv')} AS cos,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY {_COS.format(a='c.embedding', b='q.qv')} DESC,
                                c.vec_id) AS rank
            FROM qs q JOIN corp c ON c.label = q.target_label) x
        WHERE rank <= {_TOPK}
    ),
    cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
    ),
    ca AS (
        SELECT vec_id, label, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.label, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, target_label, cid AS cell FROM (
            SELECT q.q_id, q.qv, q.target_label, c.cid,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY {IVF_L2.replace('e.embedding', 'q.qv')},
                                               c.cid) AS r
            FROM qs q CROSS JOIN cents c) x
        WHERE r <= {_NPROBE}
    ),
    shortlist AS (
        SELECT q_id, target_label, vec_id, label FROM (
            SELECT qa.q_id, qa.target_label, ca.vec_id, ca.label,
                   row_number() OVER (
                       PARTITION BY qa.q_id
                       ORDER BY {_COS.format(a='ca.embedding', b='qa.qv')} DESC,
                                ca.vec_id) AS r
            FROM ca JOIN qa USING (cell)) x
        WHERE r <= {_SHORTLIST}
    ),
    post AS (
        SELECT q_id,
               CAST(least(sum(CASE WHEN label = target_label THEN 1 ELSE 0 END),
                          {_TOPK}) AS BIGINT) AS post_hits
        FROM shortlist GROUP BY q_id
    ),
    verdict AS (
        SELECT bool_or(post_hits < {_TOPK}) AS post_deficit FROM post
    )
    SELECT pre.q_id, pre.target_label, pre.vec_id, pre.cos,
           CAST(pre.rank AS BIGINT) AS rank,
           post.post_hits,
           (SELECT post_deficit FROM verdict) AS post_deficit
    FROM pre JOIN post ON post.q_id = pre.q_id
    ORDER BY pre.q_id, rank
    """,
    doc="Filtered vector search (metadata predicate + top-k): each query "
        "carries a target label ((q_id // 10) % 10 — the 10 queries sweep "
        "all 10 labels) and the OUTPUT is the PRE-FILTER strategy: exact "
        "cosine top-5 over the ~10% of the corpus matching the label "
        "(predicate pushed below scoring; at 100 TB the label is a "
        "partition/row-group-prunable parquet column and the filter "
        "composes inside IVF probed cells). The in-plan comparison "
        f"quantifies the POST-FILTER failure: an unfiltered IVF shortlist "
        f"(nprobe={_NPROBE}, k'={_SHORTLIST}) filtered after the fact "
        "yields post_hits matching vectors per query, and the "
        "post_deficit verdict certifies at least one query comes up "
        "short of k=5 — the measured reason engines push predicates "
        "into the index scan. Exact 4dp-rounded cosine, ties by vec_id.",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    qv = _labeled_queries(emb)  # 10 rows: pre-filter join, probe, verdict

    def cos(a, b):
        return F.round(_cos_unguarded(a, b), 4)

    # PRE-FILTER: the label predicate IS the join condition — scoring
    # only ever touches matching vectors (the pushed-predicate scan).
    w_pre = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    pre = (
        corpus.join(F.broadcast(qv), corpus["label"] == qv["target_label"])
        .select(
            "q_id", "target_label", "vec_id",
            cos(F.col("embedding"), F.col("qv")).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w_pre).cast("bigint"))
        .filter(F.col("rank") <= _TOPK)
    )

    # POST-FILTER comparison: unfiltered IVF shortlist, predicate after.
    cents = (
        emb.filter(F.col("vec_id").isin(*IVF_CENTS))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("_cent"))
        .localCheckpoint()  # 8 rows; feeds both assignments + guards
    )
    ca = ivf_assign(
        corpus.select("vec_id", "label", F.col("embedding").alias("_v")),
        cents,
        "vec_id",
        1,
    )
    qa = ivf_assign(
        qv.select("q_id", "target_label", F.col("qv").alias("_qv")),
        cents,
        "q_id",
        _NPROBE,
        vec_col="_qv",
    )
    w_s = Window.partitionBy("q_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    shortlist = (
        ca.join(F.broadcast(qa), "cell")
        .select(
            "q_id", "target_label", "vec_id", "label",
            cos(F.col("_v"), F.col("_qv")).alias("_cos"),
        )
        .withColumn("r", F.row_number().over(w_s))
        .filter(F.col("r") <= _SHORTLIST)
    )
    post = shortlist.groupBy("q_id").agg(
        F.least(
            F.sum((F.col("label") == F.col("target_label")).cast("int")),
            F.lit(_TOPK),
        )
        .cast("bigint")
        .alias("post_hits")
    )
    # <=10 rows — materialize so the verdict agg reads the tiny frame
    # instead of replaying the shortlist subtree (the roundtrip precedent)
    post = post.localCheckpoint()
    verdict = post.agg(
        F.max(F.col("post_hits") < _TOPK).alias("post_deficit")
    )
    return (
        pre.join(F.broadcast(post), "q_id")
        .crossJoin(F.broadcast(verdict))
        .select(
            "q_id", "target_label", "vec_id", "cos", "rank",
            "post_hits", "post_deficit",
        )
        .orderBy("q_id", "rank")
    )


# two compositions the 100 TB vector-serving story needs.
#
# 1. ``ann_ivf_pq_index`` — the PQ codes PERSISTED into the IVF index.
#    SCALE_GROWTH.md ("IVFPQ-vs-PQ ladder") measured that the
#    only viable 100 TB layout stores the 8-byte codes CELL-KEYED NEXT TO
#    the cell partitions — stored codes were 2.5x over full ADC at 100x,
#    and the query-time cell join halved the advantage — but the
#    persistent index family still stored raw floats only, while
#    ``ann_ivf_pq_topk`` computed cells and codes in-query.  This query
#    executes the measured production layout end-to-end: write persists
#    quantizer + codebook + cell-partitioned vectors + cell-partitioned
#    codes; append encodes ONLY the arriving batch (persisted quantizer
#    and codebook — arrival cost independent of index size); probe is a
#    DPP-pruned integer ADC scan over the probed cells' codes followed by
#    an exact-cosine rerank that reads ONLY the surviving candidates'
#    vectors (again cell-pruned, write-time norms).  The oracle replays
#    the whole composition one-shot from raw embeddings, so a green row
#    proves four persisted tables + an append compose to the single-pass
#    plan; ``batch_visible`` certifies the append materially changed the
#    answer (operators: operators/similarity.py ivf_pq_index_*).
#
# 2. ``ann_ivf_filtered_probe`` — a metadata predicate pushed INTO the
#    persistent-index probe.  ``ann_filtered_topk`` proved
#    pre-filter beats post-filter but its pre-filter path was an exact
#    scan; its docstring's claim that "the filter composes inside the
#    probed cells" had no executed query.  Here the index is written
#    ``partitionBy("cell", "label")`` (ivf_index_write_frame's new
#    meta/partition columns), so the probe's equi-joins on BOTH keys get
#    dynamic partition pruning: the scan reads only (probed cell x target
#    label) leaf partitions — the storage-layout form of filtering inside
#    the index.  The in-plan verdict compares against the exact filtered
#    top-k (the labeled brute baseline): per-query ``exact_hits`` counts
#    agreement and ``probe_complete`` certifies every query returned a
#    full k among matches in its probed cells.

_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


@register(
    "ann_ivf_pq_index",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
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
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, cid AS cell FROM (
            SELECT e.vec_id AS q_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
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
    cents = emb.filter(F.col("vec_id").isin(*IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    cb = emb.filter(
        (F.col("vec_id") < _PQ_CB_MAX) & (F.col("vec_id") % 10 != 3)
    ).select(
        F.col("vec_id").alias("c"),
        F.inline(pq_subspace_struct(F.col("embedding"), _PQ_M, _PQ_SUB, out="cvec")),
    )
    path = _os_path.join(scratch_dir("ann_ivf_pq_index"), "ivf_pq_index")

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
        WHERE vec_id IN {IVF_CENTS_SQL}
    ),
    ca AS (
        SELECT vec_id, label, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.label, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, target_label, cid AS cell FROM (
            SELECT q.q_id, q.qv, q.target_label, c.cid,
                   row_number() OVER (PARTITION BY q.q_id
                                      ORDER BY {IVF_L2.replace('e.embedding', 'q.qv')},
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
    qv = _labeled_queries(emb)  # 10 rows: assignment, probe join, exact baseline
    cents = emb.filter(F.col("vec_id").isin(*IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    path = _os_path.join(scratch_dir("ann_ivf_filtered_probe"), "ivf_labeled_index")

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
    dot_cos = F.round(_cos_unguarded(F.col("embedding"), F.col("qv")), 4)
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
