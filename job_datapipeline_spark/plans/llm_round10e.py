"""Round-10 fifth batch: MATRYOSHKA (prefix-dimension) truncation quality.

Matryoshka representation learning (Kusupati et al. 2022) trains
embeddings whose PREFIX dimensions are themselves usable embeddings —
the storage/bandwidth lever modern vector pipelines pull first: scan
the 16-dim prefix (4x less I/O than 64), rerank survivors with the full
vector.  Whether a given embedding table actually tolerates truncation
is an empirical question, so this is the measurement operator: for
every dim budget d in {{8, 16, 32, 64}}, the exact top-5 by d-prefix
cosine is compared against the full-dimension top-5 and the mean
overlap@5 reported per budget.

In-plan verdicts: the d=64 row must overlap itself perfectly (1000
milli — the harness's identity check), and the testdata's embeddings
are unstructured (not MRL-trained), so the curve SHOULD degrade
toward small d — the measured fraction is the honest answer, not an
asserted one.

Scale shape: scoring is ONE codegen'd scan of corpus x broadcast
queries computing all four prefix cosines per row (prefix dots reuse
nothing between budgets on purpose — bit-reproducible rounding per
budget), then a map-side unpivot and one (q_id, budget)-keyed top-k
window; the overlap join runs on the <=200-row top-k frames.  This is
the labeled EVALUATION query (sampled query set), not the serving
path — the serving path is the IVF/PQ family this round extends.
Reference parity: none (no embeddings in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

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
