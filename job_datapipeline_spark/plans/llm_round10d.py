"""Round-10 fourth batch: KMV/theta-sketch DISTINCT SET OPERATIONS.

The sketch family so far covers per-set cardinality (HLL escalation,
r7), membership (bloom), frequency (count-min, Misra-Gries) and
quantiles (mergeable KLL-ish) — but none of them can estimate the
INTERSECTION of two distinct sets, the question every retention /
audience-overlap / cross-segment analysis asks at 100 TB where exact
COUNT(DISTINCT) of an intersection needs a full co-shuffle of both
sides.  The theta-sketch framework (Dasgupta et al., the DataSketches
line) answers it from two k-minimum-values sketches alone:

- KMV sketch of a set = the k smallest deterministic hashes of its
  distinct keys; theta = the k-th smallest; estimate = (k-1) / theta
  (hashes scaled to [0,1)).
- UNION: merge = the k smallest of the two sketches' union — provably
  identical to sketching the union directly (the k smallest of A u B
  are each within their side's k smallest), which the in-plan
  ``merge_consistent`` verdict pins EXACTLY, not approximately.
- INTERSECTION: theta = min(theta_a, theta_b); the intersection
  estimate is |{h in sketch_a n sketch_b : h < theta}| / theta.

Everything is deterministic md5-prefix integer hashing (the repo's
minhash convention), so both engines materialize the SAME sketches and
the oracle hash-pins estimates, not just error bounds.  Each output row
carries the exact cardinality and the relative error in permille — the
sketch's accuracy is part of the certified result.

100 TB shape: a KMV sketch build is one partial-aggregatable top-k
(per-partition k smallest, merged once — Spark's TakeOrderedAndProject,
no global sort, no window); sketches are k rows regardless of input
size, every set operation downstream runs on broadcast k-row frames.
Reference parity: none; extends the sketch family mandated by the
LLM-pipeline brief (audience overlap is the canonical curation join
question: how much of corpus A is already in corpus B?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

_KMV_K = 256
_KMV_SCALE = 1 << 60  # md5 15-hex-digit prefix ceiling

_SQL_H = "('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT"


def _sql_sketch(pred: str, name: str) -> str:
    return f"""
    {name} AS (
        SELECT h FROM (
            SELECT DISTINCT {_SQL_H} AS h FROM orders WHERE {pred}
        ) x ORDER BY h LIMIT {_KMV_K}
    )"""


@register(
    "agg_kmv_theta_sketch_ops",
    oracle=f"""
    WITH {_sql_sketch("o_orderpriority = '1-URGENT'", "ska")},
    {_sql_sketch("o_orderpriority = '2-HIGH'", "skb")},
    {_sql_sketch("o_orderpriority IN ('1-URGENT', '2-HIGH')", "sku_direct")},
    sku AS (
        SELECT h FROM (
            SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb) u
        ) x ORDER BY h LIMIT {_KMV_K}
    ),
    stats AS (
        SELECT (SELECT max(h) FROM ska) AS ta, (SELECT count(*) FROM ska) AS na,
               (SELECT max(h) FROM skb) AS tb, (SELECT count(*) FROM skb) AS nb,
               (SELECT max(h) FROM sku) AS tu, (SELECT count(*) FROM sku) AS nu
    ),
    inter AS (
        SELECT count(*) AS ni, least((SELECT ta FROM stats), (SELECT tb FROM stats)) AS ti
        FROM ska JOIN skb USING (h)
        WHERE h < least((SELECT ta FROM stats), (SELECT tb FROM stats))
    ),
    exact AS (
        SELECT
          (SELECT count(DISTINCT o_custkey) FROM orders
           WHERE o_orderpriority = '1-URGENT') AS xa,
          (SELECT count(DISTINCT o_custkey) FROM orders
           WHERE o_orderpriority = '2-HIGH') AS xb,
          (SELECT count(DISTINCT o_custkey) FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS xu,
          (SELECT count(*) FROM
             (SELECT DISTINCT o_custkey FROM orders
              WHERE o_orderpriority = '1-URGENT') a
           JOIN (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderpriority = '2-HIGH') b USING (o_custkey)) AS xi
    ),
    est AS (
        SELECT 'seg_urgent' AS metric,
               CASE WHEN na < {_KMV_K} THEN CAST(na AS BIGINT)
                    ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SCALE}.0
                              / CAST(ta AS DOUBLE)) AS BIGINT) END AS estimate,
               CAST(xa AS BIGINT) AS exact, 0 AS ord
        FROM stats, exact
        UNION ALL
        SELECT 'seg_high',
               CASE WHEN nb < {_KMV_K} THEN CAST(nb AS BIGINT)
                    ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SCALE}.0
                              / CAST(tb AS DOUBLE)) AS BIGINT) END,
               CAST(xb AS BIGINT), 1
        FROM stats, exact
        UNION ALL
        SELECT 'union',
               CASE WHEN nu < {_KMV_K} THEN CAST(nu AS BIGINT)
                    ELSE CAST(round(({_KMV_K} - 1) * {_KMV_SCALE}.0
                              / CAST(tu AS DOUBLE)) AS BIGINT) END,
               CAST(xu AS BIGINT), 2
        FROM stats, exact
        UNION ALL
        SELECT 'intersection',
               CAST(round((SELECT ni FROM inter) * {_KMV_SCALE}.0
                          / CAST((SELECT ti FROM inter) AS DOUBLE)) AS BIGINT),
               CAST(xi AS BIGINT), 3
        FROM stats, exact
    )
    SELECT metric, estimate, exact,
           CAST(round(abs(estimate - exact) * 1000.0 / exact) AS BIGINT)
               AS abs_err_permille,
           (SELECT count(*) FROM
              (SELECT h FROM sku EXCEPT SELECT h FROM sku_direct) d1) = 0
           AND (SELECT count(*) FROM
              (SELECT h FROM sku_direct EXCEPT SELECT h FROM sku) d2) = 0
               AS merge_consistent
    FROM est ORDER BY ord
    """,
    doc="KMV/theta-sketch distinct set operations — cardinality estimates "
        "for two customer segments (urgent-priority vs high-priority "
        "buyers), their UNION and their INTERSECTION, from k=256-minimum-"
        "values sketches of deterministic md5 hashes. The union sketch is "
        "built by MERGING the two per-segment sketches and the in-plan "
        "merge_consistent verdict pins it EXACTLY equal to sketching the "
        "union directly (the KMV mergeability theorem, certified not "
        "asserted); the intersection estimate is the theta-sketch form "
        "|A-sketch n B-sketch below min(theta)| / theta — the question "
        "(audience overlap, corpus containment) no per-set sketch can "
        "answer. Each row carries the exact cardinality and the permille "
        "error: the sketch's accuracy is part of the certified result. "
        "100 TB shape: a sketch build is one per-partition top-k merged "
        "once (TakeOrderedAndProject — no global sort, no window); all "
        "set operations run on broadcast 256-row frames.",
)
def agg_kmv_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    h = F.conv(
        F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15), 16, 10
    ).cast("bigint")

    def sketch(pred) -> DataFrame:
        """k smallest hashes of the predicate's distinct keys; the
        distinct + orderBy + limit compiles to a partial-agg plus
        TakeOrderedAndProject — per-partition top-k, one merge, k rows
        out regardless of input size."""
        return (
            orders.filter(pred)
            .select(h.alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
            .localCheckpoint()  # k-row frame: reused by stats/union/inter
        )

    urgent = F.col("o_orderpriority") == "1-URGENT"
    high = F.col("o_orderpriority") == "2-HIGH"
    ska = sketch(urgent)
    skb = sketch(high)
    sku_direct = sketch(urgent | high)
    sku = (
        ska.unionByName(skb).distinct().orderBy("h").limit(_KMV_K).localCheckpoint()
    )

    def theta_n(sk: DataFrame, t: str, n: str) -> DataFrame:
        return sk.agg(F.max("h").alias(t), F.count("*").alias(n))

    stats = (
        theta_n(ska, "ta", "na")
        .crossJoin(F.broadcast(theta_n(skb, "tb", "nb")))
        .crossJoin(F.broadcast(theta_n(sku, "tu", "nu")))
        .localCheckpoint()  # 1 row
    )
    inter = (
        ska.join(skb, "h")
        .crossJoin(F.broadcast(stats.select(F.least("ta", "tb").alias("ti"))))
        .filter(F.col("h") < F.col("ti"))
        .agg(F.count("*").alias("ni"))  # agg (not groupBy): 1 row even when empty
    )

    exact = (
        orders.agg(
            F.countDistinct(F.when(urgent, F.col("o_custkey"))).alias("xa"),
            F.countDistinct(F.when(high, F.col("o_custkey"))).alias("xb"),
            F.countDistinct(
                F.when(urgent | high, F.col("o_custkey"))
            ).alias("xu"),
        )
        .crossJoin(
            F.broadcast(
                orders.filter(urgent)
                .select("o_custkey")
                .distinct()
                .join(
                    orders.filter(high).select("o_custkey").distinct(),
                    "o_custkey",
                )
                .agg(F.count("*").alias("xi"))
            )
        )
    )

    # symmetric difference of (merged sketch, direct union sketch) must be
    # EMPTY — the KMV mergeability theorem as an exact in-plan verdict
    merge_ok = (
        sku.exceptAll(sku_direct)
        .unionByName(sku_direct.exceptAll(sku))
        .agg((F.count("*") == 0).alias("merge_consistent"))
    )

    def est(n_col: str, t_col: str):
        return F.when(F.col(n_col) < _KMV_K, F.col(n_col).cast("bigint")).otherwise(
            F.round(
                F.lit(float(_KMV_K - 1)) * float(_KMV_SCALE)
                / F.col(t_col).cast("double")
            ).cast("bigint")
        )

    # 1 row — materialized so the 4-branch metric union below reads it
    # instead of replaying the exact-count aggregates per branch
    # (52 -> ~8 audited exchanges, orders scanned once per exact count)
    base = (
        stats.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(inter))
        .withColumn("ti", F.least("ta", "tb"))
        .localCheckpoint()
    )
    rows = [
        ("seg_urgent", est("na", "ta"), F.col("xa"), 0),
        ("seg_high", est("nb", "tb"), F.col("xb"), 1),
        ("union", est("nu", "tu"), F.col("xu"), 2),
        (
            "intersection",
            F.round(
                F.col("ni").cast("double") * float(_KMV_SCALE)
                / F.col("ti").cast("double")
            ).cast("bigint"),
            F.col("xi"),
            3,
        ),
    ]
    out = None
    for metric, e, x, ordinal in rows:
        part = base.select(
            F.lit(metric).alias("metric"),
            e.alias("estimate"),
            x.cast("bigint").alias("exact"),
            F.lit(ordinal).alias("_ord"),
        )
        out = part if out is None else out.unionByName(part)
    return (
        out.crossJoin(F.broadcast(merge_ok))
        .select(
            "metric",
            "estimate",
            "exact",
            F.round(
                F.abs(F.col("estimate") - F.col("exact")) * 1000.0 / F.col("exact")
            )
            .cast("bigint")
            .alias("abs_err_permille"),
            "merge_consistent",
            "_ord",
        )
        .orderBy("_ord")
        .drop("_ord")
    )
