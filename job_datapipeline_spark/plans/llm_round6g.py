"""Round-6 seventh batch: customer segment migration matrix, Hill
tail-index estimator.

Two more named operators:

- Segment migration: customers assigned an exact spend tertile in each
  half of the order history (split at a pinned date), crossed into the
  4x4 transition matrix with explicit "new" (absent in H1) and
  "churned" (absent in H2) states — the retention-marketing staple
  behind "are my high-value customers sliding".  Tertiles execute as
  operators/ranks.exact_ntile per half; the matrix is a full-outer
  join on the customer key.
- Hill estimator of the activity-distribution tail index over the
  top-k most active users: alpha = (k-1) / (sum ln x_i - k ln x_min)
  over the descending order statistics — the standard power-law tail
  measure (alpha near 1-2 = heavy tail, the regime where per-user
  state and hot-key mitigations earn their keep).  The log sum is an
  ORDER-PINNED fold over the sorted top-k list, so the float is
  bit-identical on both engines.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): counts and
tertile ranks are exact integers; the Hill fold is order-pinned and
the reported alpha is one rounded division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_ntile
from .registry import register

# ---------------------------------------------------------------------------
# Segment migration
# ---------------------------------------------------------------------------

_MIG_SPLIT = "1998-07-01"  # pinned midpoint of the 1995-2001 order span


@register(
    "customer_segment_migration",
    oracle=f"""
    WITH h1 AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '{_MIG_SPLIT}'
        GROUP BY 1
    ),
    h2 AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIG_SPLIT}'
        GROUP BY 1
    ),
    s1 AS (SELECT ck, ntile(3) OVER (ORDER BY cents, ck) AS seg FROM h1),
    s2 AS (SELECT ck, ntile(3) OVER (ORDER BY cents, ck) AS seg FROM h2)
    SELECT CAST(coalesce(s1.seg, 0) AS BIGINT) AS from_seg,
           CAST(coalesce(s2.seg, 0) AS BIGINT) AS to_seg,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM s1 FULL OUTER JOIN s2 ON s2.ck = s1.ck
    GROUP BY 1, 2
    ORDER BY from_seg, to_seg
    """,
    doc=f"Customer spend-tertile migration across the {_MIG_SPLIT} "
        "split: each half's customers rank into exact tertiles "
        "(1=low..3=high, ties pinned by custkey), and the full-outer "
        "join yields the 4x4 transition census with segment 0 encoding "
        "absence — (0, s) rows are NEW customers, (s, 0) rows are "
        "CHURNED — the retention matrix every lifecycle-marketing "
        "review starts from (the orders-side companion to "
        "events_markov_transitions, and the dynamic view behind "
        "orders_rfm_segmentation's snapshot). Tertiles execute as "
        "operators/ranks.exact_ntile per half — no single-partition "
        "window over the customer frames. The 100 TB shape: two "
        "date-pruned partial-combining rollups to the customer dim, "
        "two two-pass ntiles over that dim, one dim-keyed full-outer "
        "join (cannot broadcast by definition, sort-merge is "
        "correct), 16-row output.",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    split = F.lit(_MIG_SPLIT).cast("timestamp")

    def half_segments(df):
        spend = df.groupBy(F.col("o_custkey").alias("ck")).agg(
            F.sum("cents").cast("bigint").alias("spend")
        )
        return exact_ntile(spend, ["spend", "ck"], 3, out_col="seg").select(
            "ck", "seg"
        )

    s1 = half_segments(orders.where(F.col("o_orderdate") < split))
    s2 = half_segments(orders.where(F.col("o_orderdate") >= split))
    return (
        s1.withColumnRenamed("seg", "seg1")
        .join(s2.withColumnRenamed("seg", "seg2"), "ck", "full_outer")
        .groupBy(
            F.coalesce(F.col("seg1"), F.lit(0)).cast("bigint").alias("from_seg"),
            F.coalesce(F.col("seg2"), F.lit(0)).cast("bigint").alias("to_seg"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("from_seg", "to_seg")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_K = 200


@register(
    "events_hill_tail_index",
    oracle=f"""
    WITH activity AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    topk AS (
        SELECT n FROM activity
        ORDER BY n DESC, user_id
        LIMIT {_HILL_K}
    ),
    folded AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(min(n) AS BIGINT) AS x_min,
               -- order-pinned fold of the log order statistics
               list_reduce(
                   list_prepend(0.0, list(ln(1.0 * n) ORDER BY n)),
                   (acc, x) -> acc + x) AS s
        FROM topk
    )
    SELECT k, x_min,
           CAST(round(1000.0 * (k - 1) / (s - k * ln(1.0 * x_min)))
                AS BIGINT) AS alpha_milli
    FROM folded
    """,
    doc=f"Hill estimator of the user-activity tail index over the "
        f"top-{_HILL_K} most active users: with descending order "
        "statistics x_1..x_k, alpha = (k-1) / (sum ln x_i - k ln x_k) "
        "— the standard power-law tail measure. Alpha in [1, 2] means "
        "infinite-variance heavy tails (the regime where hot-key "
        "salting, per-user state caps and the CF hot cap are "
        "load-bearing, not paranoia); alpha > 3 means near-Gaussian  "
        "concentration. Top-k selection is sort-limit "
        "(TakeOrderedAndProject, ties pinned by user), the log sum is "
        "an ORDER-PINNED fold over the k-row list (bit-identical "
        "float on both engines — the PCA-norm device), and the "
        "reported alpha is one rounded division. The 100 TB shape: "
        "one partial-combining activity rollup, a k-row reduction; k "
        "is a dial.",
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    activity = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    topk = activity.orderBy(F.col("n").desc(), "user_id").limit(_HILL_K)
    folded = topk.agg(
        F.count("*").cast("bigint").alias("k"),
        F.min("n").cast("bigint").alias("x_min"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("n").cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + F.log(x),
        ).alias("s"),
    )
    return folded.select(
        "k",
        "x_min",
        F.round(
            F.lit(1000.0)
            * (F.col("k") - 1)
            / (F.col("s") - F.col("k") * F.log(F.lit(1.0) * F.col("x_min")))
        )
        .cast("bigint")
        .alias("alpha_milli"),
    )
