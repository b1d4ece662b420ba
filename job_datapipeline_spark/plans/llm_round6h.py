"""Round-6 eighth batch: winsorized mean via exact rank-pick bounds.

One more named operator: the 5/95 winsorized mean of order totals —
the robust-location companion to agg_trimmed_mean (trimming DROPS the
tails and shrinks n; winsorizing CLAMPS them, keeping every row's vote
but bounding its influence — the convention in compensation analytics
and outlier-heavy KPI reporting).  The clamp bounds are exact p05/p95
rank picks via operators/ranks.exact_rank_values (only the partitions
containing a target rank sort), the clamped sum is an exact bigint,
and the reported means are one rounded division each.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): cents and rank
picks are exact bigints; each mean is one rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_rank_values, int_div
from .registry import register


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        FROM orders
    ),
    r AS (
        SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM data
    ),
    bounds AS (
        SELECT CAST(max(CASE WHEN rn = (n + 19) // 20 THEN v END) AS BIGINT)
                   AS lo_v,
               CAST(max(CASE WHEN rn = (19 * n + 19) // 20 THEN v END)
                    AS BIGINT) AS hi_v,
               CAST(max(n) AS BIGINT) AS n
        FROM r
    )
    SELECT b.n AS n_orders, b.lo_v AS lo_cents, b.hi_v AS hi_cents,
           CAST(round(1.0 * sum(least(greatest(d.v, b.lo_v), b.hi_v)) / b.n)
                AS BIGINT) AS winsorized_mean_cents,
           CAST(round(1.0 * sum(d.v) / b.n) AS BIGINT) AS raw_mean_cents
    FROM data d CROSS JOIN bounds b
    GROUP BY b.n, b.lo_v, b.hi_v
    """,
    doc="5/95 winsorized mean of order totals — the robust-location "
        "companion to agg_trimmed_mean: instead of DROPPING the tails "
        "(which shrinks n and discards real revenue), winsorizing "
        "CLAMPS every value into [p05, p95], keeping each row's vote "
        "while bounding its influence — the convention in compensation "
        "analytics and outlier-heavy KPI reporting. The clamp bounds "
        "are exact rank picks at ceil(n/20) and ceil(19n/20), executed "
        "by operators/ranks.exact_rank_values (range partition + "
        "candidate-partition-only sorts — no global window, no full "
        "sort); the clamped sum is an exact bigint and both reported "
        "means are one rounded division. The 100 TB shape: one pruned "
        "rank-pick pass + one map-side clamp-and-aggregate scan of the "
        "checkpointed value frame; the raw mean rides the same "
        "aggregate for free.",
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = (
        table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            "o_orderkey",
        )
        .localCheckpoint()  # feeds the rank-pick pass AND the clamp scan
    )
    p05 = lambda n: int_div(n + 19, 20)  # noqa: E731
    p95 = lambda n: int_div(19 * n + 19, 20)  # noqa: E731
    # ONE pruned rank-pick pass serves both percentiles AND the total row
    # count (total_col keeps the n the pruning predicate already computed,
    # saving the separate full count pass + its broadcast crossJoin).
    picks = exact_rank_values(
        data, ["v", "o_orderkey"], [p05, p95], rn_col="rn", total_col="n"
    )
    bounds = picks.agg(
        F.max(F.when(F.col("rn") == p05(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("lo_v"),
        F.max(F.when(F.col("rn") == p95(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("hi_v"),
        F.max("n").cast("bigint").alias("n"),
    )
    clamped = data.crossJoin(F.broadcast(bounds)).agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max("lo_v").cast("bigint").alias("lo_cents"),
        F.max("hi_v").cast("bigint").alias("hi_cents"),
        F.round(
            F.lit(1.0)
            * F.sum(F.least(F.greatest(F.col("v"), F.col("lo_v")), F.col("hi_v")))
            / F.max("n")
        )
        .cast("bigint")
        .alias("winsorized_mean_cents"),
        F.round(F.lit(1.0) * F.sum("v") / F.max("n"))
        .cast("bigint")
        .alias("raw_mean_cents"),
    )
    return clamped
