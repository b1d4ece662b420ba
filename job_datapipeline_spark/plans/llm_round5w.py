"""Round-5 twenty-third batch: bucketed-layout co-located join.

One operator, closing the loop on a claim many docstrings lean on:

- Bucketed-layout join — the "S10 bucketing layout" materialized and
  PROVEN: orders and lineitem are written as bucketed tables (same
  bucket count, same key), re-read through the catalog, and joined
  with a merge hint; the operator then counts the shuffle exchanges
  in the JOIN's own physical plan and emits that count as an output
  column PINNED to zero — so the hash gate itself certifies that the
  co-located join moved no rows, not just that the aggregate came
  out right. This is the layout every fact-to-fact join docstring in
  this repo references; at 100 TB it is the difference between a
  join that shuffles two fact tables and one that streams
  bucket-by-bucket.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): revenue is
exact cents; the plan verdict is an integer count.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .queries import _scratch_dir
from .registry import register

_BUCKETS = 8


@register(
    "layout_bucketed_join",
    oracle="""
    SELECT o.o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents,
           CAST(0 AS BIGINT) AS join_shuffle_exchanges
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY status
    """,
    doc=f"Bucketed-layout co-located join — the S10 bucketing layout "
        f"materialized and PROVEN: orders and lineitem write as "
        f"{_BUCKETS}-bucket tables on the order key (bucketBy + "
        "sortBy through the catalog — hash-partitioned AND sorted ON "
        "DISK), re-read, and merge-joined; the operator counts the "
        "'Exchange hashpartitioning' nodes in the JOIN's own executed "
        "plan and emits the count as an output column pinned to ZERO, "
        "so the correctness gate certifies the physical property "
        "(no rows moved for the join), not just the aggregate values. "
        "Measured here: the identical unbucketed join plans 2 shuffle "
        "exchanges; the bucketed one plans 0 (and 0 sorts — sortBy "
        "pre-sorted the buckets). The 100 TB shape: this is THE "
        "fact-to-fact join strategy — pay one bucketed write, then "
        "every orderkey join streams bucket-by-bucket forever; "
        "bucket count picks the join parallelism and should track "
        "cluster cores x a small factor at target scale, not "
        f"{_BUCKETS} (fixture-sized here so the smoke fixture "
        "produces multi-row buckets).",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("bucketed_layout")
    spark.sql("DROP TABLE IF EXISTS s10_bucketed_orders")
    spark.sql("DROP TABLE IF EXISTS s10_bucketed_lineitem")
    (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .write.bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _os.path.join(base, "orders"))
        .mode("overwrite")
        .saveAsTable("s10_bucketed_orders")
    )
    (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        )
        .write.bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _os.path.join(base, "lineitem"))
        .mode("overwrite")
        .saveAsTable("s10_bucketed_lineitem")
    )
    o = spark.table("s10_bucketed_orders")
    li = spark.table("s10_bucketed_lineitem")
    joined = o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
    # plan verdict: shuffle exchanges the JOIN itself plans (metadata
    # introspection on the driver — no data is collected)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    n_shuffles = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    return (
        joined.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .select(
            "status",
            "n_lines",
            "revenue_cents",
            F.lit(n_shuffles).cast("bigint").alias("join_shuffle_exchanges"),
        )
        .orderBy("status")
    )
