"""Round-5 twenty-fifth batch: feature-store build.

One operator:

- Customer feature-store build — the feature-engineering composition
  every churn/LTV model consumes: one pass over orders produces the
  classic RFM-plus features per customer (recency, tenure, frequency,
  monetary, average inter-order gap) PLUS the temporal churn label
  (no order in the trailing window before the snapshot), the table is
  MATERIALIZED to parquet and read back — the feature-store
  round trip — and the hash gate certifies the whole build. Every
  feature is exact integer arithmetic off the derived snapshot date;
  the only divisions are per-customer display ratios. Time-safe by
  construction: features use the full history, the label uses only
  the trailing window, and both derive from the same snapshot — the
  leakage rule stated as code.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): day counts and
cents are exact bigints; the average gap is one rounded division.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .queries import _scratch_dir
from .registry import register

_CHURN_WINDOW_DAYS = 180


@register(
    "ml_feature_store_build",
    oracle=f"""
    WITH snap AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS snap_d FROM orders
    ),
    feats AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents,
               CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
                              max(s.snap_d)) AS BIGINT) AS recency_days,
               CAST(date_diff('day', min(CAST(o_orderdate AS DATE)),
                              max(s.snap_d)) AS BIGINT) AS tenure_days
        FROM orders, snap s
        GROUP BY o_custkey
    )
    SELECT f.o_custkey AS custkey,
           n.n_name AS nation,
           f.frequency, f.monetary_cents, f.recency_days, f.tenure_days,
           CASE WHEN f.frequency > 1
                THEN CAST(round(1000000.0 * (f.tenure_days - f.recency_days)
                                / (f.frequency - 1)) AS BIGINT)
                ELSE NULL END AS avg_gap_days_micro,
           (f.recency_days > {_CHURN_WINDOW_DAYS}) AS churned
    FROM feats f
    JOIN customer c ON c.c_custkey = f.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY custkey
    """,
    doc="Customer feature-store build — the feature-engineering "
        "composition every churn/LTV model consumes: ONE pass over "
        "orders yields RFM-plus features per customer (recency and "
        "tenure in exact days off the DERIVED snapshot date — never "
        "wall-clock; frequency; exact monetary cents; average "
        "inter-order gap = (tenure - recency)/(frequency - 1), the "
        "algebraic identity that avoids a second lag-window pass "
        f"entirely) plus the churn label (no order in the trailing "
        f"{_CHURN_WINDOW_DAYS} days). The table MATERIALIZES to "
        "parquet and is read back — the feature-store round trip — "
        "so the hash gate certifies the built artifact, not a plan. "
        "Time-safety is structural: features summarize the full "
        "history, the label reads only the trailing window, both off "
        "one snapshot — the leakage rule as code, not review "
        "checklist. The 100 TB shape: one partial-aggregatable "
        "rollup onto the customer dimension, broadcast dims for "
        "enrichment, one dimension-sized write; the avg-gap identity "
        "saves the per-customer sort a lag-based version would pay.",
)
def ml_feature_store_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _os.path.join(_scratch_dir("feature_store"), "customer_features")
    o = table(spark, sf_dir, "orders")
    snap = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("snap_d"))
    feats = (
        o.crossJoin(F.broadcast(snap))
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
            F.datediff(
                F.max("snap_d"), F.max(F.col("o_orderdate").cast("date"))
            )
            .cast("bigint")
            .alias("recency_days"),
            F.datediff(
                F.max("snap_d"), F.min(F.col("o_orderdate").cast("date"))
            )
            .cast("bigint")
            .alias("tenure_days"),
        )
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    built = (
        feats.join(F.broadcast(c), feats.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("n_name").alias("nation"),
            "frequency",
            "monetary_cents",
            "recency_days",
            "tenure_days",
            F.when(
                F.col("frequency") > 1,
                F.round(
                    F.lit(1_000_000.0)
                    * (F.col("tenure_days") - F.col("recency_days"))
                    / (F.col("frequency") - 1)
                ).cast("bigint"),
            ).alias("avg_gap_days_micro"),
            (F.col("recency_days") > _CHURN_WINDOW_DAYS).alias("churned"),
        )
    )
    built.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("custkey")
