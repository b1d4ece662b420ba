"""Round-5 twentieth batch: matched-cohort causal estimate, star-schema
mart build, cycle-time percentile trend.

Three more named operators:

- Matched-cohort ATT estimate — observational causal inference's
  workhorse: each treated unit (BUILDING-segment customer) matches
  the nearest control on the account-balance covariate, with
  replacement, via the SORT-MERGE nearest-neighbor device (one
  ordered pass over the union; last/first IGNORE NULLS windows find
  the previous and next control; the nearer wins, previous on ties)
  — the same shape as the as-of join family, O(n log n) instead of
  the naive treated x control cross join. Outcomes are exact cents;
  the ATT is one rounded division.
- Star-schema mart build — the warehouse composition: build a
  customer dimension with deterministic surrogate keys, write it,
  build the orders fact keyed by those surrogates, write it
  partitioned by year, then read BOTH back and produce the
  year x region rollup plus referential-integrity verdicts from the
  materialized mart — certifying the whole write -> key -> join ->
  read-back chain, not just the plan.
- Order-to-ship cycle time trend: per ship month, exact p50/p90 rank
  picks and the exact mean of the order->ship day gap — the
  operations KPI that catches fulfillment drift; percentile ranks
  are pinned integer conventions over a pinned total order.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): covariates,
outcomes, day gaps and surrogate keys are exact integers; each
reported ratio is a single rounded IEEE division.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_row_number, ordered_neighbor_carry, int_div
from .queries import _scratch_dir
from .registry import register

# ---------------------------------------------------------------------------
# Matched-cohort ATT
# ---------------------------------------------------------------------------

_TREATED_SEGMENT = "BUILDING"


@register(
    "causal_matched_cohort",
    oracle=f"""
    WITH outcome AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS spend
        FROM orders GROUP BY 1
    ),
    units AS (
        SELECT c.c_custkey AS ck,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
               (c.c_mktsegment = '{_TREATED_SEGMENT}') AS treated,
               coalesce(o.spend, 0) AS spend
        FROM customer c LEFT JOIN outcome o ON o.o_custkey = c.c_custkey
    ),
    scanned AS (
        SELECT *,
               last_value(CASE WHEN NOT treated THEN bal END IGNORE NULLS)
                   OVER w_prev AS pbal,
               last_value(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
                   OVER w_prev AS pspend,
               first_value(CASE WHEN NOT treated THEN bal END IGNORE NULLS)
                   OVER w_next AS nbal,
               first_value(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
                   OVER w_next AS nspend
        FROM units
        WINDOW w_prev AS (ORDER BY bal, ck
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               w_next AS (ORDER BY bal, ck
                          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    matched AS (
        SELECT ck, bal, spend,
               CASE WHEN nbal IS NULL THEN pspend
                    WHEN pbal IS NULL THEN nspend
                    WHEN abs(bal - pbal) <= abs(bal - nbal) THEN pspend
                    ELSE nspend END AS ctl_spend
        FROM scanned WHERE treated
    )
    SELECT CAST(count(*) AS BIGINT) AS n_treated,
           CAST(round(1.0 * sum(spend) / count(*)) AS BIGINT)
               AS mean_treated_cents,
           CAST(round(1.0 * sum(ctl_spend) / count(*)) AS BIGINT)
               AS mean_matched_cents,
           CAST(round(1.0 * sum(spend - ctl_spend) / count(*)) AS BIGINT)
               AS att_cents
    FROM matched
    """,
    doc="Matched-cohort ATT — observational causal inference's "
        f"workhorse: every {_TREATED_SEGMENT}-segment customer "
        "(treated) matches the nearest OTHER-segment customer "
        "(control) on the account-balance covariate, with "
        "replacement, and the average treatment effect on the "
        "treated is mean(treated spend - matched control spend). "
        "Matching runs as ONE ordered pass over the union (the "
        "sort-merge nearest-neighbor device shared with the as-of "
        "family): last/first IGNORE NULLS windows over the pinned "
        "(balance, custkey) order surface the previous and next "
        "control, the nearer wins, previous on exact ties — "
        "O(n log n) and integer-deterministic, vs the naive treated "
        "x control cross join. Outcomes are exact cents (customers "
        "without orders count zero, a pinned convention). The 100 TB "
        "shape: one outcome aggregate (partial-combining), then the "
        "covariate sort EXECUTES range-partitioned via operators/"
        "ranks.ordered_neighbor_carry (partitioned local windows + a "
        "broadcast P-row cross-partition edge carry — the same "
        "decomposition the as-of family documents), and a single-row "
        "reduce; matching quality at scale improves with density, "
        "not cost.",
)
def causal_matched_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    outcome = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("spend")
        )
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
        (F.col("c_mktsegment") == _TREATED_SEGMENT).alias("treated"),
    )
    units = c.join(outcome, c.ck == outcome.o_custkey, "left").select(
        "ck", "bal", "treated", F.coalesce(F.col("spend"), F.lit(0)).alias("spend")
    )
    # Nearest control on either side of the (bal, ck) order WITHOUT the
    # single-partition window: operators/ranks.ordered_neighbor_carry
    # range-partitions the union, finds local neighbors under a
    # PARTITIONED window, and carries cross-partition edges through a
    # broadcast P-row table — the distributed sort-merge matching form.
    scanned = ordered_neighbor_carry(
        units.withColumn("_ctl", ~F.col("treated")),
        ["bal", "ck"],
        "_ctl",
        ["bal", "spend"],
    ).select(
        "ck",
        "bal",
        "treated",
        "spend",
        F.col("_prev_bal").alias("pbal"),
        F.col("_prev_spend").alias("pspend"),
        F.col("_next_bal").alias("nbal"),
        F.col("_next_spend").alias("nspend"),
    )
    matched = scanned.filter("treated").select(
        "spend",
        F.when(F.col("nbal").isNull(), F.col("pspend"))
        .when(F.col("pbal").isNull(), F.col("nspend"))
        .when(
            F.abs(F.col("bal") - F.col("pbal"))
            <= F.abs(F.col("bal") - F.col("nbal")),
            F.col("pspend"),
        )
        .otherwise(F.col("nspend"))
        .alias("ctl_spend"),
    )
    return matched.agg(
        F.count("*").cast("bigint").alias("n_treated"),
        F.round(F.lit(1.0) * F.sum("spend") / F.count("*"))
        .cast("bigint")
        .alias("mean_treated_cents"),
        F.round(F.lit(1.0) * F.sum("ctl_spend") / F.count("*"))
        .cast("bigint")
        .alias("mean_matched_cents"),
        F.round(F.lit(1.0) * F.sum(F.col("spend") - F.col("ctl_spend")) / F.count("*"))
        .cast("bigint")
        .alias("att_cents"),
    )


# ---------------------------------------------------------------------------
# Star-schema mart build
# ---------------------------------------------------------------------------


@register(
    "mart_star_schema_build",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
           r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(0 AS BIGINT) AS fact_orphans
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2 ORDER BY order_year, region
    """,
    doc="Star-schema mart build — the warehouse composition under the "
        "hash gate: (1) build dim_customer (customer x nation x "
        "region, broadcast dims) with DETERMINISTIC surrogate keys "
        "(dense row_number over the natural key — replayable, unlike "
        "monotonically_increasing_id) and WRITE it; (2) build "
        "fact_orders keyed by those surrogates and WRITE it "
        "partitioned by order year; (3) read BOTH back from parquet "
        "and produce the year x region revenue rollup PLUS the "
        "referential-integrity verdict (fact rows whose surrogate "
        "has no dimension row — pinned 0) from the MATERIALIZED "
        "mart. The oracle recomputes the rollup straight from the "
        "sources, so a hash match certifies the entire write -> "
        "surrogate-key -> join -> partitioned-read-back chain, not "
        "just a logical plan. The 100 TB shape: dims broadcast, the "
        "fact writes through a year-partitioned layout (partition "
        "pruning for every time-sliced mart query downstream), the "
        "surrogate join is dimension-sized, and the integrity check "
        "is an anti-join that partial-counts — the nightly "
        "build-and-verify every warehouse runs.",
)
def mart_star_schema_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("star_mart")
    dim_path = _os.path.join(base, "dim_customer")
    fact_path = _os.path.join(base, "fact_orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )
    # Deterministic dense surrogate keys WITHOUT the single-partition
    # row_number window: the partition-offset (zipWithIndex-style)
    # assignment from operators/ranks — replayable, unlike
    # monotonically_increasing_id, and parallel, unlike Window.orderBy.
    dim = global_row_number(dim, ["c_custkey"], rn_col="customer_sk").select(
        "c_custkey", "nation", "region", F.col("customer_sk").cast("bigint").alias("customer_sk")
    )
    dim.write.mode("overwrite").parquet(dim_path)
    dim_back = spark.read.parquet(dim_path)
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    fact = o.join(
        F.broadcast(dim_back.select("c_custkey", "customer_sk")),
        o.o_custkey == F.col("c_custkey"),
    ).select("customer_sk", "order_year", "cents")
    fact.write.mode("overwrite").partitionBy("order_year").parquet(fact_path)
    fact_back = spark.read.parquet(fact_path)
    orphans = fact_back.join(
        dim_back.select("customer_sk"), "customer_sk", "anti"
    ).agg(F.count("*").cast("bigint").alias("fact_orphans"))
    rollup = (
        fact_back.join(F.broadcast(dim_back), "customer_sk")
        .groupBy("order_year", "region")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
    return (
        rollup.crossJoin(F.broadcast(orphans))
        .select(
            F.col("order_year").cast("bigint").alias("order_year"),
            "region",
            "n_orders",
            "revenue_cents",
            "fact_orphans",
        )
        .orderBy("order_year", "region")
    )


# ---------------------------------------------------------------------------
# Cycle-time percentile trend
# ---------------------------------------------------------------------------


@register(
    "orders_cycle_time_trend",
    oracle="""
    WITH cycles AS (
        SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
               CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    ranked AS (
        SELECT month, d,
               row_number() OVER (PARTITION BY month
                                  ORDER BY d, l_orderkey, l_linenumber)
                   AS rk,
               count(*) OVER (PARTITION BY month) AS n,
               CAST(sum(d) OVER (PARTITION BY month) AS BIGINT) AS s
        FROM cycles
    )
    SELECT month,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rk = (n + 1) // 2 THEN d END) AS BIGINT)
               AS p50_days,
           CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN d END) AS BIGINT)
               AS p90_days,
           CAST(round(1000000.0 * max(s) / max(n)) AS BIGINT)
               AS mean_days_micro
    FROM ranked
    GROUP BY month ORDER BY month
    """,
    doc="Order-to-ship cycle-time trend: per ship month, the exact "
        "p50 and p90 of the order->ship day gap plus the exact mean "
        "— the fulfillment KPI that catches operational drift before "
        "customers do. Percentiles are PINNED integer rank "
        "conventions (lower median (n+1)//2; p90 at ceil(0.9n) = "
        "(9n+9)//10) over the pinned (days, orderkey, linenumber) "
        "total order, so both engines pick the identical element "
        "even through ties; the mean is exact day-sums with one "
        "rounded division. The 100 TB shape: the fact-to-fact join "
        "is co-partitioned on orderkey (the S10 bucketing layout), "
        "the rank window partitions per month (embarrassingly "
        "parallel across the calendar), and the output is one row "
        "per month; the documented escalation for per-month rank "
        "sorts at extreme density is the mergeable quantile-sketch "
        "family, judged against this exact baseline.",
)
def orders_cycle_time_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cycles = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("d"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("month").orderBy("d", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("month")
    ranked = cycles.select(
        "month",
        "d",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
        F.sum("d").over(wn).cast("bigint").alias("s"),
    )
    return (
        ranked.groupBy("month")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            F.max(
                F.when(F.col("rk") == int_div(F.col("n") + 1, 2), F.col("d"))
            )
            .cast("bigint")
            .alias("p50_days"),
            F.max(
                F.when(
                    F.col("rk") == int_div(9 * F.col("n") + 9, 10), F.col("d")
                )
            )
            .cast("bigint")
            .alias("p90_days"),
            F.round(F.lit(1_000_000.0) * F.max("s") / F.max("n"))
            .cast("bigint")
            .alias("mean_days_micro"),
        )
        .orderBy("month")
    )
