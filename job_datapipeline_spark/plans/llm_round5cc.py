"""Round-5 twenty-ninth batch: SPC p-chart, difference-in-differences.

Two more named operators:

- Return-rate p-chart — statistical process control over the monthly
  return share: centerline from the pooled rate, 3-sigma binomial
  control limits per month (limits vary with each month's n, the
  p-chart's defining feature), and the out-of-control flag decided by
  INTEGER cross-multiplication ((r*N - R*n)^2 vs 9*R*(N-R)*n scaled) —
  no sqrt near the decision; the displayed limits are single rounded
  expressions. The first drift alarm every ops/quality team wires.
- Difference-in-differences — the third leg of the causal family
  (A/B z-test: randomized; matched cohort: covariate-matched;
  DiD: parallel-trends): treatment by user-id parity, pre/post split
  at the series midpoint, outcome = purchases per user-day; the DiD
  estimate (T_post - T_pre) - (C_post - C_pre) is a sum of four
  exact-integer ratios, each rounded once.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): counts are
exact; control flags cross-multiply in integers (widened in double
where the square exceeds int64 — deterministic either way); each
reported rate is one rounded division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# SPC p-chart
# ---------------------------------------------------------------------------


@register(
    "quality_control_pchart",
    oracle="""
    WITH monthly AS (
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
                   AS r
        FROM lineitem GROUP BY 1
    ),
    pooled AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(r) AS BIGINT) AS rr
        FROM monthly
    )
    SELECT m.month, m.n, m.r,
           CAST(round(1000000.0 * m.r / m.n) AS BIGINT) AS rate_micro,
           CAST(round(1000000.0 * p.rr / p.nn) AS BIGINT)
               AS centerline_micro,
           CAST(round(1000000.0
                      * (1.0 * p.rr / p.nn
                         + 3.0 * sqrt((1.0 * p.rr / p.nn)
                                      * (1.0 - 1.0 * p.rr / p.nn)
                                      / m.n))) AS BIGINT) AS ucl_micro,
           ((1.0 * m.r * p.nn - 1.0 * p.rr * m.n)
            * (1.0 * m.r * p.nn - 1.0 * p.rr * m.n)
            > 9.0 * p.rr * (p.nn - p.rr) * m.n) AS out_of_control
    FROM monthly m CROSS JOIN pooled p
    ORDER BY month
    """,
    doc="Return-rate p-chart — statistical process control over the "
        "monthly return share: pooled centerline, 3-sigma binomial "
        "control limits that vary with each month's n (the p-chart's "
        "defining feature — a small month gets wide limits, so volume "
        "dips don't false-alarm), and the out-of-control verdict from "
        "the CROSS-MULTIPLIED form (r*N - R*n)^2 > 9*R*(N-R)*n — "
        "algebraically identical to |p - pbar| > 3*sigma with no sqrt "
        "or division near the decision (evaluated in double because "
        "the square can exceed int64 at bench scale; the inputs are "
        "exact integers, so the expression is deterministic — the "
        "widened-integer device). The 100 TB shape: one scan "
        "partial-aggregates both counts per month in the same pass, "
        "the pooled totals reduce from the month frame, and the "
        "1-row pooled frame broadcasts back — the whole chart is one "
        "scan plus calendar-frame work.",
)
def quality_control_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("r"),
        )
        .localCheckpoint()  # feeds the pooled totals AND the chart rows
    )
    pooled = monthly.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
    )
    pbar = F.lit(1.0) * F.col("rr") / F.col("nn")
    diff = (
        F.lit(1.0) * F.col("r") * F.col("nn")
        - F.lit(1.0) * F.col("rr") * F.col("n")
    )
    return (
        monthly.crossJoin(F.broadcast(pooled))
        .select(
            "month",
            "n",
            "r",
            F.round(F.lit(1_000_000.0) * F.col("r") / F.col("n"))
            .cast("bigint")
            .alias("rate_micro"),
            F.round(F.lit(1_000_000.0) * pbar).cast("bigint").alias(
                "centerline_micro"
            ),
            F.round(
                F.lit(1_000_000.0)
                * (pbar + 3.0 * F.sqrt(pbar * (1.0 - pbar) / F.col("n")))
            )
            .cast("bigint")
            .alias("ucl_micro"),
            (
                diff * diff
                > F.lit(9.0)
                * F.col("rr")
                * (F.col("nn") - F.col("rr"))
                * F.col("n")
            ).alias("out_of_control"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


@register(
    "events_diff_in_diff",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    cells AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS treated,
               CAST(CAST(ts AS DATE)
                    >= b.d0 + CAST(floor(date_diff('day', b.d0, b.d1) / 2)
                                   AS INTEGER) AS INTEGER) AS post,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events, bounds b
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT max(CASE WHEN treated = 1 AND post = 1
                        THEN 1000000.0 * purchases / n_users END) AS tp,
               max(CASE WHEN treated = 1 AND post = 0
                        THEN 1000000.0 * purchases / n_users END) AS tq,
               max(CASE WHEN treated = 0 AND post = 1
                        THEN 1000000.0 * purchases / n_users END) AS cp,
               max(CASE WHEN treated = 0 AND post = 0
                        THEN 1000000.0 * purchases / n_users END) AS cq
        FROM cells
    )
    SELECT CAST(round(tp) AS BIGINT) AS treated_post_micro,
           CAST(round(tq) AS BIGINT) AS treated_pre_micro,
           CAST(round(cp) AS BIGINT) AS control_post_micro,
           CAST(round(cq) AS BIGINT) AS control_pre_micro,
           CAST(round((tp - tq) - (cp - cq)) AS BIGINT) AS did_micro
    FROM wide
    """,
    doc="Difference-in-differences — the third leg of the causal "
        "family (A/B z-test: randomized assignment; matched cohort: "
        "covariate matching; DiD: parallel trends): treatment by "
        "user-id parity, pre/post split at the DERIVED series "
        "midpoint (never wall-clock), outcome = purchases per active "
        "user in each cell. The estimate (T_post - T_pre) - "
        "(C_post - C_pre) removes both the group fixed effect and "
        "the common time trend; each cell mean is one exact-integer "
        "ratio in micro units and the DiD combines the four unrounded "
        "ratios with ONE final rounding (rounding each cell first and "
        "then differencing would stack four half-ulp errors into the "
        "headline number). The 100 TB shape: one scan partial-"
        "aggregates purchases and distinct users onto the FOUR "
        "(treated x post) cells; the bounds are a 1-row broadcast; "
        "output is one row at any scale.",
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            (
                F.col("ts").cast("date")
                >= F.date_add(
                    F.col("d0"),
                    F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast(
                        "int"
                    ),
                )
            )
            .cast("int")
            .alias("post"),
            "user_id",
            "event_type",
        )
        .groupBy("treated", "post")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("purchases"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    rate = F.lit(1_000_000.0) * F.col("purchases") / F.col("n_users")
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), rate)).alias(
            "tp"
        ),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), rate)).alias(
            "tq"
        ),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), rate)).alias(
            "cp"
        ),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), rate)).alias(
            "cq"
        ),
    )
    return wide.select(
        F.round("tp").cast("bigint").alias("treated_post_micro"),
        F.round("tq").cast("bigint").alias("treated_pre_micro"),
        F.round("cp").cast("bigint").alias("control_post_micro"),
        F.round("cq").cast("bigint").alias("control_pre_micro"),
        F.round((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")))
        .cast("bigint")
        .alias("did_micro"),
    )
