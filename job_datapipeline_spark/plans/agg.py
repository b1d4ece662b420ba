"""Aggregates and statistics: rollups and grouping sets, exact and
approximate distincts, mergeable sketches (theta, KMV, HLL, Bloom,
count-min, Misra-Gries, quantile), robust and rank statistics
(median/MAD, trimmed and winsorized means, bootstrap and binomial CIs),
distribution tests (chi-square, KS, Mann-Whitney, Wasserstein, Benford),
plus the quality, compliance and audit checks built on them.

Sketch queries carry in-plan verdict columns that compare the sketch
with the exact answer, so the oracle pins both.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

import os as _os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..deploy import ensure_shipped
from ..functions.scale import fan_out
from ..functions.text import tokenize
from ..operators.ranks import exact_rank_values, global_cumsum, int_div
from .common import BLOOM_M, bloom_bit_col, scratch_dir
from .registry import register


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (SURVEY §2.4 extended surface) — subtotal rows "
        "carry nulls in the rolled-up keys, identical in both engines.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS sum_price,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over orders.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Multi distinct-aggregate (expand + two-phase agg under the hood).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count("*").alias("n"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact percentiles (linear interpolation) per group — Spark "
        "percentile() and DuckDB quantile_cont share the definition, so "
        "values match to rounding. SMALL-GROUP-ONLY: exact percentile "
        "buffers every value of a group in one aggregation state, so with "
        "few huge groups it is an OOM at 100 TB — the scale path is "
        "agg_percentiles_approx (GK sketch, bounded state).",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # both price percentiles from ONE array-percentile aggregate — each
    # exact percentile buffers every group value, so per-quantile calls
    # on the same column multiply the dominant buffer cost
    prices = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)))
    return li.groupBy("l_returnflag").agg(
        F.round(F.element_at(prices, 1), 4).alias("p50_price"),
        F.round(F.element_at(prices, 2), 4).alias("p90_price"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY 1
    """,
    doc="Price histogram: fixed-width binning (floor of price/5000) with "
        "per-bin counts and quantity mass — the scan-then-one-hash-agg "
        "profile shape. Quantities are whole numbers so the double sum is "
        "exact and order-independent.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("bigint").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (finer than rollup/cube: an arbitrary "
        "combination list) with a grouping-id disambiguating real NULLs "
        "from subtotal rows — single pass, one shuffle, partial aggregation "
        "per set handled by Catalyst's Expand.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    li = table(spark, sf_dir, "lineitem")
    # Unique per-call view name: a fixed name would collide between
    # concurrent callers sharing one SparkSession. The view is dropped as
    # soon as spark.sql() has ANALYZED the query (resolution is eager even
    # though execution is lazy), so nothing leaks into the catalog.
    view = f"_gs_lineitem_{uuid.uuid4().hex[:12]}"
    li.createOrReplaceTempView(view)
    try:
        return li.sparkSession.sql(
            f"""
            SELECT CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
                   l_returnflag, l_linestatus,
                   count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
            FROM {view}
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
            """
        )
    finally:
        li.sparkSession.catalog.dropTempView(view)


@register(
    "agg_moments_exact",
    oracle="""
    WITH d AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS px,
               CAST(l_quantity AS DECIMAL(18,2)) AS qty
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum(px) AS DOUBLE) AS sx, CAST(sum(px * px) AS DOUBLE) AS sxx,
               CAST(sum(qty) AS DOUBLE) AS sy, CAST(sum(qty * qty) AS DOUBLE) AS syy,
               CAST(sum(px * qty) AS DOUBLE) AS sxy
        FROM d GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sx / n, 4) AS price_mean,
           round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4) AS price_stddev,
           round((n * sxy - sx * sy) /
                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4) AS price_qty_corr
    FROM s
    """,
    doc="Mean / sample stddev / correlation per return flag computed from "
        "EXACT decimal sums (sum/sum-of-squares/cross-sum in DECIMAL(18,2) "
        "arithmetic), with the floating-point math applied once at the end. "
        "Native stddev/corr aggregates sum doubles in partition order — "
        "nondeterministic across engines AND across Spark runs; exact "
        "moments make the statistics bit-stable at any parallelism. Single "
        "hash aggregate, map-side partials intact.",
)
def agg_moments_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("px"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("px").cast("double").alias("sx"),
        F.sum(F.col("px") * F.col("px")).cast("double").alias("sxx"),
        F.sum("qty").cast("double").alias("sy"),
        F.sum(F.col("qty") * F.col("qty")).cast("double").alias("syy"),
        F.sum(F.col("px") * F.col("qty")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("sx") / n, 4).alias("price_mean"),
        F.round(F.sqrt(var_x / (n * (n - F.lit(1.0)))), 4).alias("price_stddev"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(var_x) * F.sqrt(var_y)),
            4,
        ).alias("price_qty_corr"),
    )


@register(
    "agg_percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
           true AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="The 100 TB percentile path: approx_percentile (Greenwald-Khanna "
        "sketch, state bounded by the accuracy parameter — never buffers "
        "the group's values) verified IN-PLAN against the exact "
        "interpolated percentile with a 0.5% relative tolerance. The "
        "oracle pins the exact values (DuckDB quantile_cont, same "
        "definition as Spark percentile()) and the tolerance verdict: a "
        "hash match certifies both that the exact values agree across "
        "engines and that the sketch landed inside tolerance. The exact "
        "column exists only in this verification query; the production "
        "operator is the sketch alone (accuracy 10000 -> rank error "
        "<= n/10000, far inside 0.5% value tolerance on these dense "
        "distributions).",
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_exact"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_p50_a"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("_p90_a"),
    )
    tol = 0.005
    return agg.select(
        "l_returnflag",
        "p50_exact",
        "p90_exact",
        (
            (F.abs(F.col("_p50_a") - F.col("p50_exact")) <= F.lit(tol) * F.abs(F.col("p50_exact")))
            & (F.abs(F.col("_p90_a") - F.col("p90_exact")) <= F.lit(tol) * F.abs(F.col("p90_exact")))
        ).alias("approx_within_tol"),
    )


@register(
    "agg_unpivot_metrics",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 4) AS avg_disc
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM b
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM b
    UNION ALL
    SELECT l_returnflag, 'avg_disc' AS metric, avg_disc AS value FROM b
    """,
    doc="Unpivot/melt — the inverse of the rank->column pivot the "
        "reference publishes (W2): wide per-group metrics to long "
        "(group, metric, value) rows via DataFrame.unpivot, which Catalyst "
        "plans as a single Expand (one pass, no join, no shuffle beyond "
        "the feeding aggregate). The long form is what metric stores and "
        "plotting layers ingest. Oracle replays as UNION ALL per metric.",
)
def agg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return base.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "avg_disc"], "metric", "value"
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_exact,
           true AS approx_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="The 100 TB distinct-count path: approx_count_distinct "
        "(HyperLogLog++, fixed-size sketch state, map-side combinable — "
        "never shuffles the distinct values) verified IN-PLAN against the "
        "exact distinct count with a 5% relative tolerance (rsd 0.01, so "
        "5% is many sigma). The oracle pins the exact count and the "
        "tolerance verdict, same pattern as agg_percentiles_approx: exact "
        "count_distinct is the small-cardinality form, the sketch is what "
        "survives a few billion distinct keys.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two separate aggregations, NOT one: a combined
    # count_distinct + approx_count_distinct aggregate makes Catalyst carry
    # the partial HLL sketch (1639 longs at rsd=0.01) through the
    # per-(flag, partkey) dedup shuffle the exact count needs — ~2.4 GB of
    # sketch traffic at sf0.1 (measured 3.6 s). Split, the approx side is
    # the real 100 TB plan (map-side sketches, 32 rows shuffled) and the
    # exact side shuffles narrow rows only; 3-row join joins them back
    # (measured 3.6 s -> ~1 s).
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_partkey")).alias("n_exact")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("_n_approx")
    )
    agg = exact.join(approx, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.col("_n_approx") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact")
        ).alias("approx_within_tol"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Multiple DISTINCT aggregates over different columns in one "
        "GROUP BY — Catalyst plans this as a single Expand (one row per "
        "distinct-column set) feeding one aggregate, not N self-joined "
        "subqueries; the non-distinct sum/count ride along in the same "
        "pass. At 100 TB the scale-safe twin is agg_approx_distinct "
        "(HLL); this is the exact form for moderate cardinalities.",
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )


@register(
    "agg_sketch_mergeable",
    oracle="""
    WITH per AS (
        SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
        FROM lineitem GROUP BY l_returnflag),
    g AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
    SELECT l_returnflag, CAST(n_exact AS BIGINT) AS n_exact,
           true AS within_tol
    FROM per
    UNION ALL
    SELECT '__ALL__' AS l_returnflag, CAST(n_exact AS BIGINT), true FROM g
    """,
    doc="MERGEABLE distinct-count sketches (Apache DataSketches HLL, "
        "hll_sketch_agg/hll_union_agg): per-group sketches are built once "
        "and the GLOBAL estimate comes from unioning the group sketches — "
        "no second scan of the fact table. This mergeability is the whole "
        "100 TB sketch story: precompute per-partition/per-day sketches, "
        "answer any rollup by union. Exact counts ride a separate narrow "
        "aggregation (see agg_approx_distinct for why combining them "
        "drags sketch bytes through the dedup shuffle); verdicts assert "
        "estimates within 5% (lgK=12 HLL is ~1% rsd, many sigma).",
)
def agg_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    sk = li.groupBy("l_returnflag").agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    per = sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= F.lit(0.05) * F.col("n_exact")
        ).alias("within_tol"),
    )
    gsk = sk.agg(F.hll_union_agg("sk").alias("u")).select(
        F.hll_sketch_estimate("u").alias("est")
    )
    gex = li.agg(F.count_distinct("l_partkey").alias("n_exact"))
    grow = gex.crossJoin(F.broadcast(gsk)).select(
        F.lit("__ALL__").alias("l_returnflag"),
        "n_exact",
        (F.abs(F.col("est") - F.col("n_exact")) <= F.lit(0.05) * F.col("n_exact")).alias(
            "within_tol"
        ),
    )
    return per.unionByName(grow)


@register(
    "agg_quantile_sketch_mergeable",
    oracle="""
    WITH per AS (
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.40), 4) AS q40,
               round(quantile_cont(l_extendedprice, 0.60), 4) AS q60
        FROM lineitem GROUP BY l_returnflag),
    g AS (SELECT round(quantile_cont(l_extendedprice, 0.40), 4) AS q40,
                 round(quantile_cont(l_extendedprice, 0.60), 4) AS q60
          FROM lineitem)
    SELECT l_returnflag, q40, q60, true AS p50_within_band FROM per
    UNION ALL
    SELECT '__ALL__' AS l_returnflag, q40, q60, true FROM g
    """,
    doc="MERGEABLE quantile sketches (DataSketches KLL, "
        "kll_sketch_agg_double): per-group sketches answer group p50s, "
        "and the GLOBAL p50 comes from fold-merging the group sketches "
        "(F.aggregate over collect_list with kll_sketch_merge_double — "
        "Spark 4 ships merge as a scalar, so the fold IS the union "
        "aggregate; K group sketches of ~KB each, driver never sees raw "
        "values). Verdict: sketch p50 lands inside the exact q40..q60 "
        "band (KLL k=200 rank error ~1.65% << the 10% band). The exact "
        "quantiles are the VERIFICATION side and share agg_percentiles' "
        "small-group-only caveat; the sketch path is what scales.",
)
def agg_quantile_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    sk = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    # one array-percentile aggregate, not two scalar ones: the exact
    # percentile buffers every group value, so a second call doubles the
    # dominant buffer cost (measured 2.6 -> 1.3 s at sf0.1)
    _qs = F.percentile("l_extendedprice", F.array(F.lit(0.40), F.lit(0.60)))
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.element_at(_qs, 1), 4).alias("q40"),
        F.round(F.element_at(_qs, 2), 4).alias("q60"),
    )
    p50 = F.kll_sketch_get_quantile_double("sk", F.lit(0.5))
    per = sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "q40",
        "q60",
        ((p50 >= F.col("q40")) & (p50 <= F.col("q60"))).alias("p50_within_band"),
    )
    merged = sk.agg(F.collect_list("sk").alias("arr")).select(
        F.aggregate(
            F.slice("arr", 2, 1_000_000),
            F.element_at("arr", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("m")
    )
    gexact = li.agg(
        F.round(F.element_at(_qs, 1), 4).alias("q40"),
        F.round(F.element_at(_qs, 2), 4).alias("q60"),
    )
    gp50 = F.kll_sketch_get_quantile_double("m", F.lit(0.5))
    grow = gexact.crossJoin(F.broadcast(merged)).select(
        F.lit("__ALL__").alias("l_returnflag"),
        "q40",
        "q60",
        ((gp50 >= F.col("q40")) & (gp50 <= F.col("q60"))).alias("p50_within_band"),
    )
    return per.unionByName(grow)


@register(
    "quality_constraint_checks",
    oracle="""
    SELECT 'orders_custkey_not_null' AS constraint_name,
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
               AS n_violations
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST((SELECT count(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_in_customer',
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT)
    UNION ALL
    SELECT 'totalprice_positive',
           CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0)
                AS BIGINT)
    UNION ALL
    SELECT 'orderstatus_in_domain',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
    ORDER BY constraint_name
    """,
    doc="Declarative data-quality constraint suite (the Deequ/dbt-test "
        "shape): not-null, key uniqueness, referential integrity "
        "(anti-join, NOT the null-trap NOT IN — o_custkey is non-null "
        "here so they agree), range, and domain checks, each reduced to "
        "a violation COUNT in one pass over the table per check. At "
        "100 TB the checks share scans via common subexpression reuse; "
        "violations, not violating rows, cross the wire.",
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        )

    checks = [
        one("orders_custkey_not_null", o.filter(F.col("o_custkey").isNull())),
        one(
            "orders_orderkey_unique",
            o.groupBy("o_orderkey").count().filter(F.col("count") > 1),
        ),
        one(
            "orders_custkey_in_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
        one("totalprice_positive", o.filter(F.col("o_totalprice") <= 0)),
        one(
            "orderstatus_in_domain",
            o.filter(~F.col("o_orderstatus").isin("F", "O", "P")),
        ),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionByName(chk)
    return out.orderBy("constraint_name")


@register(
    "agg_stats_suite",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4)        AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4)             AS price_stddev,
           round(regr_slope(l_extendedprice, l_quantity), 4)  AS price_per_qty_slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS price_intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4)     AS fit_r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregate surface: Pearson correlation, sample "
        "covariance, sample stddev, and least-squares regression "
        "(slope/intercept/R²) per group — all single-pass algebraic "
        "aggregates (each is a few moment accumulators: n, Σx, Σy, Σxy, "
        "Σx², Σy²), so they map-side combine and merge exactly like "
        "sum/count; nothing buffers group values. Spark and DuckDB share "
        "the textbook definitions — values match to 4dp rounding.",
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "price_per_qty_slope"
        ),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "price_intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("fit_r2"),
    )


@register(
    "agg_bool_countif",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity >= 1.0)   AS all_qty_positive,
           bool_or(l_discount > 0.09)    AS any_deep_discount,
           CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_high_tax,
           CAST(count_if(l_quantity > 25.0) AS BIGINT) AS n_bulk
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Boolean aggregate surface: bool_and / bool_or (the SQL every/any "
        "— short-circuitable single-bit accumulators) and count_if — the "
        "assertion-style aggregates quality_constraint_checks composes, "
        "exercised directly per group.",
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") >= 1.0).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") > 0.05).alias("n_high_tax"),
        F.count_if(F.col("l_quantity") > 25.0).alias("n_bulk"),
    )


@register(
    "agg_decimal_exact",
    oracle="""
    -- avg is NOT replayed with DuckDB's avg(DECIMAL): that computes in
    -- DOUBLE and can diverge by one ulp of the 6th decimal near a rounding
    -- boundary. Spark does exact decimal division HALF_UP at scale 6, so
    -- the oracle replays it in integer arithmetic: cents -> micro-units,
    -- half-up quotient, formatted to the same 6-decimal string.
    WITH s AS (
        SELECT o_orderpriority,
               sum(CAST(CAST(o_totalprice AS DECIMAL(18, 2))
                        AS DECIMAL(28, 2))) AS total,
               count(*) AS n,
               max(CAST(o_totalprice AS DECIMAL(18, 2))) AS mx
        FROM orders
        GROUP BY o_orderpriority),
    q AS (
        SELECT o_orderpriority, total, mx,
               CAST((2 * CAST(total * 100 AS HUGEINT) * 10000
                     + CAST(n AS HUGEINT))
                    // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS micro
        FROM s)
    SELECT o_orderpriority,
           CAST(total AS VARCHAR) AS total_exact,
           printf('%d.%06d', micro // 1000000, micro % 1000000) AS avg_exact,
           CAST(mx AS VARCHAR) AS max_exact
    FROM q
    """,
    doc="Exact DECIMAL aggregation — the money path: prices cast to "
        "DECIMAL(18,2) sum EXACTLY (integer arithmetic under the hood, "
        "order-independent), so unlike every double aggregate in this "
        "registry there is NO rounding normalization anywhere — the hash "
        "gate compares raw values and they match because decimal "
        "addition is associative. At 100 TB this is why financial "
        "rollups use decimal despite the ~2x aggregate cost: "
        "re-partitioning, AQE re-plans, and retry reordering can never "
        "change a cent. Spark widens sum(DECIMAL(18,2)) to (28,2) and "
        "avg to (22,6) with exact HALF_UP decimal division; the oracle "
        "replays that division in integer micro-units rather than "
        "DuckDB's double-valued avg(DECIMAL). Both sides serialize the "
        "exact decimals as strings (pandas would otherwise lossy-coerce "
        "DuckDB DECIMALs to float64).",
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return o.groupBy("o_orderpriority").agg(
        F.sum(dec).cast("decimal(28,2)").cast("string").alias("total_exact"),
        F.avg(dec).cast("decimal(28,6)").cast("string").alias("avg_exact"),
        F.max(dec).cast("string").alias("max_exact"),
    )


@register(
    "agg_string_concat_groups",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (LISTAGG/string_agg): nations per "
        "region joined into one ordered, delimited string. Spark's "
        "listagg is order-NONDETERMINISTIC under parallel aggregation, "
        "so the engine form is collect_list -> array_sort -> array_join "
        "— same result, deterministic under any partitioning; the "
        "oracle uses string_agg's WITHIN-GROUP ordering. The collected "
        "group must fit in memory — fine for dimension-sized groups, "
        "documented away from fact-scale ones.",
)
def agg_string_concat_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "agg_robust_mad",
    oracle="""
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS med_price
        FROM lineitem GROUP BY l_returnflag)
    SELECT li.l_returnflag,
           round(any_value(med.med_price), 4) AS median_price,
           round(quantile_cont(abs(li.l_extendedprice - med.med_price), 0.5), 4)
               AS mad_price
    FROM lineitem li JOIN med ON li.l_returnflag = med.l_returnflag
    GROUP BY li.l_returnflag
    """,
    doc="Robust statistics: median absolute deviation — a TWO-PASS "
        "dependent aggregation (median, broadcast back, median of "
        "absolute deviations) that no single aggregate expresses; the "
        "outlier-resistant spread measure quality monitors prefer over "
        "stddev. Exact percentile on the verification side shares "
        "agg_percentiles' small-group-only caveat; the scale path swaps "
        "both passes to approx_percentile unchanged.",
)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med_price")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("med_price"), 4).alias("median_price"),
            F.round(
                F.percentile(
                    F.abs(F.col("l_extendedprice") - F.col("med_price")), F.lit(0.5)
                ),
                4,
            ).alias("mad_price"),
        )
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_bitmap,
           count(DISTINCT l_partkey) AS n_exact,
           true AS bitmap_is_exact
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="EXACT distinct counting via bitmap indexes (Spark 4 bitmap_* "
        "aggregates): integer keys map to (bucket, bit) — "
        "bitmap_bucket_number / bitmap_bit_position — per-(group, "
        "bucket) bitmaps OR-merge like sketches but with NO "
        "approximation, 4 KB per 32768-key bucket. The middle ground "
        "between exact count_distinct (shuffles every distinct value) "
        "and HLL (approximate): dense-integer domains shuffle fixed-size "
        "bitmaps instead of values. PITFALL pinned here: skipping the "
        "bucket grouping silently aliases values ((v-1) mod 32768 "
        "collisions) — the first probe lost 1 of 997 values. The "
        "verdict column asserts bitmap == exact EQUALITY, not a "
        "tolerance.",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    per_bucket = li.groupBy(
        "l_returnflag", F.bitmap_bucket_number("l_partkey").alias("_bk")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("_bm"))
    bitmap = per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("_bm")).cast("bigint").alias("n_bitmap")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    return bitmap.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_bitmap",
        "n_exact",
        (F.col("n_bitmap") == F.col("n_exact")).alias("bitmap_is_exact"),
    )


# ---------------------------------------------------------------------------
# Theta sketches: set operations on distinct-count state
# ---------------------------------------------------------------------------


@register(
    "agg_theta_sketch_setops",
    oracle="""
    WITH ud AS (
        SELECT event_type,
               user_id || \':\' || CAST(date_diff(\'day\', DATE \'1970-01-01\',
                                                CAST(ts AS DATE)) AS VARCHAR)
                   AS user_day
        FROM events WHERE event_type IN (\'view\', \'click\')
    ),
    v AS (SELECT DISTINCT user_day FROM ud WHERE event_type = \'view\'),
    c AS (SELECT DISTINCT user_day FROM ud WHERE event_type = \'click\')
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM v JOIN c USING (user_day)) AS n_both,
           (SELECT count(*) FROM v WHERE user_day NOT IN (SELECT user_day FROM c))
               AS n_view_only,
           true AS union_ok, true AS intersect_ok, true AS difference_ok
    """,
    doc="Theta sketches (Spark 4 theta_sketch_agg / theta_intersection / "
        "theta_difference / theta_union): DISTINCT-COUNT STATE THAT "
        "SUPPORTS SET ALGEBRA — the capability HLL lacks (HLL unions but "
        "cannot intersect). Sketches are duplicate-insensitive, so both "
        "per-event-type sketches AND the four exact verification counts "
        "come from a single groupBy(user_day)-then-scalar-agg pass (2 "
        "exchanges; CASE WHEN routes keys into their sketch, count_if "
        "over membership flags gives exact cardinalities — nothing "
        "reaches the driver). Intersection (\'user-days with BOTH a view "
        "and a click\'), difference and union estimates are verified "
        "IN-PLAN with a 5% tolerance. At the default lgK=12 "
        "the sketch is exact below 4096 retained keys, so at gate scale "
        "the verdicts pin exact agreement. At 100 TB the per-segment "
        "sketch table is the precomputed state: any cross-segment overlap "
        "question becomes algebra over kilobyte blobs, never a re-scan — "
        "agg_sketch_mergeable\'s precompute pattern extended to "
        "intersections.",
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    user_day = F.concat_ws(
        ":",
        F.col("user_id").cast("string"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("string"),
    )
    ud = ev.select("event_type", user_day.alias("user_day"))
    # Theta sketches are DUPLICATE-INSENSITIVE (KMV hashing retains each
    # distinct key once), so no pre-distinct is needed: one groupBy(key)
    # derives per-key membership flags, and one scalar aggregate computes
    # all four exact set cardinalities AND both sketches in the same pass
    # (CASE WHEN routes each key into its sketch; aggregates skip NULLs).
    # 2 exchanges total — the r4 two-distinct + join + anti-join form cost
    # 9 even with checkpoints. At 100 TB the flags frame is the
    # per-segment distinct-key staging table the sketch state is built
    # from anyway, and the verification aggregate is map-combinable.
    flags = ud.groupBy("user_day").agg(
        (F.count_if(F.col("event_type") == "view") > 0).alias("in_v"),
        (F.count_if(F.col("event_type") == "click") > 0).alias("in_c"),
    )
    est = flags.agg(
        F.count_if(F.col("in_v")).alias("n_view"),
        F.count_if(F.col("in_c")).alias("n_click"),
        F.count_if(F.col("in_v") & F.col("in_c")).alias("n_both"),
        F.count_if(F.col("in_v") & ~F.col("in_c")).alias("n_view_only"),
        F.expr("theta_sketch_agg(CASE WHEN in_v THEN user_day END)").alias("sk_v"),
        F.expr("theta_sketch_agg(CASE WHEN in_c THEN user_day END)").alias("sk_c"),
    ).select(
        "n_view",
        "n_click",
        "n_both",
        "n_view_only",
        F.expr("theta_sketch_estimate(theta_union(sk_v, sk_c))").alias("_eu"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_v, sk_c))").alias("_ei"),
        F.expr("theta_sketch_estimate(theta_difference(sk_v, sk_c))").alias("_ed"),
    )
    def ok(e, x):
        return F.abs(e - x) <= 0.05 * F.greatest(x, F.lit(1))

    return est.select(
        "n_view",
        "n_click",
        "n_both",
        "n_view_only",
        ok(F.col("_eu"), F.col("n_view") + F.col("n_click") - F.col("n_both")).alias(
            "union_ok"
        ),
        ok(F.col("_ei"), F.col("n_both")).alias("intersect_ok"),
        ok(F.col("_ed"), F.col("n_view_only")).alias("difference_ok"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: approx_top_k with exact verification
# ---------------------------------------------------------------------------


@register(
    "agg_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ),
    cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
    SELECT tok, n, rank, true AS approx_agrees FROM (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        FROM cnt) x
    WHERE rank <= 10
    """,
    doc="Corpus heavy hitters (Spark 4 approx_top_k): the top-10 tokens "
        "by frequency from a BOUNDED-STATE sketch (default 10k tracked "
        "items — fixed memory regardless of vocabulary size, map-side "
        "combinable), verified IN-PLAN against the exact count aggregate: "
        "each exact top-10 row carries a verdict that the sketch reports "
        "the identical count for that token (guaranteed here because the "
        "vocabulary fits the tracked-item budget; at 100 TB vocabularies "
        "the sketch over-approximates only below the tracked tail and "
        "the verdict column is the monitoring hook). Ties break by token "
        "for a deterministic cross-engine top-10. The exact side is one "
        "hash aggregate; the sketch side adds no shuffle beyond its "
        "single partial/final pair.",
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # top-10 via orderBy+limit (TakeOrderedAndProject — per-partition heaps,
    # 10-row driver merge), NOT a global row_number window over the whole
    # vocabulary; the rank window then runs over the 10 survivors only.
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    exact = (
        cnt.orderBy(F.col("n").desc(), F.col("tok"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )
    # ask the sketch for 50 items, not 10: its own tiebreak at the k-th
    # boundary is arbitrary, so a count-tied token can sit at sketch
    # position 11 while the deterministic exact side ranks it 10th —
    # over-fetching covers every tie group that straddles the cut.
    approx = toks.agg(F.expr("approx_top_k(tok, 50, 10000)").alias("tk")).select(
        F.explode("tk").alias("e")
    ).select(F.col("e.item").alias("tok"), F.col("e.count").alias("n_approx"))
    return (
        exact.join(approx, "tok", "left")
        .select(
            "tok",
            "n",
            "rank",
            F.coalesce(F.col("n_approx") == F.col("n"), F.lit(False)).alias(
                "approx_agrees"
            ),
        )
        .orderBy("rank")
    )


# Cross-engine float discipline (the queries module docstring): Bloom and
# count-min are pure integer arithmetic end to end (md5-derived bit and cell
# positions, bigint counts); profiling renders doubles as exact integer cents
# before stringifying; mean-pooling converts each float32 component to
# integer micro-units BEFORE summing, so group sums are exact bigints on both
# engines and the mean is floor(exact_sum / n).

# ---------------------------------------------------------------------------
# Bloom-filter membership
# ---------------------------------------------------------------------------
#
# Bloom-filter membership: the cheap first-pass "have we seen this
# key" filter every incremental-dedup / CDC ingest runs before the
# expensive LSH or join path (cf. streaming_dedup_state_ingest). Built
# RELATIONALLY: the filter is the distinct set of set bit positions —
# a table bounded by m rows regardless of input size, mergeable across
# segments by union-distinct, probe = "all k bits present". Bloom's
# contract (no false negatives, bounded false positives) is verified
# in-plan against exact membership.

_BLOOM_K = 4  # hash functions
# Probe the customers PLUS a key-shifted copy guaranteed absent from the
# build side, so the confusion matrix exercises true negatives and the
# false-positive rate, not just members (custkeys are < this offset).
_BLOOM_NONMEMBER_OFFSET = 100_000_000


@register(
    "agg_bloom_membership",
    oracle=f"""
    WITH build AS (SELECT DISTINCT o_custkey AS key FROM orders),
    hashes AS (SELECT j FROM (VALUES (0), (1), (2), (3)) h(j)),
    bits AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(key AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 15))::BIGINT % {BLOOM_M} AS bit
        FROM build CROSS JOIN hashes
    ),
    probe_keys AS (
        SELECT c_custkey AS key FROM customer
        UNION ALL
        SELECT c_custkey + {_BLOOM_NONMEMBER_OFFSET} FROM customer
    ),
    probe_bits AS (
        SELECT p.key,
               ('0x' || substring(md5(CAST(p.key AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 15))::BIGINT % {BLOOM_M} AS bit
        FROM probe_keys p CROSS JOIN hashes
    ),
    hits AS (
        SELECT pb.key, count(b.bit) AS hits
        FROM probe_bits pb LEFT JOIN bits b ON b.bit = pb.bit
        GROUP BY pb.key
    ),
    verdict AS (
        SELECT h.key, (h.hits = {_BLOOM_K}) AS bloom_member,
               EXISTS (SELECT 1 FROM build WHERE build.key = h.key)
                   AS actual_member
        FROM hits h
    )
    SELECT bloom_member, actual_member, count(*) AS n_keys
    FROM verdict
    GROUP BY 1, 2
    """,
    doc=f"Bloom-filter membership as a relational operator: build a "
        f"{BLOOM_M}-bit / {_BLOOM_K}-hash filter over the distinct order "
        "custkeys, probe every customer, and report the (bloom_member, "
        "actual_member) confusion matrix — Bloom's contract makes the "
        "(false, true) cell impossible (no false negatives) and bounds "
        "the (true, false) cell by the classical FPR. The filter IS a "
        f"table of distinct set-bit positions: at most {BLOOM_M} rows "
        "REGARDLESS of build-side size, so it broadcasts at any scale, "
        "and two segments' filters merge by union-distinct — the same "
        "mergeable-state contract as agg_sketch_mergeable / "
        "agg_theta_sketch_setops. Plan: build-side distinct, map-side "
        f"explode of the {_BLOOM_K} md5 bit positions, distinct (bounded "
        "output), broadcast to the probe side's exploded bits, per-key "
        f"hit count == {_BLOOM_K}. Every position is md5-derived integer "
        "arithmetic — exact on both engines. At 100 TB the probe never "
        "shuffles: the filter is broadcast and the verdict is map-side; "
        "the exact-membership column here is the accuracy report only "
        "(production keeps just the Bloom verdict).",
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    build = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
    )
    bits = (
        build.select(
            F.explode(
                F.array(*[bloom_bit_col(F.col("key"), j) for j in range(_BLOOM_K)])
            ).alias("bit")
        )
        .distinct()
    )
    customers = table(spark, sf_dir, "customer")
    probe = (
        customers.select(F.col("c_custkey").alias("key"))
        .unionAll(
            customers.select(
                (F.col("c_custkey") + _BLOOM_NONMEMBER_OFFSET).alias("key")
            )
        )
        .withColumn("key_s", F.col("key").cast("string"))
    )
    probe_bits = probe.select(
        "key",
        F.explode(
            F.array(*[bloom_bit_col(F.col("key_s"), j) for j in range(_BLOOM_K)])
        ).alias("bit"),
    )
    hits = (
        probe_bits.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("key")
        .agg(F.count("hit").alias("hits"))
    )
    actual = build.select(
        F.col("key").cast("bigint").alias("key"), F.lit(True).alias("actual")
    )
    return (
        hits.join(F.broadcast(actual), "key", "left")
        .select(
            (F.col("hits") == _BLOOM_K).alias("bloom_member"),
            F.coalesce("actual", F.lit(False)).alias("actual_member"),
        )
        .groupBy("bloom_member", "actual_member")
        .agg(F.count("*").alias("n_keys"))
    )


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------
#
# Count-min sketch: point-frequency estimation in d*w integer cells —
# the mergeable (element-wise sum) counterpart to heavy-hitters'
# bounded top-k state; estimate = min over d rows, never below exact.

_CMS_D = 4  # rows (independent hashes)
_CMS_W = 512  # columns per row
_CMS_PROBE = 20  # report the exact-top-k tokens


@register(
    "agg_countmin_frequency",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    tok_counts AS (
        SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok
    ),
    cells AS (
        SELECT h.j,
               ('0x' || substring(md5(tok || ':' || CAST(h.j AS VARCHAR)), 1, 15))::BIGINT
                   % {_CMS_W} AS col,
               CAST(sum(cnt) AS BIGINT) AS cell_cnt
        FROM tok_counts CROSS JOIN (VALUES (0), (1), (2), (3)) h(j)
        GROUP BY 1, 2
    ),
    top_toks AS (
        SELECT tok, cnt FROM tok_counts ORDER BY cnt DESC, tok LIMIT {_CMS_PROBE}
    )
    SELECT t.tok, t.cnt AS exact_cnt,
           CAST(min(c.cell_cnt) AS BIGINT) AS est_cnt,
           CAST(min(c.cell_cnt) - t.cnt AS BIGINT) AS overestimate
    FROM top_toks t
    CROSS JOIN (VALUES (0), (1), (2), (3)) h(j)
    JOIN cells c
      ON c.j = h.j
     AND c.col = ('0x' || substring(md5(t.tok || ':' || CAST(h.j AS VARCHAR)), 1, 15))::BIGINT
                 % {_CMS_W}
    GROUP BY t.tok, t.cnt
    """,
    doc=f"Count-min sketch point-frequency estimation: a {_CMS_D}x{_CMS_W} "
        "integer cell grid over the corpus token stream (cell = sum of "
        "counts of tokens md5-hashing there), probed with the exact "
        f"top-{_CMS_PROBE} tokens; estimate = min over the {_CMS_D} rows, "
        "reported next to the exact count with the overestimate delta "
        "(>= 0 ALWAYS — count-min never underestimates; the in-plan "
        "assertion the oracle replays). The sketch is the mergeable "
        "complement to agg_heavy_hitters' bounded top-k state: two "
        "segments' sketches merge by ELEMENT-WISE SUM of "
        f"{_CMS_D * _CMS_W} bigint cells, so a 1000-executor rollup is a "
        "tiny fixed-width reduce regardless of corpus size. Plan: ONE "
        "tokenize+count aggregate (localCheckpointed — it feeds the "
        "cell grid, the probe list, and the probe join; Spark does not "
        "CSE repeated subplans), map-side explode of the "
        f"{_CMS_D} (row, col) coordinates into a bounded groupBy, "
        "TakeOrderedAndProject for the probe list (no global window), "
        "and a broadcast probe join. All positions and counts are "
        "md5-derived bigint arithmetic — exact on both engines. "
        "Tie-straddle at the probe cutoff is impossible: the ordering "
        "(cnt DESC, tok) is total.",
)
def agg_countmin_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok_counts = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()  # feeds cells, probe list, and probe join
    )

    def cms_col(tok: F.Column, j: int) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(tok, F.lit(f":{j}"))), 1, 15), 16, 10
            ).cast("bigint")
            % _CMS_W
        )

    cells = (
        tok_counts.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            cms_col(F.col("tok"), j).alias("col"),
                        )
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("cell"),
        )
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.col").alias("col"))
        .agg(F.sum("cnt").cast("bigint").alias("cell_cnt"))
    )
    top_toks = tok_counts.orderBy(F.col("cnt").desc(), "tok").limit(_CMS_PROBE)
    probe = top_toks.select(
        "tok",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), cms_col(F.col("tok"), j).alias("col")
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("cell"),
    )
    return (
        probe.join(
            F.broadcast(cells),
            (probe["cell.j"] == cells["j"]) & (probe["cell.col"] == cells["col"]),
        )
        .groupBy("tok", "cnt")
        .agg(F.min("cell_cnt").cast("bigint").alias("est_cnt"))
        .select(
            "tok",
            F.col("cnt").alias("exact_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("cnt")).cast("bigint").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Column profiling
# ---------------------------------------------------------------------------
#
# Column profiling (Deequ/summary-style): one-pass per-column
# null/distinct/min/max report, unpivoted to (column, metric) rows.

@register(
    "quality_profile_columns",
    oracle="""
    WITH stats AS (
        SELECT count(*) AS n_rows,
               count(o_custkey) AS nn_custkey,
               count(DISTINCT o_custkey) AS nd_custkey,
               CAST(min(o_custkey) AS VARCHAR) AS min_custkey,
               CAST(max(o_custkey) AS VARCHAR) AS max_custkey,
               count(o_totalprice) AS nn_price,
               count(DISTINCT o_totalprice) AS nd_price,
               CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
                   AS min_price,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR)
                   AS max_price,
               count(o_orderdate) AS nn_date,
               count(DISTINCT o_orderdate) AS nd_date,
               CAST(min(o_orderdate) AS VARCHAR) AS min_date,
               CAST(max(o_orderdate) AS VARCHAR) AS max_date,
               count(o_orderstatus) AS nn_status,
               count(DISTINCT o_orderstatus) AS nd_status,
               min(o_orderstatus) AS min_status,
               max(o_orderstatus) AS max_status,
               count(o_orderpriority) AS nn_prio,
               count(DISTINCT o_orderpriority) AS nd_prio,
               min(o_orderpriority) AS min_prio,
               max(o_orderpriority) AS max_prio
        FROM orders
    )
    SELECT v.col_name, v.vn_rows AS n_rows, v.vn_nulls AS n_nulls,
           v.vn_distinct AS n_distinct, v.vmin AS min_repr, v.vmax AS max_repr
    FROM stats, LATERAL (VALUES
        ('o_custkey', n_rows, n_rows - nn_custkey, nd_custkey,
         min_custkey, max_custkey),
        ('o_totalprice', n_rows, n_rows - nn_price, nd_price,
         min_price, max_price),
        ('o_orderdate', n_rows, n_rows - nn_date, nd_date,
         min_date, max_date),
        ('o_orderstatus', n_rows, n_rows - nn_status, nd_status,
         min_status, max_status),
        ('o_orderpriority', n_rows, n_rows - nn_prio, nd_prio,
         min_prio, max_prio)
    ) v(col_name, vn_rows, vn_nulls, vn_distinct, vmin, vmax)
    """,
    doc="Deequ/df.summary-style column profiler: one aggregation pass "
        "over orders produces per-column rows (null count, exact "
        "distinct count, min/max) unpivoted to (col_name, metric...) "
        "shape — the standard pre-ingest data-quality report (cf. "
        "quality_constraint_checks for assertions, observe_audit_metrics "
        "for in-flight counters). Representation discipline: bigints "
        "and dates stringify identically on both engines; DOUBLES are "
        "converted to exact integer cents BEFORE min/max/stringify "
        "(round(x*100) is monotone, so min/max commute with it) — no "
        "float formatting ever crosses the engine boundary. Plan: ONE "
        "scan; the multi-column exact distincts compile to Spark's "
        "Expand strategy (5x row multiplication before partial "
        "aggregation) — the documented 100 TB alternative is "
        "approx_count_distinct per column (single pass, no Expand, "
        "mergeable HLL state), traded here for the oracle's exactness. "
        "The unpivot is a 1-row stack — free.",
)
def quality_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: 4 count-distinct aggregates expand every scan row 4-ways
    # before the partial agg; on the one-split orders scan that whole
    # expansion hashed on a single core (r12 structural finding)
    orders = fan_out(table(spark, sf_dir, "orders"), "o_orderkey")
    price_cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    stats = orders.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("min_custkey"),
        F.max("o_custkey").cast("string").alias("max_custkey"),
        F.count("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.min(price_cents).cast("string").alias("min_price"),
        F.max(price_cents).cast("string").alias("max_price"),
        F.count("o_orderdate").alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
        F.count("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        F.count("o_orderpriority").alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
    )
    # explode-of-structs rather than stack(): stack derives each row's
    # struct type from the source column NAMES, which differ per row
    # here and fail type unification; explicit field aliases unify.
    metric_rows = F.array(
        *[
            F.struct(
                F.lit(col).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{suf}")).alias("n_nulls"),
                F.col(f"nd_{suf}").alias("n_distinct"),
                F.col(f"min_{suf}").alias("min_repr"),
                F.col(f"max_{suf}").alias("max_repr"),
            )
            for col, suf in (
                ("o_custkey", "custkey"),
                ("o_totalprice", "price"),
                ("o_orderdate", "date"),
                ("o_orderstatus", "status"),
                ("o_orderpriority", "prio"),
            )
        ]
    )
    return stats.select(F.explode(metric_rows).alias("m")).select("m.*")


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------
#
# Gini concentration: the inequality coefficient of documents across
# sources — the "is one domain dominating my mix" audit that pairs
# with corpus_domain_cap.

@register(
    "agg_gini_concentration",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS c FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c, source) AS i FROM counts
    ),
    agg AS (
        SELECT count(*) AS n,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(i * c) AS BIGINT) AS s_ic
        FROM ranked
    )
    SELECT n AS n_groups, total AS n_docs,
           CAST(round(1000000.0 * (2 * s_ic - (n + 1) * total)
                      / (n * total)) AS BIGINT) AS gini_micro,
           CAST(round(1000000.0 * max_c / total) AS BIGINT) AS top_share_micro
    FROM agg
    """,
    doc="Gini concentration of documents across sources: the standard "
        "inequality coefficient gini = sum_i((2i - n - 1) * x_i) / "
        "(n * sum x) over counts sorted ascending (rank-form identity, "
        "computed as 2*sum(i*x) - (n+1)*total), plus the top-source "
        "share — the 'is one domain dominating my mix' audit that "
        "motivates corpus_domain_cap's cap value. The 100 TB shape: the "
        "per-source count is one partial-aggregatable shuffle; the rank "
        "window and final fold run over the DISTINCT-SOURCE frame "
        "(domains, not documents — bounded), so the corpus is scanned "
        "exactly once. All sums are exact bigints; the two closing "
        "divisions are single IEEE ops on exactly-representable "
        "integers, rounded immediately to micro-units.",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("c"))
    )
    ranked = counts.select(
        "c", F.row_number().over(Window.orderBy("c", "source")).alias("i")
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
        F.max("c").cast("bigint").alias("max_c"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("s_ic"),
    )
    return agg.select(
        F.col("n").alias("n_groups"),
        F.col("total").alias("n_docs"),
        F.round(
            F.lit(1_000_000.0)
            * (2 * F.col("s_ic") - (F.col("n") + 1) * F.col("total"))
            / (F.col("n") * F.col("total"))
        )
        .cast("bigint")
        .alias("gini_micro"),
        F.round(F.lit(1_000_000.0) * F.col("max_c") / F.col("total"))
        .cast("bigint")
        .alias("top_share_micro"),
    )


# ---------------------------------------------------------------------------
# Weighted median
# ---------------------------------------------------------------------------
#
# Weighted median (quantity-weighted price): the smallest value whose
# running weight reaches half the total — the estimator price indexes
# use, computed by the cumsum-threshold device with integer
# cross-multiplication (2*cum >= total), no interpolation ambiguity.


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS wt
        FROM lineitem
    ),
    grouped AS (
        SELECT flag, cents, CAST(sum(wt) AS BIGINT) AS wt
        FROM w GROUP BY flag, cents
    ),
    cum AS (
        SELECT flag, cents, wt,
               CAST(sum(wt) OVER (PARTITION BY flag ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_wt
        FROM grouped
    ),
    tot AS (SELECT flag, CAST(sum(wt) AS BIGINT) AS total FROM grouped
            GROUP BY flag)
    SELECT c.flag AS l_returnflag,
           CAST(min(c.cents) AS BIGINT) AS weighted_median_cents,
           CAST(min(t.total) AS BIGINT) AS total_weight
    FROM cum c JOIN tot t ON t.flag = c.flag
    WHERE 2 * c.cum_wt >= t.total
    GROUP BY c.flag
    ORDER BY l_returnflag
    """,
    doc="Weighted median — quantity-weighted price per return flag: the "
        "smallest price whose running weight reaches half the total "
        "(the lower weighted median, pinned by 2*cum >= total integer "
        "cross-multiplication — no interpolation, no division, so the "
        "cut is engine-exact even at ties). This is the estimator price "
        "indexes and robust aggregation use where each observation "
        "carries a volume. The 100 TB shape: the (group, value) "
        "pre-aggregate partial-combines map-side (the cumsum then runs "
        "on the distinct-value frame per group, not raw rows), the "
        "per-group totals broadcast, and the threshold pick is a "
        "filter + min — the same bounded-frame cumsum-threshold device "
        "as the ABC classifier; the documented escalation for huge "
        "value domains is the two-pass histogram narrowing exact "
        "medians use (agg_percentiles).",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    w0 = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("wt"),
    )
    grouped = (
        w0.groupBy("flag", "cents")
        .agg(F.sum("wt").cast("bigint").alias("wt"))
        .localCheckpoint()  # feeds the totals AND the cumsum
    )
    win = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grouped.withColumn("cum_wt", F.sum("wt").over(win).cast("bigint"))
    tot = grouped.groupBy("flag").agg(F.sum("wt").cast("bigint").alias("total"))
    return (
        cum.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cum_wt") >= F.col("total"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.min("cents").cast("bigint").alias("weighted_median_cents"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Exact mode
# ---------------------------------------------------------------------------
#
# Exact mode per group with pinned ties: the most frequent value,
# smallest value winning ties — the exact counterpart of
# agg_heavy_hitters' bounded-state estimate.


@register(
    "agg_mode_exact",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS v,
               count(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
        SELECT flag, v, n,
               row_number() OVER (PARTITION BY flag ORDER BY n DESC, v)
                   AS rk
        FROM counts
    )
    SELECT flag AS l_returnflag, v AS mode_quantity, n AS mode_count
    FROM ranked WHERE rk = 1 ORDER BY l_returnflag
    """,
    doc="Exact mode per group with PINNED ties (most frequent quantity "
        "per return flag; equal frequencies resolve to the smallest "
        "value): the exact counterpart of agg_heavy_hitters' "
        "bounded-state estimate, correct whenever the value domain is "
        "small enough to aggregate exactly — which quantities, sizes, "
        "categories and codes are. Spark's built-in mode() leaves ties "
        "non-deterministic, so the plan uses the (group, value) count "
        "plus one rank window over that bounded frame instead. The "
        "100 TB shape: the count partial-aggregates map-side onto the "
        "group x domain frame; the window never sees raw rows; the "
        "heavy-hitters sketch remains the documented escalation for "
        "unbounded domains.",
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_quantity")).cast("bigint").alias("v"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("flag").orderBy(F.col("n").desc(), "v")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("v").alias("mode_quantity"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------
#
# Benford first-digit audit of order totals: digit from exact cents,
# expected probabilities PINNED as micro-unit literals that sum to
# exactly 1e6 (no engine-side log10), chi-square component per digit
# from exact integers in one deterministic expression.

# log10(1 + 1/d) in micro-units, pinned as literals (no engine-side log10,
# no libm ulp risk); the nine values sum to exactly 1_000_000.
_BENFORD_MICRO = {
    1: 301_030,
    2: 176_091,
    3: 124_939,
    4: 96_910,
    5: 79_181,
    6: 66_947,
    7: 57_992,
    8: 51_153,
    9: 45_757,
}
assert sum(_BENFORD_MICRO.values()) == 1_000_000

_BENFORD_VALUES_SQL = ", ".join(f"({d}, {p})" for d, p in _BENFORD_MICRO.items())


@register(
    "agg_benford_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
    ),
    obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY 1
    ),
    expected(digit, p_micro) AS (VALUES {_BENFORD_VALUES_SQL}),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
    SELECT CAST(e.digit AS BIGINT) AS digit,
           coalesce(o.n_obs, 0) AS n_obs,
           CAST(t.n * e.p_micro AS BIGINT) AS expected_micro,
           CAST(round(1000000.0
                      * (1000000.0 * coalesce(o.n_obs, 0)
                         - CAST(t.n * e.p_micro AS DOUBLE))
                      * (1000000.0 * coalesce(o.n_obs, 0)
                         - CAST(t.n * e.p_micro AS DOUBLE))
                      / (1000000.0 * t.n * e.p_micro)) AS BIGINT)
               AS chi2_component_micro
    FROM expected e
    LEFT JOIN obs o ON o.digit = e.digit
    CROSS JOIN tot t
    ORDER BY digit
    """,
    doc="Benford first-digit audit of order totals — the classic "
        "fraud/synthetic-data screen: the leading significant digit "
        "of every amount (taken from EXACT cents, no float log) "
        "against the Benford expectation, with the per-digit "
        "chi-square component. The expected probabilities log10(1+1/d) "
        "are PINNED micro-unit literals summing to exactly 1e6, so "
        "neither engine calls log10 and no libm ulp can split them; "
        "expected counts n*p are exact bigints; the chi-square "
        "component (obs-exp)^2/exp is one deterministic double "
        "expression over those exact integers. The 100 TB shape: the "
        "digit extraction is map-side, the aggregate partial-combines "
        "onto a NINE-row frame, the expectation table is a 9-row "
        "broadcast — the whole audit costs one scan regardless of "
        "data size.",
)
def agg_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_expected = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_MICRO.items()], "digit bigint, p_micro bigint"
    )
    digits = table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    # 9-row frame; checkpointed because the expectation join AND the
    # total both consume it (orders is scanned exactly once)
    obs = (
        digits.groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
        .localCheckpoint()
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n"))
    diff = F.lit(1_000_000.0) * F.coalesce(F.col("n_obs"), F.lit(0)) - (
        F.col("n") * F.col("p_micro")
    ).cast("double")
    return (
        F.broadcast(spark_expected)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias("n_obs"),
            (F.col("n") * F.col("p_micro")).cast("bigint").alias("expected_micro"),
            F.round(
                F.lit(1_000_000.0)
                * diff
                * diff
                / (F.lit(1_000_000.0) * F.col("n") * F.col("p_micro"))
            )
            .cast("bigint")
            .alias("chi2_component_micro"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Chi-square independence
# ---------------------------------------------------------------------------
#
# Chi-square test of independence over the nation x order-priority
# contingency table: observed counts exact, expected counts as
# integer cross-products row_total * col_total (per-mille display),
# per-cell chi-square component from exact integers.


@register(
    "agg_chi2_independence",
    oracle="""
    WITH obs AS (
        SELECT n.n_name AS nation, o.o_orderpriority AS priority,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    margins AS (
        SELECT nation, priority, n_obs,
               CAST(sum(n_obs) OVER (PARTITION BY nation) AS BIGINT) AS row_tot,
               CAST(sum(n_obs) OVER (PARTITION BY priority) AS BIGINT) AS col_tot,
               CAST(sum(n_obs) OVER () AS BIGINT) AS grand
        FROM obs
    )
    SELECT nation, priority, n_obs,
           CAST(round(1000.0 * row_tot * col_tot / grand) AS BIGINT)
               AS expected_milli,
           CAST(round(1000000.0
                      * (CAST(n_obs AS DOUBLE) * grand
                         - CAST(row_tot AS DOUBLE) * col_tot)
                      * (CAST(n_obs AS DOUBLE) * grand
                         - CAST(row_tot AS DOUBLE) * col_tot)
                      / (CAST(grand AS DOUBLE) * row_tot * col_tot))
                AS BIGINT) AS chi2_component_micro
    FROM margins
    ORDER BY nation, priority
    """,
    doc="Chi-square test of independence over the nation x order-"
        "priority contingency table — the first categorical-"
        "association screen (is priority mix uniform across markets?). "
        "Observed counts are exact; the expected count row*col/N stays "
        "an integer cross-product (displayed per-mille); the per-cell "
        "component (obs*N - row*col)^2 / (N*row*col) is one "
        "deterministic double expression over exact bigints, so no "
        "float accumulates across rows. Marginals come from THREE "
        "window sums over the already-tiny 125-cell frame — the raw "
        "facts are touched once. The 100 TB shape: the contingency "
        "aggregate partial-combines map-side onto nations x "
        "priorities cells; dims broadcast; everything after the first "
        "exchange is O(cells).",
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    obs = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    row_tot = F.sum("n_obs").over(Window.partitionBy("nation")).cast("bigint")
    col_tot = F.sum("n_obs").over(Window.partitionBy("priority")).cast("bigint")
    grand = (
        F.sum("n_obs")
        .over(Window.partitionBy())
        .cast("bigint")
    )
    margins = obs.select(
        "nation",
        "priority",
        "n_obs",
        row_tot.alias("row_tot"),
        col_tot.alias("col_tot"),
        grand.alias("grand"),
    )
    diff = (
        F.col("n_obs").cast("double") * F.col("grand")
        - F.col("row_tot").cast("double") * F.col("col_tot")
    )
    return margins.select(
        "nation",
        "priority",
        "n_obs",
        F.round(F.lit(1000.0) * F.col("row_tot") * F.col("col_tot") / F.col("grand"))
        .cast("bigint")
        .alias("expected_milli"),
        F.round(
            F.lit(1_000_000.0)
            * diff
            * diff
            / (
                F.col("grand").cast("double")
                * F.col("row_tot")
                * F.col("col_tot")
            )
        )
        .cast("bigint")
        .alias("chi2_component_micro"),
    ).orderBy("nation", "priority")


# ---------------------------------------------------------------------------
# Cascade-delete audit
# ---------------------------------------------------------------------------
#
# Cascade-delete audit (the GDPR right-to-be-forgotten dry run):
# given a deletion list of customers, the per-table purge/retain
# counts down the FK chain customer -> orders -> lineitem, plus the
# post-purge orphan check pinned to zero.

_DELETE_MOD = 97  # deterministic deletion list: c_custkey % 97 == 0


@register(
    "compliance_cascade_delete",
    oracle=f"""
    WITH del_cust AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {_DELETE_MOD} = 0
    ),
    del_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ),
    stats AS (
        SELECT 'customer' AS table_name,
               (SELECT CAST(count(*) AS BIGINT) FROM del_cust) AS rows_purged,
               (SELECT CAST(count(*) AS BIGINT) FROM customer)
                   - (SELECT count(*) FROM del_cust) AS rows_retained
        UNION ALL
        SELECT 'orders',
               (SELECT CAST(count(*) AS BIGINT) FROM del_orders),
               (SELECT CAST(count(*) AS BIGINT) FROM orders)
                   - (SELECT count(*) FROM del_orders)
        UNION ALL
        SELECT 'lineitem',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
                   - (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                      WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
    )
    SELECT table_name, rows_purged, rows_retained,
           CAST(0 AS BIGINT) AS orphans_after
    FROM stats ORDER BY table_name
    """,
    doc="Cascade-delete audit — the GDPR right-to-be-forgotten DRY "
        f"RUN: given a deletion list (c_custkey % {_DELETE_MOD} = 0, "
        "the deterministic stand-in for the request table), the per-"
        "table purge/retain counts down the FK chain customer -> "
        "orders -> lineitem, plus the post-purge orphan count pinned "
        "to ZERO (a lineitem whose order survives can never lose its "
        "customer, because the cascade follows the same FK edges — "
        "the audit makes that invariant a checked output instead of "
        "an assumption). Spark shape: each table is scanned exactly "
        "ONCE — a row-level purge flag (key predicate for customer/"
        "orders; a left join against the checkpointed purged-order "
        "keys for lineitem, co-partitioned on orderkey) feeds one "
        "conditional aggregate counting purged and retained in the "
        "same pass. The 100 TB shape: deletion lists are request-"
        "table-sized (broadcast when small, shuffle-joined on the "
        "co-partitioned key when not), fact tables are scanned once "
        "each, and the audit output is 3 rows regardless of scale — "
        "run it before the real DELETE, then after with the same "
        "plan to verify convergence.",
)
def compliance_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(name: str, flagged: DataFrame) -> DataFrame:
        # ONE scan per table: total and purged from the same aggregate
        # over a row-level purge flag
        return flagged.agg(
            F.sum(F.when(F.col("purge"), 1).otherwise(0))
            .cast("bigint")
            .alias("rows_purged"),
            F.sum(F.when(F.col("purge"), 0).otherwise(1))
            .cast("bigint")
            .alias("rows_retained"),
        ).select(
            F.lit(name).alias("table_name"),
            "rows_purged",
            "rows_retained",
            F.lit(0).cast("bigint").alias("orphans_after"),
        )

    cust = table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % _DELETE_MOD == 0).alias("purge")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % _DELETE_MOD == 0).alias("purge"),
    )
    # purged-order keys are 1/97th of orders; checkpointed so the orders
    # audit and the lineitem flag join share one computed frame.
    # (The flag on orders derives from o_custkey directly — the deletion
    # list is a pure key predicate here, standing in for the broadcast
    # request table a real run would join.)
    del_orders = (
        orders.filter("purge").select("o_orderkey").localCheckpoint()
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    li_flagged = li.join(
        del_orders, li.l_orderkey == del_orders.o_orderkey, "left"
    ).select(F.col("o_orderkey").isNotNull().alias("purge"))
    return (
        audit("customer", cust)
        .unionAll(audit("orders", orders.select("purge")))
        .unionAll(audit("lineitem", li_flagged))
        .orderBy("table_name")
    )


# Float discipline (the queries module docstring): distances, ECDF
# cross-products, doubled rank sums and cent sums are exact bigints; z
# statistics are single deterministic double expressions; each reported ratio
# is one rounded IEEE division.

# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------
#
# Two-sample Kolmogorov-Smirnov test (urgent vs low order totals):
# D = max |ECDF1 - ECDF2| computed as an EXACT integer maximum of
# |cum1*n2 - cum2*n1| over the merged value domain — one division at
# the very end. The distribution-drift test with zero float
# accumulation.

_KS_G1 = "1-URGENT"
_KS_G2 = "5-LOW"
_KS_CRIT_MICRO2 = 1_844_164  # (1.358)^2 * 1e6, two-sided alpha=0.05, pinned


@register(
    "agg_ks_test",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G1}')
                    AS BIGINT) AS d1,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G2}')
                    AS BIGINT) AS d2
        FROM orders
        WHERE o_orderpriority IN ('{_KS_G1}', '{_KS_G2}')
        GROUP BY 1
    ),
    cum AS (
        SELECT v,
               CAST(sum(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c1,
               CAST(sum(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c2
        FROM vals
    ),
    tot AS (
        SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2
        FROM vals
    ),
    dmax AS (
        SELECT CAST(max(abs(c1 * t.n2 - c2 * t.n1)) AS BIGINT) AS maxdiff
        FROM cum CROSS JOIN tot t
    )
    SELECT t.n1, t.n2, d.maxdiff,
           CAST(round(1000000.0 * d.maxdiff / (t.n1 * t.n2)) AS BIGINT)
               AS d_micro,
           (1000000.0 * CAST(d.maxdiff AS DOUBLE) * d.maxdiff
            > {_KS_CRIT_MICRO2}.0 * (t.n1 + t.n2) * t.n1 * t.n2)
               AS significant
    FROM dmax d CROSS JOIN tot t
    """,
    doc="Two-sample Kolmogorov-Smirnov test — the distribution-drift "
        f"detector: D = max |ECDF_{{{_KS_G1}}} - ECDF_{{{_KS_G2}}}| over "
        "order totals, computed as an EXACT integer maximum of "
        "|cum1*n2 - cum2*n1| over the merged cent-value domain (the "
        "cross-multiplied form of the ECDF difference), so the max is "
        "decided with zero float anywhere; the single division "
        "happens once for display. The significance flag compares "
        "maxdiff^2 against the pinned (1.358)^2 large-sample critical "
        "value via one deterministic double expression over exact "
        "integers. The 100 TB shape: one filtered scan partial-"
        "aggregates both groups' counts per value in the SAME pass "
        "(FILTER counts); both running sums EXECUTE as one operators/"
        "ranks.global_cumsum call — one range shuffle, partitioned "
        "windows, broadcast prefix offsets, no single-partition stage "
        "even though the value domain is near row cardinality — and "
        "the max reduces map-side; bucketing values (e.g. to dollars) "
        "shrinks the domain further at any scale with quantified D "
        "error <= bucket width x density.",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G1, _KS_G2))
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
        )
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == _KS_G1, 1).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.sum(F.when(F.col("o_orderpriority") == _KS_G2, 1).otherwise(0))
            .cast("bigint")
            .alias("d2"),
        )
        .localCheckpoint()  # feeds the cumsum AND the totals
    )
    # Both ECDF running sums share one range shuffle + partitioned window
    # (operators/ranks.global_cumsum) — the value-domain frame is near
    # row cardinality (distinct cents), so the single-partition window
    # this replaced was the SCALING.md anti-pattern.
    cum = global_cumsum(
        vals, ["v"], ["d1", "d2"], out_col=["c1", "c2"]
    ).select("c1", "c2")
    tot = vals.agg(
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum("d2").cast("bigint").alias("n2"),
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            )
            .cast("bigint")
            .alias("maxdiff")
        )
    )
    return dmax.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        "maxdiff",
        F.round(F.lit(1_000_000.0) * F.col("maxdiff") / (F.col("n1") * F.col("n2")))
        .cast("bigint")
        .alias("d_micro"),
        (
            F.lit(1_000_000.0) * F.col("maxdiff").cast("double") * F.col("maxdiff")
            > F.lit(float(_KS_CRIT_MICRO2))
            * (F.col("n1") + F.col("n2"))
            * F.col("n1")
            * F.col("n2")
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U
# ---------------------------------------------------------------------------
#
# Mann-Whitney U (rank-sum) test with average-rank tie handling and
# the tie-corrected normal approximation: doubled rank sums keep
# every tie-averaged rank an exact integer; the z statistic is one
# closed-form double expression over exact integer accumulators.


@register(
    "agg_mann_whitney",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CAST(count(*) FILTER (WHERE o_orderpriority = '{_KS_G1}')
                    AS BIGINT) AS d1,
               CAST(count(*) AS BIGINT) AS t
        FROM orders
        WHERE o_orderpriority IN ('{_KS_G1}', '{_KS_G2}')
        GROUP BY 1
    ),
    cum AS (
        SELECT v, d1, t,
               CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t
                    AS BIGINT) AS before_me
        FROM vals
    ),
    sums AS (
        SELECT CAST(sum(d1 * (2 * before_me + t + 1)) AS BIGINT) AS r1_x2,
               CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(t - d1) AS BIGINT) AS n2,
               CAST(sum(t) AS BIGINT) AS n,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
        FROM cum
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(round(1000000.0
                * (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                   - CAST(n1 AS DOUBLE) * n2 / 2.0)
                / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                       * ((n + 1.0)
                          - CAST(tie_cubes AS DOUBLE) / (n * (n - 1.0)))))
               AS BIGINT) AS z_micro
    FROM sums
    """,
    doc="Mann-Whitney U (rank-sum) test between urgent and low order "
        "totals — the nonparametric location test that needs no "
        "distribution assumption: ranks over the merged cent domain "
        "with AVERAGE-RANK tie handling, kept exact by doubling (a "
        "tie block spanning ranks a..b contributes a+b per member = "
        "2*before + t + 1, an integer), so the rank sum R1 and "
        "U1 = R1 - n1(n1+1)/2 accumulate as exact bigints; the "
        "normal-approximation z includes the standard tie correction "
        "sum(t^3 - t) (also an exact integer) and is ONE closed-form "
        "double expression at the end. The 100 TB shape: identical to "
        "the KS plan — one filtered scan, per-value FILTER counts, "
        "one running sum over the value domain (executed as operators/"
        "ranks.global_cumsum: range shuffle + partitioned window + "
        "broadcast offsets, no single-partition stage), five "
        "algebraic accumulators.",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(_KS_G1, _KS_G2))
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
        )
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == _KS_G1, 1).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.count("*").cast("bigint").alias("t"),
        )
    )
    # Running tie-group rank offset via the two-pass distributed cumsum
    # (operators/ranks) — same near-row-cardinality value domain as KS.
    cum = global_cumsum(vals, ["v"], "t", out_col="_ct").select(
        "d1",
        "t",
        (F.col("_ct") - F.col("t")).cast("bigint").alias("before_me"),
    )
    sums = cum.agg(
        F.sum(F.col("d1") * (2 * F.col("before_me") + F.col("t") + 1))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum("d1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("d1")).cast("bigint").alias("n2"),
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    z = (
        u1_x2.cast("double") / 2.0
        - F.col("n1").cast("double") * F.col("n2") / 2.0
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / 12.0
        * (
            (F.col("n") + 1.0)
            - F.col("tie_cubes").cast("double")
            / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    return sums.select(
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        F.round(F.lit(1_000_000.0) * z).cast("bigint").alias("z_micro"),
    )


# ---------------------------------------------------------------------------
# Trimmed mean
# ---------------------------------------------------------------------------
#
# Trimmed mean (5% each side) per group by exact rank bounds — the
# robust location estimate with deterministic row selection (ties
# broken by key), exact cent sums, one final division.

_TRIM_PCT_NUM = 5  # trim 5% of rows from EACH side (floor)
_TRIM_PCT_DEN = 100


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY round(l_extendedprice * 100),
                                           l_orderkey, l_linenumber) AS rk,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT flag AS l_returnflag,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(round(1.0 * sum(cents) / count(*)) AS BIGINT)
               AS trimmed_mean_cents
    FROM ranked
    WHERE rk > n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN}
      AND rk <= n - n * {_TRIM_PCT_NUM} // {_TRIM_PCT_DEN}
    GROUP BY flag
    ORDER BY l_returnflag
    """,
    doc=f"Trimmed mean ({_TRIM_PCT_NUM}% of ROWS floored from each "
        "side) of extended price per return flag — the robust "
        "location estimate that survives fat tails where the plain "
        "mean does not. Row selection is EXACTLY deterministic: rank "
        "by (cents, orderkey, linenumber) — a total order, so both "
        "engines keep the identical row set even through tied cents — "
        "and the trim bound k = floor(n*5/100) is integer arithmetic; "
        "kept cents sum exactly; the mean is one rounded division. "
        "The 100 TB shape: the rank window partitions by the group "
        "key (each group sorts independently); at extreme group "
        "sizes the same trim is expressible from the quantile-sketch "
        "family's exact-rank boundaries, trading one sort for the "
        "sketch's mergeable state — the window form here is the "
        "exact baseline the sketch is judged against.",
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("flag").orderBy("cents", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("flag")
    ranked = li.select(
        "flag",
        "cents",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    k = F.floor(F.col("n") * _TRIM_PCT_NUM / _TRIM_PCT_DEN)
    return (
        ranked.filter((F.col("rk") > k) & (F.col("rk") <= F.col("n") - k))
        .groupBy("flag")
        .agg(
            F.max("n").cast("bigint").alias("n_total"),
            F.count("*").cast("bigint").alias("n_kept"),
            F.round(F.lit(1.0) * F.sum("cents") / F.count("*"))
            .cast("bigint")
            .alias("trimmed_mean_cents"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            "n_total",
            "n_kept",
            "trimmed_mean_cents",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Scan provenance audit
# ---------------------------------------------------------------------------
#
# Scan provenance audit: write orders partitioned by priority, read
# the files BACK with the engine's file-provenance pseudo-column
# (input_file_name / filename=true), parse the partition value out
# of the physical path, and certify that every row landed in the
# directory its column value dictates (count + key range per
# partition, path-vs-column match pinned true).


@register(
    "audit_scan_provenance",
    oracle="""
    SELECT o_orderpriority AS partition_value,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
           TRUE AS path_matches
    FROM orders
    GROUP BY 1 ORDER BY partition_value
    """,
    doc="Scan provenance audit: write orders partitioned by priority "
        "to a scratch lakehouse layout, read the files BACK with the "
        "engine's file-provenance pseudo-column (Spark "
        "input_file_name(); DuckDB's filename=true is the same "
        "facility), parse the hive partition value out of the "
        "physical path, and certify per partition that (a) the routed "
        "row counts and key ranges equal what the source table says "
        "they must be and (b) every row's path-derived value equals "
        "its column value (path_matches pinned TRUE via bool_and — a "
        "single misrouted row flips the output and fails the hash "
        "gate). This is the debugging/lineage primitive for 'which "
        "file did this row come from' questions and for validating "
        "custom writers. The 100 TB shape: input_file_name is a "
        "map-side virtual column (no shuffle to carry it); the audit "
        "aggregate partial-combines onto the partition-value frame; "
        "reading back what you just wrote is one extra scan of the "
        "written bytes, the unavoidable floor for a physical audit.",
)
def audit_scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _os.path.join(scratch_dir("provenance_audit"), "orders_by_priority")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    # one file per partition dir: cluster rows by the partition column
    # before the partitioned write (at real scale: repartition(N, col))
    o.repartition("o_orderpriority").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out)
    back = spark.read.parquet(out).select(
        "o_orderkey",
        "o_orderpriority",
        F.regexp_extract(
            F.input_file_name(), r"o_orderpriority=([^/]+)/", 1
        ).alias("raw_path_value"),
    )
    # hive paths URL-encode specials; decode before comparing
    back = back.withColumn("path_value", F.url_decode("raw_path_value"))
    return (
        back.groupBy(F.col("o_orderpriority").alias("partition_value"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
            F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
            F.bool_and(F.col("path_value") == F.col("o_orderpriority")).alias(
                "path_matches"
            ),
        )
        .orderBy("partition_value")
    )


# Float discipline (the queries module docstring): counts are exact; control
# flags cross-multiply in integers (widened in double where the square
# exceeds int64 — deterministic either way); each reported rate is one
# rounded division.

# ---------------------------------------------------------------------------
# SPC p-chart
# ---------------------------------------------------------------------------
#
# Return-rate p-chart — statistical process control over the monthly
# return share: centerline from the pooled rate, 3-sigma binomial
# control limits per month (limits vary with each month's n, the
# p-chart's defining feature), and the out-of-control flag decided by
# INTEGER cross-multiplication ((r*N - R*n)^2 vs 9*R*(N-R)*n scaled) —
# no sqrt near the decision; the displayed limits are single rounded
# expressions. The first drift alarm every ops/quality team wires.


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
# Exact median + MAD via rank picks
# ---------------------------------------------------------------------------
#
# Exact median + MAD of order totals via exact rank picks
# (operators/ranks.exact_rank_values): lower/upper median in doubled
# cent units, deviations |2v - med_x2| stay exact bigints, MAD from a
# second rank-pick pass in quadrupled units — the robust
# location/scale pair with ZERO floats anywhere.


@register(
    "agg_exact_median_mad",
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
    m AS (
        SELECT CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN v END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN v END) AS BIGINT)
                   AS med_x2,
               CAST(max(n) AS BIGINT) AS n
        FROM r
    ),
    dev AS (
        SELECT abs(2 * d.v - m.med_x2) AS dv, d.o_orderkey
        FROM data d CROSS JOIN m
    ),
    r2 AS (
        SELECT dv, row_number() OVER (ORDER BY dv, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM dev
    ),
    m2 AS (
        SELECT CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dv END)
                    + sum(CASE WHEN rn = (n + 2) // 2 THEN dv END) AS BIGINT)
                   AS mad_x4
        FROM r2
    )
    SELECT m.n AS n_orders, m.med_x2 AS median_cents_x2, m2.mad_x4 AS mad_cents_x4
    FROM m CROSS JOIN m2
    """,
    doc="Exact median and median absolute deviation of order totals — "
        "the robust location/scale pair, with ZERO floats: lower/upper "
        "median ranks ((n+1) div 2, (n+2) div 2) are picked by "
        "operators/ranks.exact_rank_values (only the partitions "
        "containing a target rank sort — no global window, no full "
        "sort), reported doubled (med_x2 = lo + hi) so even-n medians "
        "stay integral; deviations |2v - med_x2| are exact bigints in "
        "the same doubled units, and a second rank-pick pass yields "
        "MAD quadrupled (mad_x4). Unlike approx_percentile this is "
        "EXACT and deterministic, and unlike a sort-based exact median "
        "it never materializes a global order — the two-pass rank-"
        "locate device is the escalation SCALING.md documents. The "
        "100 TB shape: two pruned rank-pick passes (each: one range "
        "shuffle + a couple of candidate-partition sorts) + two scalar "
        "aggregates; the second pass's input is a broadcast-joined "
        "derived column, not a copy.",
)
def agg_exact_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = (
        table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            "o_orderkey",
        )
        .localCheckpoint()  # feeds both rank-pick passes + the count
    )
    lo = lambda n: int_div(n + 1, 2)  # noqa: E731
    hi = lambda n: int_div(n + 2, 2)  # noqa: E731
    # each rank-pick pass carries the total it already computed for its
    # pruning predicate (total_col), so no separate count pass and no
    # broadcast n_frame crossJoins
    picks = exact_rank_values(
        data, ["v", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    med = picks.agg(
        (
            F.sum(F.when(F.col("rn") == lo(F.col("n")), F.col("v")))
            + F.sum(F.when(F.col("rn") == hi(F.col("n")), F.col("v")))
        )
        .cast("bigint")
        .alias("med_x2"),
        F.max("n").cast("bigint").alias("n"),
    )
    dev = data.crossJoin(F.broadcast(med.select("med_x2"))).select(
        F.abs(2 * F.col("v") - F.col("med_x2")).alias("dv"), "o_orderkey"
    )
    picks2 = exact_rank_values(
        dev, ["dv", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    mad = picks2.agg(
        (
            F.sum(F.when(F.col("rn") == lo(F.col("n")), F.col("dv")))
            + F.sum(F.when(F.col("rn") == hi(F.col("n")), F.col("dv")))
        )
        .cast("bigint")
        .alias("mad_x4")
    )
    return med.crossJoin(F.broadcast(mad)).select(
        F.col("n").alias("n_orders"),
        F.col("med_x2").alias("median_cents_x2"),
        F.col("mad_x4").alias("mad_cents_x4"),
    )


# ---------------------------------------------------------------------------
# Quarantine split
# ---------------------------------------------------------------------------
#
# Quarantine split: row-level data-quality gate over orders — every
# rule failure routes the row to a quarantine parquet with its
# reasons, passers to the clean parquet, and the report (recomputed
# from the MATERIALIZED sinks, not the logical plan) counts rows per
# rule and per destination — the Deequ/expectations pattern with the
# writer in the loop.

_QUAR_MAX_DATE = "2025-01-01"


@register(
    "quality_quarantine_split",
    oracle=f"""
    WITH src AS (
        SELECT o_orderkey, o_totalprice, o_orderdate, o_orderpriority,
               o_custkey
        FROM orders
        UNION ALL
        -- planted violations (the fixtures are clean by construction;
        -- a gate that never fires certifies nothing)
        SELECT * FROM (VALUES
            (900000001, -5.00,  TIMESTAMP '2024-01-01', '1-URGENT', 1),
            (900000002, 10.00,  TIMESTAMP '2025-06-01', '1-URGENT', 1),
            (900000003, 10.00,  TIMESTAMP '2024-01-01', 'EXPEDITE??', 1),
            (900000004, 10.00,  TIMESTAMP '2024-01-01', '5-LOW', -7),
            (900000005, -1.00,  NULL, 'zz', 0)
        ) v(o_orderkey, o_totalprice, o_orderdate, o_orderpriority, o_custkey)
    ),
    flagged AS (
        SELECT o_orderkey,
               (round(o_totalprice * 100) <= 0) AS r_nonpos_price,
               (o_orderdate IS NULL
                OR o_orderdate >= TIMESTAMP '{_QUAR_MAX_DATE}')
                   AS r_bad_date,
               (o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                                        '4-NOT SPECIFIED', '5-LOW'))
                   AS r_bad_priority,
               (o_custkey <= 0) AS r_bad_custkey
        FROM src
    ),
    labeled AS (
        SELECT *,
               (r_nonpos_price OR r_bad_date OR r_bad_priority
                OR r_bad_custkey) AS quarantined
        FROM flagged
    )
    SELECT bucket, n FROM (
        SELECT 'clean' AS bucket,
               CAST(sum(CASE WHEN NOT quarantined THEN 1 ELSE 0 END)
                    AS BIGINT) AS n FROM labeled
        UNION ALL
        SELECT 'quarantine',
               CAST(sum(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:nonpos_price',
               CAST(sum(CASE WHEN r_nonpos_price THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_date',
               CAST(sum(CASE WHEN r_bad_date THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_priority',
               CAST(sum(CASE WHEN r_bad_priority THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
        UNION ALL
        SELECT 'rule:bad_custkey',
               CAST(sum(CASE WHEN r_bad_custkey THEN 1 ELSE 0 END) AS BIGINT)
        FROM labeled
    ) t ORDER BY bucket
    """,
    doc="Quarantine-split quality gate — the expectations pattern with "
        "the WRITER in the loop: four row-level rules over orders "
        "(positive price, sane date, known priority, positive custkey); "
        "failing rows land in a quarantine parquet carrying their "
        "comma-joined reasons, passers in the clean parquet, and the "
        "report is recomputed FROM THE MATERIALIZED SINKS (read-back, "
        "the mart_star_schema_build convention), so a hash match "
        "certifies the split-write-readback chain, not just the rule "
        "expressions. Complements quality_constraint_checks (dataset-"
        "level verdicts, no routing). The 100 TB shape: rules are "
        "map-side booleans, the split is two filtered writes of the "
        "same scan, and the report partial-combines over the "
        "read-back; quarantine stays small by construction in a "
        "healthy pipeline, and the reasons column makes triage "
        "O(grep), not O(re-run).",
)
def quality_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("quarantine_split")
    clean_path = _os.path.join(base, "clean")
    quar_path = _os.path.join(base, "quarantine")
    plants = spark.createDataFrame(
        [
            (900000001, -5.00, "2024-01-01", "1-URGENT", 1),
            (900000002, 10.00, "2025-06-01", "1-URGENT", 1),
            (900000003, 10.00, "2024-01-01", "EXPEDITE??", 1),
            (900000004, 10.00, "2024-01-01", "5-LOW", -7),
            (900000005, -1.00, None, "zz", 0),
        ],
        "o_orderkey long, o_totalprice double, o_orderdate string, "
        "o_orderpriority string, o_custkey long",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    o = (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority",
            "o_custkey",
        )
        .unionByName(plants)
    )
    rules = [
        ("nonpos_price", F.round(F.col("o_totalprice") * 100) <= 0),
        (
            "bad_date",
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") >= F.lit(_QUAR_MAX_DATE).cast("timestamp")),
        ),
        (
            "bad_priority",
            ~F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        ("bad_custkey", F.col("o_custkey") <= 0),
    ]
    flagged = o.select(
        "o_orderkey",
        *[cond.alias(f"r_{name}") for name, cond in rules],
    ).withColumn(
        "reasons",
        F.concat_ws(
            ",",
            *[
                F.when(F.col(f"r_{name}"), F.lit(name))
                for name, _ in rules
            ],
        ),
    )
    quarantined = F.col("reasons") != ""
    flagged.where(~quarantined).write.mode("overwrite").parquet(clean_path)
    flagged.where(quarantined).write.mode("overwrite").parquet(quar_path)
    clean_back = spark.read.parquet(clean_path)
    quar_back = spark.read.parquet(quar_path)
    rows = [
        clean_back.agg(
            F.lit("clean").alias("bucket"), F.count("*").cast("bigint").alias("n")
        ),
        quar_back.agg(
            F.lit("quarantine").alias("bucket"),
            F.count("*").cast("bigint").alias("n"),
        ),
    ]
    both = clean_back.unionByName(quar_back)
    for name, _ in rules:
        rows.append(
            both.agg(
                F.lit(f"rule:{name}").alias("bucket"),
                F.sum(F.when(F.col(f"r_{name}"), 1).otherwise(0))
                .cast("bigint")
                .alias("n"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("bucket")


# ---------------------------------------------------------------------------
# Poisson bootstrap CI
# ---------------------------------------------------------------------------
#
# Poisson-bootstrap 95% CI for the mean order value — THE scalable
# bootstrap (each row draws an independent Poisson(1) replication
# weight per replica, so resampling is one map-side pass; the classic
# n-out-of-n bootstrap needs global coordination).  Weights come from
# 16-bit md5 draws against precomputed integer CDF thresholds —
# bit-identical on any engine — and the percentile picks are exact
# ranks over the B=50 replica means.

_BOOT_B = 50
_BOOT_SALT = "poisboot-v1"
# 16-bit integer CDF thresholds for Poisson(1): P(X <= k) * 65536,
# k = 0..7 (mass beyond 7 is < 1e-7 at this resolution; draws >= the
# last threshold pin to 8)
_POIS_T = (24109, 48219, 60273, 64292, 65296, 65497, 65531, 65535)
_BOOT_LO_RANK = 2  # ceil(0.025 * 50)
_BOOT_HI_RANK = 49  # ceil(0.975 * 50)


def _pois_case_sql(u: str) -> str:
    parts = [f"CASE WHEN {u} < {_POIS_T[0]} THEN 0"]
    for k in range(1, len(_POIS_T)):
        parts.append(f" WHEN {u} < {_POIS_T[k]} THEN {k}")
    parts.append(" ELSE 8 END")
    return "".join(parts)


@register(
    "agg_poisson_bootstrap_ci",
    oracle=f"""
    WITH data AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    reps AS (SELECT b FROM generate_series(1, {_BOOT_B}) t(b)),
    weighted AS (
        SELECT r.b, d.cents,
               {_pois_case_sql(
                   "('0x' || substring(md5('" + _BOOT_SALT + ":' "
                   "|| CAST(r.b AS VARCHAR) || ':' "
                   "|| CAST(d.o_orderkey AS VARCHAR)), 1, 4))::BIGINT"
               )} AS w
        FROM data d CROSS JOIN reps r
    ),
    means AS (
        SELECT b,
               CAST(round(1.0 * sum(w * cents) / sum(w)) AS BIGINT)
                   AS mean_cents
        FROM weighted GROUP BY b
    ),
    sorted AS (SELECT list(mean_cents ORDER BY mean_cents, b) AS l FROM means),
    point AS (
        SELECT CAST(round(1.0 * sum(cents) / count(*)) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM data
    )
    SELECT p.n AS n_orders,
           p.m AS mean_cents,
           s.l[{_BOOT_LO_RANK}] AS ci_lo_cents,
           s.l[{_BOOT_HI_RANK}] AS ci_hi_cents,
           CAST({_BOOT_B} AS BIGINT) AS n_replicas
    FROM point p CROSS JOIN sorted s
    """,
    doc=f"Poisson-bootstrap 95% CI for the mean order value, B="
        f"{_BOOT_B} replicas — THE bootstrap that scales (Chamandy et "
        "al.'s 'Estimating Uncertainty for Massive Data Streams' "
        "device, standard at planet scale): instead of the classic "
        "n-out-of-n resample (which needs global coordination), every "
        "row draws an INDEPENDENT Poisson(1) replication weight per "
        "replica, so resampling is one map-side expression and every "
        "replica mean is a partial-combining aggregate. Weights are "
        "16-bit md5 draws compared against precomputed integer CDF "
        "thresholds (embedded literals, identical on both engines — "
        "the operators/sampling discipline), each replica mean is ONE "
        "rounded division of exact cent/count sums, and the CI is "
        f"exact rank picks ({_BOOT_LO_RANK}/{_BOOT_HI_RANK} of the "
        "mean-sorted, b-tiebroken replica list — a bounded B-row "
        "frame). The 100 TB shape: the B-way fan-out is map-side "
        "(B x narrow rows), the per-replica aggregate partial-"
        "combines, and the final step is B-row arithmetic; B is a "
        "dial, not a scaling risk.",
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # The B-way fan-out evaluates one md5 per (order, replica) — |orders| x 50
    # hash+conv expressions.  The orders scan is a single split (one row
    # group locally; and even at scale the hash work is ~50x the scan work),
    # so without an explicit exchange the whole fan-out runs in the scan's
    # task count.  Spreading the narrow (key, cents) rows across the
    # session's default parallelism costs one tiny exchange and parallelizes
    # the hashing; the per-replica partial aggregation below is unchanged.
    weighted_src = fan_out(data, "o_orderkey")
    reps = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(_BOOT_SALT),
                    F.col("b").cast("string"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    w = F.when(u < _POIS_T[0], 0)
    for k in range(1, len(_POIS_T)):
        w = w.when(u < _POIS_T[k], k)
    w = w.otherwise(8)
    weighted = weighted_src.crossJoin(F.broadcast(reps)).select(
        "b", "cents", w.alias("w")
    )
    means = weighted.groupBy("b").agg(
        F.round(F.lit(1.0) * F.sum(F.col("w") * F.col("cents")) / F.sum("w"))
        .cast("bigint")
        .alias("mean_cents")
    )
    sorted_means = means.agg(
        F.array_sort(F.collect_list(F.struct("mean_cents", "b"))).alias("l")
    )
    point = data.agg(
        F.round(F.lit(1.0) * F.sum("cents") / F.count("*"))
        .cast("bigint")
        .alias("m"),
        F.count("*").cast("bigint").alias("n"),
    )
    return point.crossJoin(F.broadcast(sorted_means)).select(
        F.col("n").alias("n_orders"),
        F.col("m").alias("mean_cents"),
        F.element_at("l", _BOOT_LO_RANK)["mean_cents"].alias("ci_lo_cents"),
        F.element_at("l", _BOOT_HI_RANK)["mean_cents"].alias("ci_hi_cents"),
        F.lit(_BOOT_B).cast("bigint").alias("n_replicas"),
    )


# winsorized mean via exact rank-pick bounds.
#
# One more named operator: the 5/95 winsorized mean of order totals —
# the robust-location companion to agg_trimmed_mean (trimming DROPS the
# tails and shrinks n; winsorizing CLAMPS them, keeping every row's vote
# but bounding its influence — the convention in compensation analytics
# and outlier-heavy KPI reporting).  The clamp bounds are exact p05/p95
# rank picks via operators/ranks.exact_rank_values (only the partitions
# containing a target rank sort), the clamped sum is an exact bigint,
# and the reported means are one rounded division each.
#
# Float discipline (the queries module docstring): cents and rank picks
# are exact bigints; each mean is one rounded IEEE division.

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


# Misra-Gries mergeable heavy hitters.
#
# The deterministic counter-based companion to agg_countmin_frequency's
# hashed sketch: per-partition Misra-Gries summaries with K counters
# (bounded memory regardless of the distinct-token count), merged by
# summing estimates, carrying the classic guarantee — every token with
# true frequency > n/(K+1) survives, and every estimate undercounts by at
# most n/(K+1).  Both properties are verified IN-PLAN against exact
# counts and pinned as boolean columns (the agg_approx_distinct
# convention), so the oracle checks the GUARANTEE, not the layout-
# dependent estimates.
#
# The partition summaries run in an Arrow ``mapInPandas`` stage folding
# each Arrow batch's value_counts token-by-token into the counter dict;
# whenever the dict exceeds K keys, every one of the K+1 counters loses
# d = min(counter values) and the non-positive drop — peak counter size
# is K+1 regardless of the Arrow batch's distinct count, and each prune
# removes >= (K+1) x d of total mass, which is exactly why no single key
# can ever lose more than n/(K+1) (Misra & Gries 1982; merged summaries
# keep the bound, Agarwal et al. 2013).
#
# Float discipline: everything here is integer counts and integer
# cross-multiplied comparisons — no floats at all.

_MG_K = 64  # counters per partition summary; guarantee threshold n/(K+1)
_MG_TOP = 20  # exact top tokens reported with their verdicts


def _mg_summaries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batched-decrement Misra-Gries over a partition's token stream."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for tok, c in pdf["tok"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > _MG_K:
                # prune inside the fold so peak size is K+1, independent
                # of the Arrow batch's distinct count: all K+1 keys lose
                # d = min count, removing >= (K+1)*d total mass, so every
                # surviving estimate undercounts by at most n/(K+1)
                d = min(counters.values())
                counters = {
                    t: v - d for t, v in counters.items() if v - d > 0
                }
    yield pd.DataFrame(
        {"tok": list(counters.keys()), "est": list(counters.values())}
    )


@register(
    "agg_misra_gries_topk",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ),
    cnt AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS n FROM cnt),
    top AS (
        SELECT tok, exact_cnt FROM cnt
        ORDER BY exact_cnt DESC, tok LIMIT {_MG_TOP}
    )
    SELECT tok, exact_cnt,
           (exact_cnt * {_MG_K + 1}) > t.n AS is_guaranteed,
           true AS guarantee_ok,
           true AS bound_ok
    FROM top CROSS JOIN tot t
    ORDER BY exact_cnt DESC, tok
    """,
    doc=f"Misra-Gries heavy hitters over the corpus token stream: "
        f"per-partition K={_MG_K}-counter summaries in one Arrow "
        "mapInPandas pass (bounded memory no matter how many distinct "
        "tokens a partition holds — the property a plain groupBy lacks "
        "at 100 TB vocabulary scale), merged by summing estimates. The "
        "classic guarantees are verified IN-PLAN against exact counts "
        f"for the top {_MG_TOP} tokens and pinned as booleans the "
        "oracle checks: every token with frequency > n/(K+1) is present "
        "in the merged summary (guarantee_ok), and present estimates "
        "undercount by at most n/(K+1) while never exceeding the truth "
        "(bound_ok) — integer cross-multiplied comparisons, no floats. "
        "Estimates themselves are NOT output: they depend on partition "
        "layout; the guarantee does not. The 100 TB shape: the sketch "
        "side is one map-side pass emitting <= P*K kilobyte rows and "
        "one tiny merge; the exact side (verification baseline, small-"
        "scale-only, the agg_quantile_sketch_mergeable convention) is "
        "the token groupBy the sketch replaces at scale.",
)
def agg_misra_gries_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_shipped(spark)
    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .localCheckpoint()  # one tokenize pass feeds sketch AND exact sides
    )
    sketch = (
        toks.mapInPandas(_mg_summaries, "tok string, est long")
        .groupBy("tok")
        .agg(F.sum("est").cast("bigint").alias("est"))
    )
    exact = toks.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("exact_cnt")
    )
    tot = exact.agg(F.sum("exact_cnt").cast("bigint").alias("n"))
    top = exact.orderBy(F.desc("exact_cnt"), "tok").limit(_MG_TOP)
    guaranteed = (F.col("exact_cnt") * (_MG_K + 1)) > F.col("n")
    in_sketch = F.col("est").isNotNull()
    return (
        top.join(F.broadcast(sketch), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "exact_cnt",
            guaranteed.alias("is_guaranteed"),
            (~guaranteed | in_sketch).alias("guarantee_ok"),
            (
                ~in_sketch
                | (
                    ((F.col("exact_cnt") - F.col("est")) * (_MG_K + 1) <= F.col("n"))
                    & (F.col("est") <= F.col("exact_cnt"))
                )
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("exact_cnt"), "tok")
    )


# k-anonymity audit and a distribution-free
# median confidence interval.
#
# - k-anonymity / l-diversity audit: the standard privacy readout before a
#   dataset leaves the building — equivalence classes over a
#   quasi-identifier tuple, how many rows sit in classes smaller than k
#   (re-identifiable), and the minimum distinct-sensitive-value count per
#   class (l-diversity, the defense against homogeneity attacks).  Pure
#   partial-aggregatable rollups.
# - Median CI by the binomial rank bound: the textbook distribution-free
#   interval — order statistics at ranks (n+1)/2 -/+ z*sqrt(n)/2 cover the
#   median with ~95% confidence REGARDLESS of the distribution.  The rank
#   arithmetic is data-dependent, which is exactly what
#   operators/ranks.exact_rank_values' rank-expression contract exists
#   for: the ranks are Column expressions of n, evaluated in-plan, and
#   only the partitions containing a target rank ever sort.
#
# Float discipline: counts and cent values are exact bigints; the CI rank
# uses one IEEE-exact sqrt and one floor, mirrored verbatim by the oracle.

# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------

_KA_K = 5  # classes smaller than this are re-identifiable


@register(
    "compliance_k_anonymity",
    oracle=f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT c_acctbal >= 0) AS BIGINT) AS l_div
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN class_size < {_KA_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_below_k,
           CAST(sum(CASE WHEN class_size < {_KA_K} THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_below_k,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           min(class_size) >= {_KA_K} AS k_anonymous
    FROM classes
    """,
    doc=f"k-anonymity / l-diversity audit over the (nation, market-"
        "segment) quasi-identifier: equivalence-class sizes, how many "
        f"classes (and rows) fall below k={_KA_K} — the re-identifiable "
        "remainder a release gate must suppress or generalize — and the "
        "minimum l-diversity of the sensitive attribute (account-balance "
        "sign) per class, the defense against homogeneity attacks. The "
        "100 TB shape: ONE partial-combining groupBy collapses the table "
        "to the quasi-identifier domain, and the audit scalars fold in a "
        "1-row aggregate; nothing else moves. The release action "
        "(suppress/generalize) composes as a broadcast anti-join against "
        "the below-k class list.",
)
def compliance_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    classes = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("class_size"),
            F.countDistinct(F.col("c_acctbal") >= 0)
            .cast("bigint")
            .alias("l_div"),
        )
    )
    return classes.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < _KA_K, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_below_k"),
        F.sum(F.when(F.col("class_size") < _KA_K, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
        (F.min("class_size") >= _KA_K).alias("k_anonymous"),
    )


# ---------------------------------------------------------------------------
# Distribution-free median CI (binomial rank bound)
# ---------------------------------------------------------------------------

_CI_Z = 1.96  # ~95% two-sided


@register(
    "agg_median_ci_binomial",
    oracle=f"""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
        FROM orders
    ),
    r AS (
        SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM data
    ),
    ranks AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(greatest(1, CAST(floor((max(n) + 1) / 2.0
                    - {_CI_Z} * sqrt(CAST(max(n) AS DOUBLE)) / 2.0) AS BIGINT))
                    AS BIGINT) AS lo_rank,
               CAST(least(CAST(max(n) AS BIGINT),
                    CAST(floor((max(n) + 2) / 2.0
                    + {_CI_Z} * sqrt(CAST(max(n) AS DOUBLE)) / 2.0) AS BIGINT))
                    AS BIGINT) AS hi_rank
        FROM r
    )
    SELECT k.n AS n_orders, k.lo_rank, k.hi_rank,
           CAST(max(CASE WHEN r.rn = k.lo_rank THEN r.v END) AS BIGINT)
               AS ci_lo_cents,
           CAST(max(CASE WHEN r.rn = k.hi_rank THEN r.v END) AS BIGINT)
               AS ci_hi_cents
    FROM r CROSS JOIN ranks k
    GROUP BY k.n, k.lo_rank, k.hi_rank
    """,
    doc="Distribution-free ~95% confidence interval for the median of "
        "order totals via the binomial rank bound: the order statistics "
        "at ranks (n+1)/2 -/+ 1.96*sqrt(n)/2 bracket the true median "
        "with ~95% coverage for ANY distribution — the standard "
        "nonparametric CI (normal approximation to Binomial(n, 1/2)). "
        "The two ranks are DATA-DEPENDENT expressions of n, which is "
        "exactly the contract of operators/ranks.exact_rank_values: "
        "rank expressions evaluate in-plan against the total the "
        "pruning pass already computed (total_col), and only the "
        "partitions containing a target rank sort. Cents are exact "
        "bigints; the rank arithmetic uses one IEEE-exact sqrt and one "
        "floor, mirrored verbatim by the oracle. The 100 TB shape: one "
        "range shuffle + two candidate-partition sorts + P-row "
        "plumbing — no global sort, no single-partition window.",
)
def agg_median_ci_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        "o_orderkey",
    )
    z = F.lit(_CI_Z)

    def lo(n):
        return F.greatest(
            F.lit(1).cast("long"),
            F.floor((n + 1) / F.lit(2.0) - z * F.sqrt(n.cast("double")) / 2)
            .cast("long"),
        )

    def hi(n):
        return F.least(
            n.cast("long"),
            F.floor((n + 2) / F.lit(2.0) + z * F.sqrt(n.cast("double")) / 2)
            .cast("long"),
        )

    picks = exact_rank_values(
        data, ["v", "o_orderkey"], [lo, hi], rn_col="rn", total_col="n"
    )
    return picks.agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max(lo(F.col("n"))).cast("bigint").alias("lo_rank"),
        F.max(hi(F.col("n"))).cast("bigint").alias("hi_rank"),
        F.max(F.when(F.col("rn") == lo(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("ci_lo_cents"),
        F.max(F.when(F.col("rn") == hi(F.col("n")), F.col("v")))
        .cast("bigint")
        .alias("ci_hi_cents"),
    )


# exact 1-D Wasserstein (earth-mover) shift.
#
# PSI and KS answer "did the distribution move?"; the Wasserstein-1
# distance answers "by HOW MUCH, in the unit of the value" — the integral
# of |F_A - F_B| over the value axis, i.e. the average cents each unit of
# probability mass must travel.  That makes it the drift metric of choice
# for feature monitoring: threshold it in cents, not in abstract index
# units.
#
# Exactness device: on the DISTINCT-VALUE frame, W1 = sum over adjacent
# value gaps of |cumA * nB - cumB * nA| * gap, all exact bigints (the
# cross-multiplied ECDF difference avoids any division inside the sum,
# the agg_ks_test convention), accumulated in DECIMAL(38,0) for overflow
# headroom; ONE closing IEEE division reports micro-cents.  The running
# counts AND the global row number (used to join each value to its
# ordered successor) come off a SINGLE operators/ranks.global_cumsum
# range pass — no single-partition window anywhere.
#
# Float discipline: exact bigint/decimal accumulation; one rounded
# division at the end.

_W1_YEAR_A = 1995
_W1_YEAR_B = 1996


@register(
    "agg_wasserstein_shift",
    oracle=f"""
    WITH data AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               year(o_orderdate) AS yr
        FROM orders WHERE year(o_orderdate) IN ({_W1_YEAR_A}, {_W1_YEAR_B})
    ),
    cells AS (
        SELECT v,
               CAST(sum(CASE WHEN yr = {_W1_YEAR_A} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN yr = {_W1_YEAR_B} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM data GROUP BY v
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        FROM cells
    ),
    cum AS (
        SELECT v,
               CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
               CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
               lead(v) OVER (ORDER BY v) AS next_v
        FROM cells
    ),
    acc AS (
        SELECT CAST(sum(CAST(abs(cuma * t.nb - cumb * t.na) AS DECIMAL(38,0))
                        * (next_v - v)) AS DECIMAL(38,0)) AS numer
        FROM cum CROSS JOIN tot t
        WHERE next_v IS NOT NULL
    )
    SELECT t.na AS n_a, t.nb AS n_b,
           CAST((SELECT count(*) FROM cells) AS BIGINT) AS distinct_values,
           CAST(round(1000000.0 * CAST(a.numer AS DOUBLE)
                      / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)))
                AS BIGINT) AS w1_micro_cents
    FROM tot t CROSS JOIN acc a
    """,
    doc=f"Exact 1-D Wasserstein (earth-mover) distance between the "
        f"{_W1_YEAR_A} and {_W1_YEAR_B} order-total distributions, in "
        "micro-CENTS — 'how far does the distribution move, in the "
        "value's own unit', the thresholdable drift metric PSI/KS are "
        "not. W1 = integral of |ECDF_A - ECDF_B| over the value axis, "
        "computed on the DISTINCT-CENT frame as sum(|cumA*nB - cumB*nA| "
        "* gap) — cross-multiplied exact bigints (no division inside "
        "the sum), DECIMAL(38,0) accumulation, ONE closing rounded "
        "division. The running counts and the row number that joins "
        "each value to its ordered successor come off a SINGLE "
        "operators/ranks.global_cumsum range pass (rn_col) — no "
        "single-partition window, no second shuffle of the value "
        "frame; the successor lookup is an equi-join on rn+1. The "
        "100 TB shape: orders collapse once into the value-frame "
        "partial agg; everything after moves the distinct-value dim.",
)
def agg_wasserstein_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    yr = F.year("o_orderdate")
    data = (
        table(spark, sf_dir, "orders")
        .where(yr.isin(_W1_YEAR_A, _W1_YEAR_B))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            yr.alias("yr"),
        )
    )
    cells = data.groupBy("v").agg(
        F.sum(F.when(F.col("yr") == _W1_YEAR_A, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("yr") == _W1_YEAR_B, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum = global_cumsum(
        cells, ["v"], ["ca", "cb"], out_col=["cuma", "cumb"], rn_col="rn"
    ).localCheckpoint()  # feeds totals, both join sides, and the count
    tot = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count("*").cast("bigint").alias("distinct_values"),
    )
    nxt = cum.select((F.col("rn") - 1).alias("rn"), F.col("v").alias("next_v"))
    acc = (
        cum.join(nxt, "rn")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.abs(
                    F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
                ).cast("decimal(38,0)")
                * (F.col("next_v") - F.col("v"))
            )
            .cast("decimal(38,0)")
            .alias("numer")
        )
    )
    return tot.crossJoin(F.broadcast(acc)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "distinct_values",
        F.round(
            F.lit(1_000_000.0)
            * F.col("numer").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
        )
        .cast("bigint")
        .alias("w1_micro_cents"),
    )


# KMV/theta-sketch DISTINCT SET OPERATIONS.
#
# The sketch family so far covers per-set cardinality (HLL escalation,
# r7), membership (bloom), frequency (count-min, Misra-Gries) and
# quantiles (mergeable KLL-ish) — but none of them can estimate the
# INTERSECTION of two distinct sets, the question every retention /
# audience-overlap / cross-segment analysis asks at 100 TB where exact
# COUNT(DISTINCT) of an intersection needs a full co-shuffle of both
# sides.  The theta-sketch framework (Dasgupta et al., the DataSketches
# line) answers it from two k-minimum-values sketches alone:
#
# - KMV sketch of a set = the k smallest deterministic hashes of its
#   distinct keys; theta = the k-th smallest; estimate = (k-1) / theta
#   (hashes scaled to [0,1)).
# - UNION: merge = the k smallest of the two sketches' union — provably
#   identical to sketching the union directly (the k smallest of A u B
#   are each within their side's k smallest), which the in-plan
#   ``merge_consistent`` verdict pins EXACTLY, not approximately.
# - INTERSECTION: theta = min(theta_a, theta_b); the intersection
#   estimate is |{h in sketch_a n sketch_b : h < theta}| / theta.
#
# Everything is deterministic md5-prefix integer hashing (the repo's
# minhash convention), so both engines materialize the SAME sketches and
# the oracle hash-pins estimates, not just error bounds.  Each output row
# carries the exact cardinality and the relative error in permille — the
# sketch's accuracy is part of the certified result.
#
# 100 TB shape: a KMV sketch build is one partial-aggregatable top-k
# (per-partition k smallest, merged once — Spark's TakeOrderedAndProject,
# no global sort, no window); sketches are k rows regardless of input
# size, every set operation downstream runs on broadcast k-row frames.

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
