"""The TPC-H plan shapes, adapted to the driver's schema. Together with
Q1 (``pricing_summary``) and Q5 (``revenue_by_nation``) in ``queries``
they cover all 22 shapes.

Adaptation notes (the driver's TPC-H-ish tables have no ``partsupp``,
``l_shipmode``, ``l_commitdate``, ``l_receiptdate``, ``c_phone``,
``p_container`` or ``p_mfgr``):

* supply offers (Q2/Q11/Q16/Q20's ``partsupp``) are DERIVED from observed
  trade: the distinct ``(l_partkey, l_suppkey)`` pairs of ``lineitem``,
  with unit cost ``min(l_extendedprice / l_quantity)`` and traded value
  ``sum(line revenue)``. Same join topology and correlation structure,
  observable inputs.
* Q12's "late shipment" predicate (``l_receiptdate > l_commitdate``)
  becomes ``l_shipdate > o_orderdate + INTERVAL 120 DAYS`` and the
  ship-mode grouping becomes ``l_linestatus`` — the plan shape (fact join
  + conditional two-accumulator aggregate) is unchanged.
* Q22's phone country code becomes the last two digits of ``c_name``.

Exact-arithmetic discipline: every revenue/balance SUM that feeds an
equality/threshold comparison or the gate's value hash is accumulated in
INTEGER CENTS — per-row ``CAST(round(expr * 100) AS BIGINT)`` (both
engines evaluate the identical IEEE-double expression, so the rounded
cent value is bit-identical), then an exact, order-independent BIGINT
sum, divided back to currency only for display. This removes the
summation-order last-ulp hazard that plain ``round(sum(double), 2)``
carries near rounding boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register


@register(
    "tpch_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping priority): two selective dimension "
        "filters pushed below a 3-way join, grouped revenue, global "
        "top-10. Filters reach the parquet scans (PushedFilters), the "
        "customer side shrinks ~5x before the join, and the final "
        "ORDER+LIMIT is a TakeOrderedAndProject (per-partition top-10 "
        "then a 10-row driver merge — never a full sort). Tiebreak "
        "(revenue, o_orderdate, l_orderkey) totally orders rows so the "
        "selected set is deterministic cross-engine.",
)
def tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_promo_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_promo_lines,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    """,
    doc="TPC-H Q14 shape (promotion revenue share): fact-to-dim join with "
        "a conditional-aggregate ratio in ONE pass — no second scan, no "
        "self-join; the CASE folds into the partial aggregate so only "
        "three accumulators cross the shuffle. The date range prunes the "
        "lineitem scan; part joins on its unique key (sort-merge or "
        "AQE-chosen broadcast, not forced — at 100 TB the part dim is "
        "itself billions of rows).",
)
def tpch_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    is_promo = F.col("p_type") == "PROMO"
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(is_promo, disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_share_pct"),
            F.sum(F.when(is_promo, 1).otherwise(0)).cast("bigint").alias("n_promo_lines"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers): a HAVING-filtered "
        "aggregate becomes a keep-list that SEMI-joins back into the "
        "fact before the wide join — lineitem is re-aggregated only for "
        "the ~0.1% of orders that survive, and customer/orders join "
        "against that tiny set. Quantities are integral in the corpus so "
        "the >250 threshold has no float-boundary risk. "
        "TakeOrderedAndProject for the final top-20.",
)
def tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    li_big = li.join(
        F.broadcast(big.select(F.col("l_orderkey").alias("_bk"))),
        F.col("l_orderkey") == F.col("_bk"),
        "left_semi",
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li_big, o.o_orderkey == li_big.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_disjunctive_filter",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: an OR-of-ANDs predicate mixing columns from "
        "BOTH join sides. Catalyst's CNF conversion extracts the "
        "side-local residues — (brand12 AND size<=15) OR (brand23 AND "
        "size<=25) OR ... pushes to the part scan, the quantity "
        "disjunction to the lineitem scan — so each side prunes before "
        "the join even though no single conjunct spans it. The "
        "cross-side correlation evaluates once, post-join.",
)
def tpch_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_small_quantity_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
        FROM lineitem GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_small
    FROM lineitem JOIN pa ON l_partkey = pa.pk
    WHERE l_quantity < pa.half_avg_qty
    """,
    doc="TPC-H Q17 shape: a CORRELATED scalar subquery (per-part average "
        "quantity) decorrelated into aggregate-then-join — the rewrite "
        "Catalyst applies to correlated scalars, written explicitly so "
        "the plan is one scan + one narrow (partkey, avg) aggregate + "
        "one equi-join, never a per-row subquery execution. Boundary-"
        "safe: quantities are integral, so l_quantity < 0.5*avg flips "
        "only if avg error exceeds 2*ulp-scale — both engines compute "
        "avg from identical integral sums.",
)
def tpch_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n_small"),
        )
    )


@register(
    "tpch_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) x
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT join "
        "so zero-order customers keep a row, count(o_orderkey) ignores "
        "the null padding, then an AGGREGATE OF THE AGGREGATE histograms "
        "the counts. Two shuffles by construction (custkey, then "
        "c_count) — the second input is one row per customer, so the "
        "re-aggregation is cheap at any scale.",
)
def tpch_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking): a quarter-window "
        "filter on orders plus a CORRELATED EXISTS against lineitem "
        "with an inequality on columns from BOTH sides — decorrelated "
        "into a left-semi join whose condition carries the cross-table "
        "comparison. The date window prunes the orders scan; the semi "
        "join emits each order at most once regardless of how many "
        "lineitems qualify.",
)
def tpch_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def _cents(col: Column) -> Column:
    """Deterministic integer cents of a currency expression.

    Both engines compute the same IEEE double for the same expression
    tree, and ``round`` (HALF_UP in Spark, half-away-from-zero in DuckDB)
    agrees for every double that is not an exact ``x.5`` — which cannot
    arise here because the inputs are two-decimal parquet doubles whose
    products land strictly off the half-cent in binary.
    """
    return F.round(col * 100).cast("bigint")


def _rev() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str) -> Column:
    return F.lit(s + " 00:00:00").cast("timestamp_ntz")


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change
# ---------------------------------------------------------------------------


@register(
    "tpch_revenue_forecast",
    oracle="""
    SELECT round(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
                 / 100.0, 2) AS potential_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecast revenue change): pure scan-side "
        "aggregate — three conjunctive predicates all pushed to the "
        "parquet scan (range on l_shipdate prunes row groups via "
        "min/max stats), no join, no groupBy shuffle; two accumulators "
        "cross the single exchange. Revenue accumulates in integer "
        "cents (exact, order-independent) and is divided back only for "
        "display, so the hash is immune to summation order. At 100 TB "
        "this is the canonical 'scan 1 year of one fact table' query — "
        "cost is IO, and IO is minimized by pushdown + column pruning "
        "(ReadSchema carries 4 of 11 lineitem columns).",
)
def tpch_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0, 2
        ).alias("potential_revenue"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q2 — minimum cost supplier (correlated MIN subquery)
# ---------------------------------------------------------------------------


@register(
    "tpch_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    europe AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           round(unit_cost, 4) AS unit_cost
    FROM part
    JOIN offers ON p_partkey = l_partkey
    JOIN europe ON s_suppkey = l_suppkey
    WHERE p_type = 'STANDARD' AND p_size <= 10
      AND unit_cost = (
          SELECT min(o2.unit_cost)
          FROM offers o2 JOIN europe e2 ON e2.s_suppkey = o2.l_suppkey
          WHERE o2.l_partkey = p_partkey
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
    doc="TPC-H Q2 shape (min-cost supplier): correlated scalar-MIN "
        "subquery, decorrelated the way Catalyst would — the per-part "
        "minimum over region-restricted offers is a groupBy aggregate "
        "joined back on the part key, then an equality filter keeps the "
        "argmin rows (ties kept, per spec). Supply offers are derived "
        "from lineitem (no partsupp in this schema): "
        "min(l_extendedprice/l_quantity) per (part, supplier) — the "
        "same double computed by both engines, so the min-equality "
        "never straddles an ulp. nation x region is a broadcast dim "
        "chain onto supplier; the offers aggregate shuffles on "
        "(partkey, suppkey) and its re-aggregate on partkey reuses the "
        "narrower key. Final ORDER+LIMIT is TakeOrderedAndProject.",
)
def tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    europe = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # Two consumers (the argmin equality probe and the per-part min) —
    # materialize once; Spark does not CSE identical subplans, so the lazy
    # form re-scans lineitem for each consumer (verified in the plan).
    eu_offers = offers.join(
        europe, offers.l_suppkey == europe.s_suppkey
    ).localCheckpoint()
    best = eu_offers.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    return (
        eu_offers.join(best, "l_partkey")
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(p, eu_offers.l_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------


@register(
    "tpch_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_12')
        OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping): the two nation dims appear "
        "TWICE in the join graph (supplier side and customer side) "
        "under different filters — Spark handles the self-referencing "
        "dim via two broadcast instances; the disjunctive nation-pair "
        "predicate can only be applied after both joins, but each "
        "broadcast side is pre-filtered to the 2-nation universe so "
        "the fact rows that survive either branch are the only ones "
        "carried. The date range prunes the lineitem scan. Grouping "
        "key (supp_nation, cust_nation, year) is 8 groups — the "
        "partial aggregate collapses everything map-side; revenue in "
        "exact integer cents.",
)
def tpch_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_3", "NATION_12")
    nat = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_cents(_rev())) / 100.0, 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------


@register(
    "tpch_market_share",
    oracle="""
    WITH vol AS (
        SELECT year(o_orderdate) AS o_year,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n2 ON n2.n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n2.n_regionkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN cents ELSE 0 END)
                 * 1.0 / sum(cents), 4) AS mkt_share,
           round(sum(cents) / 100.0, 2) AS total_volume
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): the widest join graph "
        "in the suite — lineitem at the center with part, supplier, "
        "orders, customer and TWO nation instances plus region hanging "
        "off it. The region filter restricts the CUSTOMER side; the "
        "supplier-side nation is unfiltered because the numerator needs "
        "every supplier nation — the share is a conditional-aggregate "
        "ratio computed in one pass (no second scan, no self-join). "
        "Both nation instances and region broadcast; part/supplier/"
        "customer joins are AQE's choice. Numerator and denominator "
        "accumulate in exact integer cents so the 4-decimal share is "
        "the same double in both engines.",
)
def tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("n2_key"))
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _cents(_rev()).alias("cents"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", F.col("cents")).otherwise(
                        F.lit(0)
                    )
                )
                * 1.0
                / F.sum("cents"),
                4,
            ).alias("mkt_share"),
            F.round(F.sum("cents") / 100.0, 2).alias("total_volume"),
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q9 — product type profit measure
# ---------------------------------------------------------------------------


@register(
    "tpch_product_profit",
    oracle="""
    SELECT n_name AS nation, year(l_shipdate) AS o_year,
           round(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                 - p_retailprice * l_quantity * 0.6) * 100)
                          AS BIGINT)) / 100.0, 2) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 shape (product-type profit): profit per line is "
        "revenue minus imputed supply cost — this schema has no "
        "ps_supplycost, so cost is 60% of retail (p_retailprice * "
        "l_quantity * 0.6); the expression tree is written identically "
        "in both engines and rounded to integer cents per row, making "
        "the (nation, year) sums exact. The p_name LIKE '%widget%' "
        "predicate is a non-prefix contains — not sargable, but still "
        "pushed to the part scan as a row-level filter ahead of the "
        "join. Supplier->nation broadcasts; lineitem joins part and "
        "supplier on their unique keys (AQE picks build sides).",
)
def tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.6
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(F.round(F.sum(_cents(profit)) / 100.0, 2).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned item reporting
# ---------------------------------------------------------------------------


@register(
    "tpch_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)) / 100.0, 2) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item reporting): one-quarter order "
        "window and a returnflag filter, both pushed to their scans, "
        "feed a 3-way join grouped by customer — the classic 'which "
        "customers are returning things' top-20. Revenue accumulates "
        "in exact integer cents, so the ORDER BY revenue DESC limit "
        "(with c_custkey tiebreak) selects a bit-deterministic set in "
        "both engines — a LIMIT over inexact doubles is where "
        "cross-engine top-k queries silently diverge. The final "
        "ORDER+LIMIT is TakeOrderedAndProject (per-partition heap, "
        "20-row driver merge, never a global sort).",
)
def tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01"))
        & (F.col("o_orderdate") < _ts("1997-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"), "n_name"
        )
        .agg(F.round(F.sum(_cents(_rev())) / 100.0, 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification (HAVING > scalar subquery)
# ---------------------------------------------------------------------------


@register(
    "tpch_important_stock",
    oracle="""
    WITH val AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS value_cents
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           round(value_cents / 100.0, 2) AS part_value
    FROM val
    WHERE value_cents * 1.0 > (SELECT sum(value_cents) * 0.001 FROM val)
    ORDER BY part_value DESC, p_partkey
    """,
    doc="TPC-H Q11 shape (important stock): a grouped aggregate "
        "filtered by a SCALAR SUBQUERY over its own total — the "
        "fraction-of-global-value threshold. Spark decorrelates this "
        "as: aggregate once, re-aggregate the 1-row total, crossJoin "
        "the broadcast scalar back, filter — the fact table is scanned "
        "ONCE (the aggregate output is reused for both sides, not "
        "recomputed). Traded value per part stands in for partsupp "
        "stock value; accumulated in exact integer cents so the "
        "threshold comparison (bigint * 1.0 > bigint-sum * 0.001, both "
        "engines evaluating identical doubles) never straddles an ulp. "
        "The nation filter broadcasts down the supplier dim.",
)
def tpch_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    nat = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey
    )
    # localCheckpoint: the aggregate feeds both the threshold scalar and
    # the filter probe — without it each consumer re-scans lineitem
    # (Spark does not CSE identical subplans; verified in the plan).
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_cents(_rev())).alias("value_cents"))
        .localCheckpoint()
    )
    total = val.agg((F.sum("value_cents") * 0.001).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1.0 > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping modes and order priority (late-shipment adaptation)
# ---------------------------------------------------------------------------


@register(
    "tpch_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 120 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 shape (shipping priority of late lines): this schema "
        "has no commit/receipt dates or ship modes, so 'late' is "
        "l_shipdate > o_orderdate + 120 days (a JOIN-side predicate — "
        "it compares columns of BOTH tables so it cannot push below "
        "the join; the year range on l_shipdate alone does) and the "
        "grouping falls on l_linestatus. The priority split is the "
        "Q12 signature two-accumulator conditional aggregate (CASE "
        "folded into the partial agg, only two counters per group "
        "cross the shuffle).",
)
def tpch_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (view + equality to scalar MAX)
# ---------------------------------------------------------------------------


@register(
    "tpch_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) AS rev_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(rev_cents / 100.0, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE rev_cents = (SELECT max(rev_cents) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape (top supplier): the classic 'revenue view + "
        "WHERE total = (SELECT max(total) FROM view)' — an equality "
        "against a scalar aggregate of the SAME derived table. Spark "
        "computes the quarter's per-supplier revenue ONCE (the view is "
        "localCheckpointed — Spark does not CSE identical subplans, so "
        "the lazy form would scan lineitem once per consumer), derives "
        "the 1-row max, and crossJoin-broadcasts it back for the "
        "equality filter. The equality is on EXACT integer cents — "
        "an equality filter on a floating-point SUM is the textbook "
        "cross-engine divergence (summation order flips the last ulp "
        "and the argmax set changes); integer cents make 'ties all "
        "kept' well-defined and reproducible.",
)
def tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1997-04-01"))
    )
    # Materialized once: the revenue view feeds both the max scalar and
    # the equality probe; lazily it would scan the quarter's lineitem
    # twice (no subplan CSE in Spark — verified in the plan).
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_cents(_rev())).alias("rev_cents")
    ).localCheckpoint()
    mx = rev.agg(F.max("rev_cents").alias("max_cents"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_cents") / 100.0, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship (NOT IN + count-distinct)
# ---------------------------------------------------------------------------


@register(
    "tpch_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 23, 29, 36, 49)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (supplier relationship): negated predicates "
        "(brand <>, type <>, size IN-list) on the part dim, a NOT IN "
        "subquery excluding flagged suppliers (s_acctbal < 0 stands in "
        "for the spec's complaint filter — no comment column here), "
        "and a COUNT(DISTINCT) per (brand, type, size). The supplier "
        "universe derives from observed (l_partkey, l_suppkey) pairs "
        "(no partsupp): the distinct-pairs pre-aggregate shrinks "
        "lineitem ~30x before the part join. NOT IN compiles to a "
        "broadcast LEFT ANTI join (no nulls possible on either key "
        "side, so anti-join and NOT IN agree); count-distinct expands "
        "to the two-level Expand+agg plan Spark always uses.",
)
def tpch_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 15, 23, 29, 36, 49))
    )
    flagged = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(flagged), pairs.l_suppkey == flagged.s_suppkey, "left_anti")
        .join(p, pairs.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN subqueries)
# ---------------------------------------------------------------------------


@register(
    "tpch_promotion_parts",
    oracle="""
    WITH red AS (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    shipped AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem JOIN red ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    ),
    totals AS (
        SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey
    ),
    dominant AS (
        SELECT DISTINCT l_suppkey
        FROM shipped JOIN totals USING (l_partkey)
        WHERE qty > 0.5 * total_qty
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'AMERICA'
      AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (part promotion): three-deep nested IN "
        "subqueries — suppliers IN (pairs whose shipped quantity "
        "exceeds half of that part's total) over parts IN (name-prefix "
        "set). The spec's ps_availqty > 0.5 * shipped-qty threshold "
        "becomes supplier-dominance: this supplier shipped more than "
        "half the part's 1997 volume. Each IN level compiles to a "
        "LEFT SEMI join; the quantity sums are integral-valued doubles "
        "(exact in IEEE, order-independent) so the 0.5*total threshold "
        "is deterministic. The two aggregates reuse one shuffle: "
        "totals re-aggregates shipped's (partkey, suppkey) output on "
        "its prefix key. Region/nation broadcast onto supplier.",
)
def tpch_promotion_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .localCheckpoint()  # two consumers: per-part totals + dominance probe
    )
    totals = shipped.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = (
        shipped.join(totals, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(dominant, F.col("s_suppkey") == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


@register(
    "tpch_waiting_suppliers",
    oracle="""
    WITH ls AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey, l_suppkey
    )
    SELECT s_suppkey, s_name, count(*) AS numwait
    FROM ls l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
            SELECT 1 FROM ls l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM ls l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.last_ship >= l1.last_ship)
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the "
        "hardest correlation pattern in the suite — an EXISTS and a "
        "NOT EXISTS against the SAME derived table with inequality "
        "correlation. 'Late' adapts to shipdates (no receipt/commit "
        "here): the waiting supplier is the one whose latest shipment "
        "in a finished multi-supplier order is STRICTLY after every "
        "other supplier's. The oracle keeps the literal EXISTS/NOT "
        "EXISTS form; the Spark plan replaces both correlated probes "
        "with ONE window pass over l_orderkey — count(*), max(last_"
        "ship) and count-at-max per order — because a windowed "
        "single-shuffle evaluation beats two self-joins of the same "
        "aggregate at any scale. Strictly-after == (row is at the "
        "order max) AND (exactly one row is at the max) AND (order "
        "has >= 2 suppliers).",
)
def tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ls = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        ls.withColumn("n_supp", F.count("*").over(w))
        .withColumn("max_ship", F.max("last_ship").over(w))
        .withColumn(
            "n_at_max",
            F.sum(
                F.when(F.col("last_ship") == F.col("max_ship"), 1).otherwise(0)
            ).over(w),
        )
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("n_at_max") == 1)
            & (F.col("last_ship") == F.col("max_ship"))
        )
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.join(s, flagged.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti-join + scalar AVG subquery)
# ---------------------------------------------------------------------------


@register(
    "tpch_sales_opportunity",
    oracle="""
    WITH elig AS (
        SELECT right(c_name, 2) AS cntrycode, c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
        WHERE right(c_name, 2) IN ('13', '31', '23', '29', '30', '18', '17')
          AND c_acctbal > 0.0
    ),
    avg_bal AS (
        SELECT sum(bal_cents) * 1.0 / count(*) AS avg_cents FROM elig
    )
    SELECT cntrycode, count(*) AS numcust,
           round(sum(bal_cents) / 100.0, 2) AS totacctbal
    FROM elig, avg_bal
    WHERE bal_cents > avg_cents
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22 shape (global sales opportunity): customers from "
        "selected 'country codes' (last two digits of c_name — this "
        "schema has no c_phone) with above-average positive balances "
        "and NO RECENT orders (every customer in this dataset has at "
        "least one lifetime order, so the spec's 'no orders in 7 "
        "years' intent maps to a dated NOT EXISTS — orders since "
        "2000-01-01). Three signature pieces: a scalar AVG subquery "
        "over the filtered set (crossJoin of a broadcast 1-row "
        "aggregate), a NOT EXISTS that compiles to LEFT ANTI against "
        "orders (the big side — anti joins shuffle-hash on o_custkey "
        "at scale, never broadcast), and a final small group-by on "
        "the derived code. The average is computed over integer cents "
        "(exact bigint sum / count) so the strictly-above filter is "
        "bit-deterministic — avg(double) would make membership of "
        "boundary customers depend on summation order.",
)
def tpch_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = ("13", "31", "23", "29", "30", "18", "17")
    c = table(spark, sf_dir, "customer").select(
        F.right(F.col("c_name"), F.lit(2)).alias("cntrycode"),
        "c_custkey",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
        "c_acctbal",
    )
    elig = c.filter(F.col("cntrycode").isin(*codes) & (F.col("c_acctbal") > 0.0)).drop(
        "c_acctbal"
    )
    avg_bal = elig.agg(
        (F.sum("bal_cents") * 1.0 / F.count("*")).alias("avg_cents")
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01"))
        .select("o_custkey")
    )
    return (
        elig.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_cents") > F.col("avg_cents"))
        .join(o, elig.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
