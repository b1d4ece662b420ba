"""Relational core of the query registry: pricing and revenue, argmax,
joins (semi/anti, as-of, salted, range, interval, lateral, bloom
prefilter), windows, top-k, set operations, subqueries, the scalar
function surface, pivots, rollups, recursive SQL, observed metrics, the
Pareto frontier, and the cleaner / populator / scraper stages of the
reference pipeline.

Every query in the package is one registry entry
(``plans/registry.py``; re-exported here as ``REGISTRY``, with
``SKILLS_VOCAB``):

- ``fn(spark, sf_dir) -> DataFrame``: the Spark-first plan, and
- ``oracle``: equivalent ANSI SQL for DuckDB over the same parquet views
  (or None for genuinely non-SQL-expressible operators).

Cross-engine determinism rules (applied in BOTH the Spark plan and oracle):
- every computed column is aliased identically on both sides,
- double aggregates are ``round(x, 2)`` (sums) / ``round(x, 4)`` (ratios) —
  double accumulation order differs between engines; rounding absorbs it,
- integer sums are cast to bigint in the oracle (DuckDB widens to HUGEINT),
- top-k always carries a total tiebreak so the selected SET is deterministic,
- md5 is the shared hash primitive (bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import literal_dim, table
from ..functions import cleaning as _C
from ..functions.scale import fan_out
from ..functions.text import tokenize
from ..operators.asof import asof_join as _asof_join
from ..operators.rangejoin import bin_range_join, interval_overlap_join
from ..operators.ranks import global_cummin
from ..operators.skew import detect_hot_keys as _detect_hot_keys
from ..operators.skew import salted_join as _salted_join
from ..operators.skew import salted_join_hotkeys as _salted_join_hotkeys
from ..operators.topk import top_k_per_group, top_k_pivot
from ..pipelines.cleaner import clean_jobs as _clean_jobs
from ..pipelines.cleaner import exchange_rates_dim as _rates_dim
from ..pipelines.populator import skill_counts as _skill_counts
from ..pipelines.populator import skills_dim as _skills_dim
from ..pipelines.populator import top_skills as _top_skills
from ..sources import scrape as _SC
from ..sources.readers import read_scraped_csv as _read_scraped_csv
from .common import (
    CSV_FIXTURE_GLOB,
    RW_BIN_US,
    RW_HALF_US,
    bloom_bit_col,
    error_window_counts,
    error_window_sides,
)
from .registry import REGISTRY, register  # noqa: F401  (REGISTRY: re-exported)


# ---------------------------------------------------------------------------
# Relational core: aggregation
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: scan -> partial agg -> final agg. "
        "Maps reference A2/A3 grouped counting (populator.py:39-46) to a "
        "hash aggregate with map-side combine.",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
    doc="TPC-H Q5-style multi-join revenue rollup. The nation/region dims "
        "broadcast (reference J2/J3 dict lookups -> broadcast hash joins).",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "argmax_latest_event",
    oracle="""
    SELECT user_id,
           max_by(event_type, ts) AS last_event_type,
           round(max_by(value, ts), 2) AS last_value,
           max(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
    doc="S7 'newest object only' semantics (populator.py:15,22 argmax by "
        "LastModified) as max_by per key — no sort, single hash agg.",
)
def argmax_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.round(F.max_by("value", "ts"), 2).alias("last_value"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Relational core: joins
# ---------------------------------------------------------------------------

@register(
    "join_left_customer_orders",
    oracle="""
    SELECT c_custkey, c_name,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
    doc="Left outer join + agg; customers with zero orders kept (J4 'None "
        "when absent' lookup semantics, main.py:177-180).",
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left anti join (reference's 'already-scraped URL' dedup pattern, "
        "SURVEY §2.7 U3 persistent form).",
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@register(
    "join_semi_parts_shipped",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
    doc="Left semi join (J6 token-in-skills semantics, populator.py:44).",
)
def join_semi_parts_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


@register(
    "join_full_outer_nation_stats",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    doc="Full outer join of two aggregates.",
)
def join_full_outer_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    s = table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "join_cross_region_status",
    oracle="""
    SELECT r_name, o_orderstatus, count(*) AS n
    FROM region CROSS JOIN orders
    GROUP BY r_name, o_orderstatus
    """,
    doc="Cross join (J1 search_terms x locations URL generation, "
        "main.py:32-38) — small side broadcast, never shuffled.",
)
def join_cross_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    o = table(spark, sf_dir, "orders")
    return F.broadcast(r).crossJoin(o).groupBy("r_name", "o_orderstatus").agg(F.count("*").alias("n"))


@register(
    "join_range_price_band",
    oracle="""
    SELECT b.band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 200000.0), ('high', 200000.0, 1e18))
         AS b(band, lo, hi)
      ON o_totalprice >= b.lo AND o_totalprice < b.hi
    GROUP BY b.band
    """,
    doc="Non-equi (range) join against a literal band dim — broadcast nested "
        "loop; SURVEY §2.3 'range join free in Spark'.",
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bands = literal_dim(
        spark,
        [("low", 0.0, 50000.0), ("mid", 50000.0, 200000.0), ("high", 200000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        o.join(F.broadcast(bands), (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


# ---------------------------------------------------------------------------
# Windows / ranking / top-k
# ---------------------------------------------------------------------------

@register(
    "window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
    doc="Running sum per customer (cumulative frame).",
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend")
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead over a deterministic per-customer order timeline.",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@register(
    "window_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg_3
    FROM events
    """,
    doc="3-row moving average per user over the event stream (batch form of "
        "the sliding-window streaming agg).",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, Window.currentRow)
    return ev.select("user_id", "event_id", F.round(F.avg("value").over(w), 4).alias("mov_avg_3"))


@register(
    "topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders)
    WHERE rank <= 3
    """,
    doc="Grouped top-k with deterministic tiebreak (the W1 fix: "
        "Counter.most_common ties are insertion-ordered in the reference; "
        "here ties break on the key, populator.py:45).",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_cols=["o_custkey"],
        order_col="o_totalprice",
        k=3,
        tiebreak_cols=["o_orderkey"],
    )


# ---------------------------------------------------------------------------
# The reference's flagship: top-10 skills per group (populator stage)
# ---------------------------------------------------------------------------

# A fixed skills vocabulary, playing the role of the reference's 64-term
# skills.json list (data_populator/skills.json:1-16) over the documents table.
SKILLS_VOCAB = (
    "spark", "join", "sort", "merge", "filter", "window", "hash", "scan",
    "agg", "stream", "vector", "query", "batch", "column", "row", "table",
    "key", "data", "group", "order",
)


def _doc_skill_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, token, cnt): the publish stage's own skill count
    (``pipelines.populator.skill_counts``) over the documents, grouped by
    language — explode(tokenize) -> vocabulary filter -> two-phase hash agg."""
    docs = table(spark, sf_dir, "documents")
    counts = _skill_counts(docs, _skills_dim(spark, SKILLS_VOCAB), "lang", "text")
    return counts.withColumnRenamed("job", "lang")


_SKILLS_IN = ", ".join(f"'{s}'" for s in SKILLS_VOCAB)

_TOP_SKILLS_ORACLE = f"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT lang, token, count(*) AS cnt
        FROM toks WHERE token IN ({_SKILLS_IN})
        GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token, cnt,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT lang, rank, token, cnt FROM ranked WHERE rank <= 10
"""


@register(
    "top_skills_by_lang",
    oracle=_TOP_SKILLS_ORACLE,
    doc="FLAGSHIP — the populator query end-to-end (populator.py:39-46): "
        "tokenize -> filter by the skills vocab -> grouped count -> "
        "deterministic top-10 per group. Touches explode/filter/agg/"
        "window in one plan.",
)
def top_skills_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _doc_skill_counts(spark, sf_dir)
    ranked = top_k_per_group(
        counts, group_cols=["lang"], order_col="cnt", k=10, tiebreak_cols=["token"]
    )
    return ranked.select("lang", "rank", "token", "cnt")


@register(
    "top_skills_pivot",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT lang, token, count(*) AS cnt
        FROM toks WHERE token IN ({_SKILLS_IN})
        GROUP BY lang, token
    ),
    ranked AS (
        SELECT lang, token,
               row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT lang,
           {", ".join(f"min(CASE WHEN rank = {i} THEN token END) AS top_skill_n_{i}" for i in range(1, 11))}
    FROM ranked GROUP BY lang
    """,
    doc="W2 rank->column pivot (populator.py:55-58): the Top_10_skills "
        "serving-table shape, columns top_skill_n_1..10.",
)
def top_skills_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_k_pivot(_doc_skill_counts(spark, sf_dir), ["lang"], "cnt", "token", k=10)


# ---------------------------------------------------------------------------
# Set operations / distinct / dedup
# ---------------------------------------------------------------------------

@register(
    "setops_segments",
    oracle="""
    SELECT 'union' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
    """,
    doc="UNION / INTERSECT / EXCEPT (SURVEY §2.7; U1 union-all, U2 distinct).",
)
def setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("k"))

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        one("union", a.union(b).distinct())
        .unionByName(one("intersect", a.intersect(b)))
        .unionByName(one("except", a.exceptAll(b.distinct()).distinct()))
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------

@register(
    "scalar_string_ops",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substring(p_name, 1, 5) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
    doc="String scalar surface (F1/F2/F9/F14 analogues).",
)
def scalar_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@register(
    "scalar_date_ops",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           date_trunc('day', o_orderdate) AS order_day,
           strftime(o_orderdate, '%d-%m-%Y') AS stamped
    FROM orders
    """,
    doc="Date scalar surface incl. the reference's dd-MM-yyyy run-date stamp "
        "(F10, cleaner.py:143, main.py:121-123).",
)
def scalar_date_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.date_trunc("day", F.col("o_orderdate")).cast("timestamp_ntz").alias("order_day"),
        F.date_format("o_orderdate", "dd-MM-yyyy").alias("stamped"),
    )


@register(
    "scalar_json_props",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON field access (F15, cleaner.py:103 / events.props) + agg.",
)
def scalar_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.get_json_object("props", "$.k").cast("double")), 4).alias("avg_k"),
    )


@register(
    "scalar_case_null",
    oracle="""
    SELECT CASE WHEN c_acctbal IS NULL THEN 'missing'
                WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           count(*) AS n,
           round(sum(coalesce(c_acctbal, 0.0)), 2) AS sum_bal
    FROM customer
    GROUP BY 1
    """,
    doc="CASE WHEN banding + null handling (P4/P5 sentinel semantics).",
)
def scalar_case_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal").isNull(), "missing")
        .when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return c.groupBy(band.alias("bal_band")).agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.coalesce("c_acctbal", F.lit(0.0))), 2).alias("sum_bal"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits
# ---------------------------------------------------------------------------

@register(
    "orderby_limit_top_parts",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    ORDER BY p_retailprice DESC, p_partkey
    LIMIT 10
    """,
    doc="Global top-N (O2/O3): TakeOrderedAndProject, no full sort at scale.",
)
def orderby_limit_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .select("p_partkey", "p_name", "p_retailprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Cleaner-stage parser semantics (data-cleaner/cleaner.py) — exercised over
# literal inputs with golden-value oracles (the expected outputs are part of
# the spec; the oracle encodes them as a VALUES table).
# ---------------------------------------------------------------------------


_SALARY_CASES = [
    ("£25,000 - £35,000 (Employer Est.)", "GBP", 25000, 35000),
    ("$55,000 (Employer Est.)", "USD", 55000, 55000),
    ("$20 Per Hour (Employer Est.)", "USD", 41760, 41760),
    ("€30,000 - €40,000", "EUR", 30000, 40000),
    ("$25K - $35K (Employer Est.)", "USD", 25000, 35000),
    ("CHF 90,000 - CHF 110,000", "CHF", 90000, 110000),
]


@register(
    "cleaner_salary_parse",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{s}', '{cur}', {lo}, {hi})" for s, cur, lo, hi in _SALARY_CASES)
    + ") AS t(salary, currency, min_salary, max_salary)",
    doc="F6 salary parser (cleaner.py:42-79): currency prefix -> ISO, strip "
        "annotations, split range, annualize Per-Hour by 8h*261d; golden "
        "oracle holds the reference-spec outputs.",
)
def cleaner_salary_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = literal_dim(spark, [(s,) for s, *_ in _SALARY_CASES], "salary string")
    lo, hi = _C.parse_salary_bounds(F.col("salary"))
    return df.select(
        "salary",
        _C.salary_currency(F.col("salary")).alias("currency"),
        lo.alias("min_salary"),
        hi.alias("max_salary"),
    )


_SIZE_CASES = [
    ("1001 to 5000 Employees", 1001, 5000),
    ("10000+ Employees", 10000, 10000),
    ("51 to 200 Employees", 51, 200),
    ("Unknown", None, None),
]


@register(
    "cleaner_company_size",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"('{s}', {lo if lo is not None else 'NULL'}, {hi if hi is not None else 'NULL'})"
        for s, lo, hi in _SIZE_CASES
    )
    + ") AS t(company_size, size_min, size_max)",
    doc="F5 company-size parser (cleaner.py:97-100): 'A to B Employees' -> "
        "(A,B); 'N+ Employees' -> (N,N); unparseable -> nulls.",
)
def cleaner_company_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = literal_dim(spark, [(s,) for s, *_ in _SIZE_CASES], "company_size string")
    lo, hi = _C.parse_company_size(F.col("company_size"))
    return df.select("company_size", lo.alias("size_min"), hi.alias("size_max"))


@register(
    "cleaner_scalar_ops",
    oracle="""
    SELECT * FROM (VALUES
        ('example.com/a', 'https://example.com/a', '7,764 Jobs', '7764',
         '17-08-2021data-scientist-remote.csv', 'data scientist'),
        ('http://x.io', 'http://x.io', 'Page 1 of 30', '130',
         '31-08-2021data-engineer-all.csv', 'data engineer')
    ) AS t(url, url_norm, counter, digits, filename, job_position)
    """,
    doc="S2 url normalizer (common.py:10-13), F8 digit strip (page.py:28), "
        "S6 filename->job_position (cleaner.py:10-14,27).",
)
def cleaner_scalar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("example.com/a", "7,764 Jobs", "17-08-2021data-scientist-remote.csv"),
        ("http://x.io", "Page 1 of 30", "31-08-2021data-engineer-all.csv"),
    ]
    df = literal_dim(spark, rows, "url string, counter string, filename string")
    return df.select(
        "url",
        _C.normalize_url(F.col("url")).alias("url_norm"),
        "counter",
        _C.strip_digits(F.col("counter")).alias("digits"),
        "filename",
        _C.job_position_from_filename(F.col("filename")).alias("job_position"),
    )


_JOBS_ROWS = [
    # company_name, rating, salary, size
    ("acme analytics 4.5★", None, "£25,000 - £35,000 (Employer Est.)", "1001 to 5000 Employees"),
    ("data corp", 3.9, "$55,000 (Employer Est.)", "10000+ Employees"),
    (None, 4.0, "$60,000", "51 to 200 Employees"),  # dropped by P1
    ("tiny shop", None, "$20 Per Hour (Employer Est.)", "Unknown"),
]


@register(
    "cleaner_full_stage",
    oracle="""
    SELECT * FROM (VALUES
        ('Acme Analytics ', 4.5, 'GBP', 31250, 43750, 1001, 5000),
        ('Data Corp', 3.9, 'USD', 55000, 55000, 10000, 10000),
        ('Tiny Shop', NULL, 'USD', 41760, 41760, NULL, NULL)
    ) AS t(company_name, company_rating, currency,
           min_estimated_salary, max_estimated_salary,
           company_size_min, company_size_max)
    """,
    doc="The full clean stage end-to-end (cleaner.py:81-116): null filter, "
        "rating split (note the reference keeps the trailing space: "
        "name[:-4] strips '4.5★' but not the separator), initcap intent, "
        "size parse, salary parse + FX broadcast join (GBP rate 0.8 -> "
        "25000/0.8=31250).",
)
def cleaner_full_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = literal_dim(
        spark,
        _JOBS_ROWS,
        "company_name string, company_rating double, "
        "company_estimated_salary string, company_size string",
    )
    rates = _rates_dim(spark, {"USD": 1.0, "GBP": 0.8, "EUR": 0.9})
    cleaned = _clean_jobs(jobs, rates)
    return cleaned.select(
        "company_name",
        "company_rating",
        "currency",
        "min_estimated_salary",
        "max_estimated_salary",
        "company_size_min",
        "company_size_max",
    )


@register(
    "populator_top_skills_kv",
    oracle=f"""
    WITH toks AS (
        SELECT lang AS job, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT job, token, count(*) AS cnt FROM toks
        WHERE token IN ({_SKILLS_IN}) GROUP BY job, token
    ),
    ranked AS (
        SELECT job, token,
               row_number() OVER (PARTITION BY job ORDER BY cnt DESC, token) AS rank
        FROM cnt
    )
    SELECT substring(sha256(job), 1, 32) AS job_id,
           {", ".join(f"min(CASE WHEN rank = {i} THEN token END) AS top_skill_n_{i}" for i in range(1, 11))}
    FROM ranked WHERE rank <= 10 GROUP BY job
    """,
    doc="Populator end state (populator.py:47-58): Top_10_skills serving "
        "table keyed by the deterministic job_id (sha2-256/32, the engine's "
        "replacement for uuid5 at populator.py:53).",
)
def populator_top_skills_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    skills = _skills_dim(spark, SKILLS_VOCAB)
    _jobs_kv, pivoted = _top_skills(docs, skills, group_col="lang", text_col="text", k=10)
    return pivoted


# ---------------------------------------------------------------------------
# P3 contains-predicate grouping + J5 point lookup — the two small reference
# semantics round 1 left uncovered.
# ---------------------------------------------------------------------------

@register(
    "populator_contains_match",
    oracle="""
    WITH jobs AS (SELECT unnest(['42', '007', '999']) AS job)
    SELECT j.job, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS sum_bal
    FROM customer c JOIN jobs j ON contains(c.c_name, j.job)
    GROUP BY j.job
    """,
    doc="P3 (populator.py:43): the reference groups rows by SUBSTRING "
        "containment (str.contains), not equality — each 'job' collects "
        "every row whose name contains it, so rows can match multiple "
        "groups and the join is a broadcast non-equi join, not a hash join. "
        "The equality-semantics variant used by top_skills_by_lang is the "
        "documented divergence; this query covers the faithful form.",
)
def populator_contains_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    jobs = literal_dim(spark, [("42",), ("007",), ("999",)], "job string")
    return (
        c.join(F.broadcast(jobs), F.col("c_name").contains(F.col("job")))
        .groupBy("job")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "point_lookup_customer",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_custkey = 42
    """,
    doc="J5/S15 (rest_api index.py:16-25, skills_interface.py:22): the "
        "serving layer's point get as a keyed filter — at rest this table "
        "is bucketed/partitioned by key so the scan prunes to one file.",
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") == 42).select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal")
    )


# ---------------------------------------------------------------------------
# Extended relational surface: as-of join, salted skew join, exact
# percentiles, BPE-ish regex tokenization.
# ---------------------------------------------------------------------------



def _order_event_asof(spark: SparkSession, sf_dir: str, prefix: str, **how) -> DataFrame:
    """Each order with its as-of matched event of the same customer
    (``how``: _asof_join's direction/tolerance), the event's type and
    rounded value named ``{prefix}_event_type`` / ``{prefix}_event_value``."""
    o = table(spark, sf_dir, "orders")
    joined = _asof_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        _events_unique_ts(spark, sf_dir),
        key_left="o_custkey",
        key_right="user_id",
        left_ts="o_orderdate",
        right_ts="ts",
        payload_cols=["event_type", "value"],
        **how,
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("event_type").alias(f"{prefix}_event_type"),
        F.round("value", 2).alias(f"{prefix}_event_value"),
    )


@register(
    "join_asof_order_event",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           e.event_type AS last_event_type,
           round(e.value, 2) AS last_event_value
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts) e
      ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
    """,
    doc="As-of join (custom operator Spark lacks natively): each order "
        "enriched with the customer's latest event at or before order "
        "time. Union-and-carry-forward plan — one shuffle on the key, one "
        "carried struct per key, no range-join pair blow-up. Oracle uses "
        "DuckDB's native ASOF JOIN.",
)
def join_asof_order_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _order_event_asof(spark, sf_dir, "last")


@register(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Salted join (explicit skew mitigation): the fact side salts on "
        "event_id, the dim replicates over the salt domain, the join key "
        "becomes (key, salt) — a hot user spreads over 8 reducers. Result "
        "is provably identical to the plain join (the oracle IS the plain "
        "join).",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = table(spark, sf_dir, "customer")
    joined = _salted_join(ev, c.select("c_custkey", "c_mktsegment"), "c_custkey", "event_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Scrape-stage work list (S3+S4): config cross product -> formatted base
# urls -> page-indexed crawl frontier. Oracle = golden VALUES computed by an
# independent str.format reimplementation of the reference's load_configs/
# update_url (main.py:22-39,49-58).
# ---------------------------------------------------------------------------


_SCRAPE_CONFIG = {
    "base_url": "https://www.glassdoor.co.uk/Job/{country}-{search_term}-jobs-SRCH_IL.0,{country_code},{str_length}.htm",
    "search_terms": ["data-scientist", "data-engineer"],
    "locations": {"all": "SRCH_KO0", "remote": "6_IS11048_KO7", "singapore": "9_IC3235921_KO10"},
}
_SCRAPE_PAGES = 2


def _scrape_worklist_golden() -> str:
    rows = []
    for term in _SCRAPE_CONFIG["search_terms"]:
        for loc, code in _SCRAPE_CONFIG["locations"].items():
            base = _SCRAPE_CONFIG["base_url"].format(
                country=loc, search_term=term, country_code=code,
                str_length=len(loc) + len(term) + 1,
            )
            for page in range(1, _SCRAPE_PAGES + 1):
                url = base.replace(".htm", f"_IP{page}.htm")
                rows.append(f"('{term}', '{loc}', CAST({page} AS INT), '{url}')")
    return ", ".join(rows)


@register(
    "scrape_url_worklist",
    oracle="SELECT * FROM (VALUES "
    + _scrape_worklist_golden()
    + ") AS t(search_term, location, page, url)",
    doc="S4+S3 (main.py:22-39,49-58): the crawl frontier as a DataFrame — "
        "search_terms x locations cross join, template slots compiled to a "
        "concat expression (any slot order), page index rewritten into the "
        "url. The fetch stage (S1) consumes exactly this work list.",
)
def scrape_url_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    worklist = _SC.base_url_worklist(spark, _SCRAPE_CONFIG)
    return _SC.paginate(worklist, _SCRAPE_PAGES).select(
        "search_term", "location", "page", "url"
    )


# ---------------------------------------------------------------------------
# The clean stage END-TO-END through the CSV source path: glob scan ->
# filename-derived job_position -> full cleaner transform set -> typed
# output. This is the reference's daily `python cleaner.py` run as one plan.
# ---------------------------------------------------------------------------

@register(
    "cleaner_csv_end_to_end",
    oracle="""
    SELECT * FROM (VALUES
        ('data scientist', 'Checkout Ltd', 4.7, 'GBP', 68750, 93750, 1001, 5000),
        ('data scientist', 'Acme Analytics', 4.2, 'USD', 120000, 120000, 201, 500),
        ('machine learning engineer', 'Deepforge', 4.9, 'CHF', 110000, 140000, 51, 200),
        ('machine learning engineer', 'Tiny Shop', 3.5, 'USD', 52200, 52200, 1, 50)
    ) AS t(job_position, company_name, company_rating, currency,
           min_estimated_salary, max_estimated_salary,
           company_size_min, company_size_max)
    """,
    doc="S5+S6+F1-F6+J3 composed (the whole data-cleaner/cleaner.py run): "
        "schema'd CSV glob -> job_position from filename -> rating/size/"
        "salary parsing with FX broadcast join (GBP 0.8: 55000/0.8=68750; "
        "CHF 1.0; Per-Hour 25*8*261=52200). Golden VALUES = hand-derived "
        "expected outputs for the checked-in fixture rows.",
)
def cleaner_csv_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _read_scraped_csv(spark, CSV_FIXTURE_GLOB)
    jobs = raw.select(
        "job_position",
        F.col("companyName").alias("company_name"),
        F.col("company_starRating").alias("company_rating"),
        F.col("estimated_salary").alias("company_estimated_salary"),
        "company_size",
    )
    rates = _rates_dim(spark, {"USD": 1.0, "GBP": 0.8, "EUR": 0.9, "CHF": 1.0})
    cleaned = _clean_jobs(jobs, rates)
    return cleaned.select(
        "job_position",
        "company_name",
        "company_rating",
        "currency",
        "min_estimated_salary",
        "max_estimated_salary",
        "company_size_min",
        "company_size_max",
    )


# ---------------------------------------------------------------------------
# SQL-surface depth: rank-family windows, explicit GROUPING SETS, and
# time-series gap fill (the hypertable-rollup shape: dense hourly grid with
# zeros where no events landed).
# ---------------------------------------------------------------------------

@register(
    "window_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w AS cheapest_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
    doc="The rank-family window functions (ntile / percent_rank / cume_dist "
        "/ first_value) per customer on a deterministic (price, orderkey) "
        "order — one shuffle on the partition key, every rank definition "
        "exact-rational so cross-engine doubles are bit-identical.",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_order"),
    )


# ---------------------------------------------------------------------------
# Value-based window frames, order-independent exact-moment statistics, and
# edit-distance dedup verification.
# ---------------------------------------------------------------------------

@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS spend_7d
    FROM orders
    """,
    doc="Value-based RANGE frame: trailing-7-day spend per customer over "
        "the order-date day number — every order in the window, including "
        "same-day ties, regardless of row count (a ROWS frame cannot "
        "express this). One shuffle on the partition key.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").withColumn(
        "_day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    )
    w = Window.partitionBy("o_custkey").orderBy("_day").rangeBetween(-6, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_7d"),
    )


@register(
    "join_salted_hotkeys",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           round(avg(e.value), 4) AS avg_value,
           round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Hot-key-only salted join (operators/skew.salted_join_hotkeys): an "
        "exact narrow-column count finds keys with > 20 fact rows "
        "(detect_hot_keys; the sampled variant trades that scan for an "
        "estimate), only those keys' dim rows replicate over the salt "
        "domain — dim expansion |dim| + (salt-1)*|hot| instead of "
        "salt*|dim| — and cold rows join unsalted. The oracle is the plain "
        "unsalted join: the result is provably identical whatever the "
        "detected hot set, so correctness never depends on the estimate.",
)
def join_salted_hotkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    hot = _detect_hot_keys(ev, "c_custkey", min_count=20)
    joined = _salted_join_hotkeys(ev, c, "c_custkey", "event_id", hot, salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


@register(
    "setops_intersect_except",
    oracle="""
    SELECT o_custkey, 'both' AS set_op FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    UNION ALL
    SELECT o_custkey, 'urgent_only' AS set_op FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    """,
    doc="INTERSECT / EXCEPT — the set-operation family beyond union "
        "(U1-U3): customers placing both urgent and high-priority orders "
        "vs urgent-only, via DataFrame.intersect / subtract (DISTINCT "
        "semantics, planned as left-semi / left-anti aggregates — no "
        "full materialization of either side).",
)
def setops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    both = urgent.intersect(high).withColumn("set_op", F.lit("both"))
    urgent_only = urgent.subtract(high).withColumn("set_op", F.lit("urgent_only"))
    return both.unionByName(urgent_only)


@register(
    "scalar_array_ops",
    oracle="""
    WITH arr AS (
        SELECT o_orderkey,
               list_sort(list(l_quantity ORDER BY l_linenumber)) AS qs
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderkey)
    SELECT o_orderkey,
           CAST(len(qs) AS INT) AS n_lines,
           round(list_aggregate(qs, 'sum'), 2) AS total_qty,
           qs[1] AS min_qty,
           qs[-1] AS max_qty,
           CAST(len(list_filter(qs, q -> q > 25.0)) AS INT) AS n_large,
           round(list_aggregate(list_transform(qs, q -> q * q), 'sum'), 2) AS sum_sq
    FROM arr
    """,
    doc="Complex-types surface: per-order quantity ARRAYS built with "
        "array_agg, then higher-order functions only — array_sort, "
        "aggregate (fold), filter, transform — all Catalyst lambda "
        "expressions inside whole-stage codegen, no UDF, no explode-"
        "reaggregate round trip (one shuffle for the array build, zero "
        "after). DuckDB replays with list_* equivalents.",
)
def scalar_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    arr = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(F.array_sort(F.collect_list("l_quantity")).alias("qs"))
    )
    return arr.select(
        "o_orderkey",
        F.size("qs").alias("n_lines"),
        F.round(
            F.aggregate("qs", F.lit(0.0), lambda acc, q: acc + q), 2
        ).alias("total_qty"),
        F.element_at("qs", 1).alias("min_qty"),
        F.element_at("qs", -1).alias("max_qty"),
        F.size(F.filter("qs", lambda q: q > 25.0)).alias("n_large"),
        F.round(
            F.aggregate(
                F.transform("qs", lambda q: q * q), F.lit(0.0), lambda acc, q: acc + q
            ),
            2,
        ).alias("sum_sq"),
    )


def _events_unique_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right side for as-of queries: one row per (user, ts) — ASOF
    tie-breaking at equal timestamps is engine-defined, so collapse first
    (largest event_id wins, totally ordered)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max_by("value", "event_id").alias("value"),
        )
    )


@register(
    "join_asof_forward_event",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           e.event_type AS next_event_type,
           round(e.value, 2) AS next_event_value
    FROM orders o
    ASOF LEFT JOIN (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts) e
      ON o.o_custkey = e.user_id AND e.ts >= o.o_orderdate
    """,
    doc="FORWARD as-of join (operators/asof.asof_join direction='forward'):"
        " each order enriched with the customer's EARLIEST event at or "
        "after order time — the next-touch attribution shape. Same "
        "union-and-carry plan as backward, with the frame looking ahead; "
        "oracle is DuckDB's native forward ASOF (inequality flipped).",
)
def join_asof_forward_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _order_event_asof(spark, sf_dir, "next", direction="forward")


@register(
    "join_asof_nearest_tolerance",
    oracle="""
    WITH e AS (
        SELECT user_id, ts,
               max_by(event_type, event_id) AS event_type,
               max_by(value, event_id) AS value
        FROM events GROUP BY user_id, ts)
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           m.event_type AS near_event_type,
           round(m.value, 2) AS near_event_value
    FROM orders o LEFT JOIN LATERAL (
        SELECT e.event_type, e.value
        FROM e
        WHERE e.user_id = o.o_custkey
          AND abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) <= 2592000000000
        ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)),
                 CASE WHEN e.ts <= o.o_orderdate THEN 0 ELSE 1 END
        LIMIT 1) m ON true
    """,
    doc="NEAREST-within-tolerance as-of join (direction='nearest', "
        "tolerance 30 days): each order takes whichever adjacent event is "
        "closer in time, ties preferring the earlier one (pandas "
        "merge_asof tie rule), matches farther than 30 days nulled. Both "
        "arms share ONE sort — still a single shuffle, no range-join "
        "blow-up. Oracle: LATERAL top-1 by exact microsecond distance "
        "(2592000000000 us = 30 days).",
)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _order_event_asof(
        spark, sf_dir, "near", direction="nearest", tolerance="interval 30 days"
    )


@register(
    "subquery_exists_high_value",
    oracle="""
    SELECT n_name, count(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY n_name
    """,
    doc="Correlated EXISTS subquery, Spark-first: decorrelated by hand "
        "into a LEFT SEMI join against the filtered orders side (exactly "
        "what Catalyst's RewritePredicateSubquery produces for EXISTS). "
        "The o_totalprice filter pushes to the orders scan; the semi-join "
        "emits each customer at most once with no dedup step; nation "
        "broadcasts.",
)
def subquery_exists_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select(
        "o_custkey"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "subquery_scalar_above_avg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_above,
           round(avg(o_totalprice), 2) AS avg_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    doc="Scalar subquery (orders above the global mean price): the 1-row "
        "global aggregate is computed once and BROADCAST into the filter "
        "via a crossJoin — the fact table is scanned, never collected, "
        "and the comparison stays in codegen. Boundary-safe: the nearest "
        "o_totalprice sits >2.0 from the mean at every sf (verified), "
        "so cross-engine 1-ulp mean differences cannot flip a row.",
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    avg1 = o.agg(F.avg("o_totalprice").alias("_global_avg"))
    return (
        o.crossJoin(F.broadcast(avg1))
        .filter(F.col("o_totalprice") > F.col("_global_avg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_above"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_above"),
        )
    )


@register(
    "window_ntile_quartiles",
    oracle="""
    WITH q AS (
        SELECT c_mktsegment, c_acctbal,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
    SELECT c_mktsegment, quartile, count(*) AS n,
           round(avg(c_acctbal), 2) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal
    FROM q
    GROUP BY c_mktsegment, quartile
    """,
    doc="ntile bucketing per market segment: equal-height quartiles of "
        "account balance with a (c_acctbal, c_custkey) total order so "
        "bucket assignment is deterministic cross-engine. Partitioned "
        "window — each segment sorts independently. SCALE NOTE: an "
        "UNpartitioned ntile is a single-reducer global sort; at 100 TB "
        "use approx-percentile cutpoints (agg_percentiles_approx) to "
        "bucket map-side instead.",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "scalar_map_ops",
    oracle="""
    SELECT event_id,
           'bucket,kind,src' AS keys_sorted,
           3 AS n_keys,
           event_type AS kind_val,
           CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS bucket_val,
           upper(event_type) AS kind_upper,
           CAST(len(string_split(event_type, '')) > 4 AS BOOLEAN) AS kind_is_long
    FROM events
    """,
    doc="MapType scalar surface: map_from_arrays build, map_concat merge, "
        "element_at probe, sorted map_keys, size, and transform_values "
        "(a Catalyst lambda over map entries) — all codegen'd "
        "expressions, no UDF. The oracle replays the same values from "
        "the base columns (DuckDB's MAP literals differ, so equivalence "
        "is asserted on the extracted scalars, which is what downstream "
        "consumers see).",
)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    m1 = F.map_from_arrays(
        F.array(F.lit("kind"), F.lit("src")),
        F.array(F.col("event_type"), F.lit("events")),
    )
    m2 = F.create_map(
        F.lit("bucket"),
        F.when(F.col("value") > 50.0, F.lit("high")).otherwise(F.lit("low")),
    )
    merged = F.map_concat(m1, m2)
    upper_map = F.transform_values(merged, lambda _k, v: F.upper(v))
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(merged)), ",").alias("keys_sorted"),
        F.size(merged).alias("n_keys"),
        F.element_at(merged, "kind").alias("kind_val"),
        F.element_at(merged, "bucket").alias("bucket_val"),
        F.element_at(upper_map, "kind").alias("kind_upper"),
        (F.length(F.element_at(merged, "kind")) > 4).alias("kind_is_long"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w, 2)  AS first_price,
           round(last_value(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS last_price,
           round(nth_value(o_totalprice, 2) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2)
               AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="first_value / last_value / nth_value window navigation: "
        "first_value under the default growing frame, last/nth under an "
        "explicit full-partition frame (the default frame would make "
        "last_value degenerate to the current row — the classic window "
        "pitfall, pinned here cross-engine). Total (o_orderdate, "
        "o_orderkey) order makes every navigated value deterministic.",
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(full), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 2).alias("second_price"),
    )


@register(
    "pivot_multi_agg",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F_total,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)   AS F_n,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O_total,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT)   AS O_n,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P_total,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT)   AS P_n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Pivot with MULTIPLE aggregates per cell (sum + count) and "
        "EXPLICIT pivot values — one single-pass aggregate, 6 output "
        "measures, no per-value scans. Explicit values matter at scale: "
        "without them Spark runs an eager distinct() JOB at plan time to "
        "discover columns. Oracle replays as conditional aggregation "
        "(what the pivot compiles to).",
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),  # count(*) is invalid inside pivot
        )
    )


@register(
    "scalar_struct_ops",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey, o_orderstatus, round(o_totalprice, 2) AS price,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderstatus DESC,
                                           round(o_totalprice, 2) DESC) AS r
        FROM orders),
    gt AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderstatus > 'O'
                             OR (o_orderstatus = 'O'
                                 AND round(o_totalprice, 2) > 100000.0)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_gt
        FROM orders GROUP BY o_custkey)
    SELECT ranked.o_custkey,
           ranked.o_orderstatus AS top_status,
           ranked.price AS top_price,
           gt.n_gt
    FROM ranked JOIN gt ON ranked.o_custkey = gt.o_custkey
    WHERE ranked.r = 1
    """,
    doc="StructType scalar surface: named_struct build, struct-valued "
        "MAX (lexicographic field ordering — one hash aggregate replaces "
        "the sort+row_number idiom for argmax over a composite), struct "
        "comparison against a literal struct, and field access on an "
        "aggregated struct. The oracle replays struct ordering as the "
        "equivalent multi-key ORDER BY and the comparison as its "
        "expanded boolean form.",
)
def scalar_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    s = F.struct(
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
    lit_s = F.struct(F.lit("O").alias("status"), F.lit(100000.0).alias("price"))
    return (
        o.select("o_custkey", s.alias("s"))
        .groupBy("o_custkey")
        .agg(
            F.max("s").alias("top"),
            F.sum(F.when(F.col("s") > lit_s, 1).otherwise(0)).cast("bigint").alias("n_gt"),
        )
        .select(
            "o_custkey",
            F.col("top.status").alias("top_status"),
            F.col("top.price").alias("top_price"),
            "n_gt",
        )
    )


@register(
    "rollup_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental materialized-rollup maintenance: the corpus splits "
        "into a 'historical' and a 'delta' batch, each aggregated to "
        "ALGEBRAIC partial states (count, sum — never avg), and the "
        "merged rollup re-aggregates the states (sum of sums, sum of "
        "counts; avg derived at the end). This is how a daily 100 TB "
        "pipeline avoids reprocessing history: merge yesterday's states "
        "with today's delta states. The oracle recomputes from scratch — "
        "a hash match proves merge(partials) == full recompute.",
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("sum_price_raw"),
        )

    hist = partial(o.filter(F.col("o_orderkey") % 4 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 4 == 0))
    merged = (
        hist.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price_raw").alias("sum_raw"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sum_raw"), 2).alias("sum_price"),
        F.round(F.col("sum_raw") / F.col("n_orders"), 4).alias("avg_price"),
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               nullif(o_orderpriority, '1-URGENT') AS prio_grp
        FROM orders),
    d AS (
        SELECT nullif(p, '1-URGENT') AS prio_grp, lbl FROM (VALUES
            ('1-URGENT', 'expedite'), ('2-HIGH', 'fast'),
            ('3-MEDIUM', 'normal'), ('4-NOT SPECIFIED', 'slow'),
            ('5-LOW', 'batch')) AS t(p, lbl))
    SELECT d.lbl, count(*) AS n_orders
    FROM o JOIN d ON o.prio_grp IS NOT DISTINCT FROM d.prio_grp
    GROUP BY d.lbl
    """,
    doc="NULL-SAFE equality join (eqNullSafe / IS NOT DISTINCT FROM): "
        "null keys MATCH each other instead of silently dropping — the "
        "semantic a plain equi-join gets wrong when a nullable derived "
        "key ('1-URGENT' nulled out here on both sides) must still pair "
        "up. Spark hashes null-safe keys like any other, so this stays a "
        "broadcast/hash join, not a nested loop.",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_grp"),
    )
    d = literal_dim(
        spark,
        [
            ("1-URGENT", "expedite"),
            ("2-HIGH", "fast"),
            ("3-MEDIUM", "normal"),
            ("4-NOT SPECIFIED", "slow"),
            ("5-LOW", "batch"),
        ],
        "p string, lbl string",
    ).select(F.nullif(F.col("p"), F.lit("1-URGENT")).alias("d_grp"), "lbl")
    return (
        o.join(F.broadcast(d), o.prio_grp.eqNullSafe(d.d_grp))
        .groupBy("lbl")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "scalar_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
           CAST(date_diff('day', o_orderdate,
                          TIMESTAMP '2001-08-01 00:00:00') AS BIGINT)
               AS days_to_horizon,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           CAST(dayofweek(o_orderdate) AS BIGINT) + 1 AS dow,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
    FROM orders
    """,
    doc="Date arithmetic surface: interval addition, day differences "
        "against a horizon, last_day, quarter, day-of-week, ISO week. "
        "Functions chosen for IDENTICAL cross-engine semantics: Spark "
        "dayofweek is 1=Sunday while DuckDB's is 0=Sunday (oracle adds "
        "1); both weekofyear implementations are ISO-8601; "
        "months_between was EXCLUDED because Spark's 31-day-fraction "
        "rule has no DuckDB equivalent — that asymmetry is the kind of "
        "cross-engine trap this registry documents rather than papers "
        "over.",
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    horizon = F.lit("2001-08-01 00:00:00").cast("timestamp_ntz")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(horizon, F.col("o_orderdate")).cast("bigint").alias(
            "days_to_horizon"
        ),
        F.last_day("o_orderdate").cast("timestamp_ntz").alias("month_end"),
        F.quarter("o_orderdate").cast("bigint").alias("q"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
    )


@register(
    "scalar_explode_outer",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x IN ('vector', 'stream')) AS hits
        FROM documents WHERE trim(text) <> ''),
    ex AS (
        SELECT t.doc_id, u.tok
        FROM toks t LEFT JOIN LATERAL (
            SELECT unnest(t.hits) AS tok) u ON true)
    SELECT doc_id, tok, count(*) AS n
    FROM ex
    GROUP BY doc_id, tok
    """,
    doc="explode_outer semantics: documents with ZERO matching tokens "
        "keep one row with a null token instead of vanishing — the "
        "null-preserving fan-out a plain explode silently gets wrong "
        "(inner-join semantics drop empty parents, corrupting "
        "denominators downstream). Oracle replays as LEFT JOIN LATERAL "
        "unnest.",
)
def scalar_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    hits = F.filter(tokenize(F.col("text")), lambda x: x.isin("vector", "stream"))
    return (
        docs.select("doc_id", F.explode_outer(hits).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )


@register(
    "scalar_variant_ops",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           'OBJECT<k: BIGINT>' AS props_shape,
           event_type AS type_rt,
           round(value, 2) AS value_rt,
           CAST(user_id AS BIGINT) AS user_rt
    FROM events
    """,
    doc="VARIANT type surface (Spark 4): parse_json -> open-schema "
        "variant storage, variant_get with typed paths, "
        "schema_of_variant introspection — the semi-structured column "
        "answer that replaces string-JSON + per-query get_json_object "
        "reparsing; variants store a parsed binary form so repeated "
        "typed extraction skips the text parse. Round-trip leg: a "
        "struct serialized with to_json, reparsed as variant, fields "
        "extracted back typed — proving write and read sides agree.",
)
def scalar_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    props_v = F.parse_json("props")
    rt_v = F.parse_json(
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.round("value", 2).alias("value"),
                F.struct(F.col("user_id").alias("u")).alias("meta"),
            )
        )
    )
    return e.select(
        "event_id",
        F.variant_get(props_v, "$.k", "bigint").alias("k_typed"),
        F.schema_of_variant(props_v).alias("props_shape"),
        F.variant_get(rt_v, "$.type", "string").alias("type_rt"),
        F.variant_get(rt_v, "$.value", "double").alias("value_rt"),
        F.variant_get(rt_v, "$.meta.u", "bigint").alias("user_rt"),
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice / nullif(l_discount, 0.0), 4) AS price_per_disc,
           TRY_CAST(CASE WHEN l_linenumber % 3 = 0 THEN l_returnflag
                         ELSE CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                    END AS INTEGER) AS qty_as_int,
           CASE WHEN l_discount = 0.0 THEN NULL
                ELSE round(l_tax / l_discount, 4) END AS tax_over_disc
    FROM lineitem
    """,
    doc="Error-safe arithmetic surface (ANSI-mode safety valves): "
        "try_divide turns division-by-zero into null instead of a task "
        "failure — on a 100 TB run one bad row must not kill a 6-hour "
        "job — and try_cast nulls unparseable casts ('A' as int) instead "
        "of throwing, the column-level sibling of the CSV corrupt-record "
        "quarantine. DuckDB replays with nullif-guarded division and "
        "TRY_CAST. Two traps found writing this query: (1) cross-engine "
        "— TRY_CAST('25.0' AS INTEGER) SUCCEEDS in DuckDB but nulls in "
        "Spark, so the cast column uses integral strings with planted "
        "non-numeric rows, where both agree; (2) cost — each try_cast "
        "FAILURE pays JVM exception construction, so an always-failing "
        "cast ran ~7x slower than the same scan with occasional "
        "failures (measured 5.5 s vs 0.8 s at sf0.1): try_* is for "
        "rare bad rows, not for type probing of whole columns.",
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: a pure map over the one-split lineitem scan — the try_*
    # expression evaluation is the entire cost and ran on one core (r12)
    li = fan_out(table(spark, sf_dir, "lineitem"), "l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", "l_discount"), 4).alias(
            "price_per_disc"
        ),
        F.when(F.col("l_linenumber") % 3 == 0, F.col("l_returnflag"))
        .otherwise(F.col("l_quantity").cast("bigint").cast("string"))
        .try_cast("int")
        .alias("qty_as_int"),
        F.when(
            F.col("l_discount") != 0.0,
            F.round(F.col("l_tax") / F.col("l_discount"), 4),
        ).alias("tax_over_disc"),
    )


@register(
    "observe_audit_metrics",
    oracle="""
    WITH audit AS (
        SELECT count(*) AS n_rows,
               CAST(count_if(o_totalprice <= 0) AS BIGINT) AS n_bad_price,
               CAST(count_if(o_custkey IS NULL) AS BIGINT) AS n_null_cust
        FROM orders)
    SELECT o.o_orderstatus,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price,
           a.n_rows, a.n_bad_price, a.n_null_cust
    FROM orders o, audit a
    GROUP BY o.o_orderstatus, a.n_rows, a.n_bad_price, a.n_null_cust
    """,
    doc="In-flight audit metrics (df.observe + Observation): data-quality "
        "counters ride the SAME scan as the business rollup — at 100 TB "
        "the alternative is a second full pass just to know how many "
        "rows were suspect. The observed scalars are a side-channel "
        "(accumulator-backed, no extra action beyond the one the query "
        "runs), stitched onto the rollup as audit columns; the oracle "
        "recomputes both from the table.",
)
def observe_audit_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    o = table(spark, sf_dir, "orders")
    obs = Observation()
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice") <= 0).alias("n_bad_price"),
        F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
    )
    rollup = observed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    # one action populates the observation; the rollup result is tiny
    # (one row per status) so the localCheckpoint is a metadata-scale cost
    rollup = rollup.localCheckpoint()
    m = obs.get
    audit = literal_dim(
        spark,
        [(int(m["n_rows"]), int(m["n_bad_price"]), int(m["n_null_cust"]))],
        "n_rows bigint, n_bad_price bigint, n_null_cust bigint",
    )
    return rollup.crossJoin(F.broadcast(audit))


@register(
    "scalar_collation_group",
    oracle="""
    WITH mixed AS (
        SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                    ELSE lower(o_orderpriority) END AS s
        FROM orders)
    SELECT lower(s) AS group_lc,
           count(*) AS n,
           min(s) AS variant_min
    FROM mixed
    GROUP BY lower(s)
    """,
    doc="Collation-aware comparison (Spark 4 collations): grouping under "
        "UTF8_LCASE merges case variants at the COMPARATOR level — no "
        "lower() rewrite of the data, and the same collation drives "
        "joins and sorts once declared. Output is normalized via "
        "lower() because the collated group's representative value is "
        "first-seen (partitioning-dependent); min(s) pins a "
        "deterministic variant. Oracle emulates with lower() grouping — "
        "exactly the rewrite collations make unnecessary.",
)
def scalar_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mixed = o.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
        ).otherwise(F.lower("o_orderpriority")).alias("s")
    )
    return (
        mixed.groupBy(F.collate(F.col("s"), "UTF8_LCASE").alias("cs"))
        .agg(F.count("*").alias("n"), F.min("s").alias("variant_min"))
        .select(
            F.lower(F.col("cs")).cast("string").alias("group_lc"),
            "n",
            "variant_min",
        )
    )


@register(
    "window_ratio_to_report",
    oracle="""
    WITH nat AS (
        SELECT r_name, n_name,
               round(sum(o_totalprice), 2) AS nation_rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
    SELECT r_name, n_name, nation_rev,
           round(nation_rev / sum(nation_rev) OVER (PARTITION BY r_name), 6)
               AS share_of_region,
           round(nation_rev / sum(nation_rev) OVER (), 6) AS share_of_total
    FROM nat
    """,
    doc="Ratio-to-report windows: each nation's revenue as a share of its "
        "region and of the grand total — the percent-of-total reporting "
        "idiom, one aggregate then two window sums over the (tiny) "
        "aggregated frame; the empty-OVER grand total is a single-"
        "partition window over nation-count rows, NOT over the fact "
        "table (the aggregate-first ordering is the 100 TB shape).",
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("nation_rev"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return nat.select(
        "r_name",
        "n_name",
        "nation_rev",
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "scalar_url_ops",
    oracle="""
    SELECT doc_id,
           'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?lang=' || lang AS url,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang AS query,
           lang AS lang_param
    FROM documents
    """,
    doc="URL parsing surface (S2-adjacent — the reference normalizes and "
        "builds URLs at common.py:10-13, main.py:52-57): parse_url "
        "extracts HOST / PATH / QUERY and a named QUERY parameter "
        "JVM-side — the per-domain grouping primitive for crawl "
        "frontiers and domain-mixture accounting at corpus scale. URLs "
        "are synthesized from table columns, so the oracle rebuilds "
        "every extracted part from the same inputs — golden by "
        "construction, no URL-grammar divergence risk.",
)
def scalar_url_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey,
           round(t.o_totalprice, 2) AS top_price
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2) t ON true
    """,
    doc="LATERAL correlated subquery via the Spark 4 DataFrame API "
        "(df.lateralJoin + Column.outer()): each customer's top-2 orders "
        "through a correlated ORDER+LIMIT — the per-row-subquery SHAPE, "
        "which Catalyst decorrelates into the same window top-k plan "
        "topk_orders_per_customer writes by hand (DecorrelateInnerQuery "
        "rewrites the limit into a rank filter — no per-row execution "
        "survives to the physical plan). The API matters for generated/"
        "migrated SQL where LATERAL is the source idiom.",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders")
    return c.lateralJoin(
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(2)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("top_price"))
    ).select("c_custkey", "o_orderkey", "top_price")


# ---------------------------------------------------------------------------
# Join-size estimation
# ---------------------------------------------------------------------------
#
# Join-size estimation: predict |A join B on k| EXACTLY as
# sum_k cnt_A(k) * cnt_B(k) from the two per-key histograms, and verify
# against the executed join in the same plan — the cardinality
# arithmetic a planner runs before committing to a shuffle strategy.

@register(
    "join_size_estimate",
    oracle="""
    WITH ha AS (
        SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1
    ),
    hb AS (
        SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1
    ),
    pred AS (
        SELECT CAST(sum(ca * cb) AS BIGINT) AS predicted_rows
        FROM ha JOIN hb ON ha.k = hb.k
    ),
    act AS (
        SELECT count(*) AS actual_rows
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT predicted_rows, actual_rows,
           (predicted_rows = actual_rows) AS exact_match
    FROM pred, act
    """,
    doc="Exact join-cardinality prediction: |A join B on k| = "
        "sum over k of cnt_A(k) * cnt_B(k), computed from the two "
        "per-key histograms and verified against the executed join in "
        "the SAME plan (exact_match must be TRUE) — the arithmetic a "
        "cost-based planner runs before choosing broadcast vs shuffle vs "
        "skew mitigation, surfaced as an operator so a pipeline can gate "
        "an expensive join on its predicted output size (e.g. refuse a "
        "10^14-row blowup before paying for it). The histograms are "
        "partial-aggregatable (map-side combine collapses each task to "
        "its local key counts), and at 100 TB the estimate costs two "
        "aggregates + a histogram join — orders of magnitude cheaper "
        "than materializing a bad join; the executed-join column here is "
        "the verification harness, not the production path. The same "
        "histogram frame also yields the skew report: its max(cnt) IS "
        "the hot-key diagnosis operators/skew.py salts against.",
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    ha = li.groupBy("k").agg(F.count("*").alias("ca"))
    hb = o.groupBy("k").agg(F.count("*").alias("cb"))
    pred = (
        ha.join(hb, "k")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("predicted_rows"))
    )
    act = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .agg(F.count("*").alias("actual_rows"))
    )
    return pred.crossJoin(act).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias("exact_match"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------
#
# Pareto frontier (skyline): parts not dominated on (price, size).
# Implemented as the distributive two-level form — per-price min-size
# aggregate, ONE window over the distinct-price frame (not the table),
# then a semi-join back — with the naive NOT-EXISTS dominance scan as
# the oracle mirror only.

@register(
    "pareto_frontier",
    oracle="""
    SELECT p.p_partkey,
           CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
           p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE round(q.p_retailprice * 100) <= round(p.p_retailprice * 100)
          AND q.p_size <= p.p_size
          AND (round(q.p_retailprice * 100) < round(p.p_retailprice * 100)
               OR q.p_size < p.p_size)
    )
    """,
    doc="Pareto frontier / skyline: parts not dominated on (price, "
        "size) — q dominates p iff q is <= on both dimensions and "
        "strictly < on at least one; exact ties on both dimensions "
        "coexist on the frontier. Implemented in the DISTRIBUTIVE "
        "two-level form, not the naive O(n^2) dominance scan the oracle "
        "mirrors: (1) per-price min-size aggregate (partial-aggregatable "
        "map-side), (2) ONE exclusive running min over the DISTINCT-"
        "PRICE frame via operators/ranks.global_cummin (range "
        "partitions + a broadcast P-row carry-in — NO single-partition "
        "window, so even a price grid that saturates its cent "
        "resolution never lands on one task), keeping prices whose "
        "min-size strictly beats every cheaper price, (3) a broadcast "
        "semi-join back to recover the frontier parts. Prices compare "
        "as exact integer cents throughout.",
)
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    )
    by_price = part.groupBy("price_cents").agg(F.min("p_size").alias("min_size"))
    frontier_prices = (
        global_cummin(
            by_price,
            ["price_cents"],
            "min_size",
            out_col="run_min",
            exclusive=True,
        )
        .filter(F.col("run_min").isNull() | (F.col("min_size") < F.col("run_min")))
        .select("price_cents", "min_size")
    )
    return (
        part.alias("p")
        .join(
            F.broadcast(frontier_prices.alias("f")),
            (F.col("p.price_cents") == F.col("f.price_cents"))
            & (F.col("p.p_size") == F.col("f.min_size")),
        )
        .select("p.p_partkey", "p.price_cents", "p.p_size")
    )


# ---------------------------------------------------------------------------
# Hot-key skew diagnosis
# ---------------------------------------------------------------------------
#
# Hot-key skew diagnosis: the per-key histogram ranked by count with
# share and a recommended salt factor ceil(cnt * n_keys / total) —
# the report that decides when operators/skew.py's salted join is
# worth its extra exchange.

_SKEW_TOPK = 10


@register(
    "join_skew_diagnosis",
    oracle=f"""
    WITH hist AS (
        SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total
        FROM hist
    )
    SELECT h.key, h.cnt,
           CAST(round(1000000.0 * h.cnt / t.total) AS BIGINT) AS share_micro,
           CAST((h.cnt * t.n_keys + t.total - 1) // t.total AS BIGINT)
               AS salt_factor
    FROM hist h CROSS JOIN tot t
    ORDER BY h.cnt DESC, h.key
    LIMIT {_SKEW_TOPK}
    """,
    doc="Hot-key skew diagnosis: the per-key histogram ranked by count "
        "with each hot key's share and a recommended salt factor "
        "ceil(cnt * n_keys / total) — how many ways to split the key so "
        "its partition shrinks to the average. This is the report that "
        "decides when operators/skew.py's salted join pays for its "
        "extra exchange, and it shares its input with "
        "join_size_estimate: the same partial-aggregatable histogram "
        "yields both the cardinality prediction (sum of products) and "
        "the skew verdict (max / share). The 100 TB shape: one "
        "map-side-combined aggregate, a 1-row totals frame broadcast "
        "back, and top-k via TakeOrderedAndProject — the raw table is "
        "scanned once and nothing bigger than the key histogram ever "
        "shuffles. The salt factor is exact integer ceiling division; "
        "the share is one IEEE division rounded to micro-units.",
)
def join_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()  # feeds the totals frame AND the ranked output
    )
    tot = hist.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").cast("bigint").alias("total")
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.round(F.lit(1_000_000.0) * F.col("cnt") / F.col("total"))
            .cast("bigint")
            .alias("share_micro"),
            F.expr("(cnt * n_keys + total - 1) div total")
            .cast("bigint")
            .alias("salt_factor"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(_SKEW_TOPK)
    )


# ---------------------------------------------------------------------------
# Bloom-prefilter join
# ---------------------------------------------------------------------------
#
# Bloom-prefilter join (the runtime-filter / sideways-information-
# passing pattern): build a Bloom filter over the selective dim keys,
# map-side prefilter the fact table against the broadcast bit table,
# then join exactly — verifying in-plan that the prefilter kept every
# true match (no false negatives) while reporting the reduction.

_PREF_M = 4_096  # filter bits
_PREF_K = 4  # hash functions
_PREF_SEGMENT = "BUILDING"


@register(
    "join_bloom_prefilter",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey AS key FROM customer
        WHERE c_mktsegment = '{_PREF_SEGMENT}'
    ),
    hashes AS (SELECT unnest(range({_PREF_K})) AS j),
    bits AS (
        SELECT DISTINCT ('0x' || substring(md5(CAST(key AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 15))::BIGINT % {_PREF_M} AS bit
        FROM dim CROSS JOIN hashes
    ),
    fact_bits AS (
        SELECT o.o_orderkey, o.o_custkey,
               ('0x' || substring(md5(CAST(o.o_custkey AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 15))::BIGINT % {_PREF_M} AS bit
        FROM orders o CROSS JOIN hashes
    ),
    passed AS (
        SELECT o_orderkey, o_custkey
        FROM fact_bits fb LEFT JOIN bits b ON b.bit = fb.bit
        GROUP BY o_orderkey, o_custkey
        HAVING count(b.bit) = {_PREF_K}
    ),
    joined AS (
        SELECT count(*) AS exact_join_rows
        FROM passed p JOIN dim d ON p.o_custkey = d.key
    ),
    truth AS (
        SELECT count(*) AS true_join_rows
        FROM orders o JOIN dim d ON o.o_custkey = d.key
    )
    SELECT (SELECT count(*) FROM orders) AS orders_total,
           (SELECT count(*) FROM passed) AS orders_after_prefilter,
           j.exact_join_rows, t.true_join_rows,
           (j.exact_join_rows = t.true_join_rows) AS kept_all_matches
    FROM joined j CROSS JOIN truth t
    """,
    doc="Bloom-prefilter join (the runtime-filter / sideways-"
        f"information-passing pattern): build a {_PREF_M}-bit/"
        f"{_PREF_K}-hash Bloom filter over the selective dim keys "
        f"(customers in '{_PREF_SEGMENT}'), prefilter the fact table "
        "map-side against the broadcast bit table, then run the exact "
        "join on the survivors — verifying IN-PLAN that the prefiltered "
        "join returns exactly the rows the unfiltered join would "
        "(kept_all_matches must be TRUE: Bloom admits false positives, "
        "never false negatives), while orders_after_prefilter vs "
        "orders_total reports the shuffle volume saved. This is what "
        "Spark's own runtime row-group filters and Bloom join hints do "
        "internally, surfaced as an explicit operator for engines and "
        "file layouts where the optimizer cannot inject it. At 100 TB "
        "the bit table is kilobytes broadcast, the prefilter is "
        "map-side (the explode-by-k is the portable form; the "
        "production form tests k array positions in one projection), "
        "and only the surviving fraction of the fact pays the join "
        "shuffle. The prefilter itself is a chain of K broadcast LEFT "
        "SEMI joins on the computed bit positions, so the fact side "
        "never shuffles for it (the oracle's explode+hit-count form is "
        "the same predicate, shuffle-free only as SQL). The truth "
        "column is the verification harness, not the production path. "
        "All bit positions are md5-derived integer arithmetic — exact "
        "on both engines. Production sizing follows agg_bloom_membership "
        "(m = -n*ln(p)/ln(2)^2, ~10 bits/key at 1% FPR); the fixture "
        f"filter is {_PREF_M} bits so the sf0.1 run deliberately shows "
        "the saturation regime too — correctness holds (no false "
        "negatives ever), only the reduction ratio degrades.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _PREF_SEGMENT)
        .select(F.col("c_custkey").alias("key"))
        .localCheckpoint()  # feeds the bit build AND both exact joins
    )
    bits = (
        dim.select(
            F.explode(
                F.array(
                    *[
                        bloom_bit_col(F.col("key").cast("string"), j, m=_PREF_M)
                        for j in range(_PREF_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).localCheckpoint()  # feeds prefilter, total count, and the truth join
    # The prefilter is a chain of K broadcast LEFT SEMI joins — "bit j of
    # this key is set" — so the fact side NEVER shuffles: each semi join
    # is map-side against the broadcast bit table (the explode+count
    # form would shuffle K x the fact rows just to count hits).
    passed = orders
    for j in range(_PREF_K):
        bit_j = bloom_bit_col(F.col("o_custkey").cast("string"), j, m=_PREF_M)
        passed = passed.join(
            F.broadcast(bits), bit_j == bits.bit, "left_semi"
        )
    passed = passed.select("o_orderkey", "o_custkey")
    exact = passed.join(
        F.broadcast(dim), passed.o_custkey == dim.key
    ).agg(F.count("*").alias("exact_join_rows"))
    truth = orders.join(
        F.broadcast(dim), orders.o_custkey == dim.key
    ).agg(F.count("*").alias("true_join_rows"))
    totals = orders.agg(F.count("*").alias("orders_total"))
    n_passed = passed.agg(F.count("*").alias("orders_after_prefilter"))
    return (
        totals.crossJoin(F.broadcast(n_passed))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(truth))
        .select(
            "orders_total",
            "orders_after_prefilter",
            "exact_join_rows",
            "true_join_rows",
            (F.col("exact_join_rows") == F.col("true_join_rows")).alias(
                "kept_all_matches"
            ),
        )
    )


# binned range join.
#
# Spark has no native point-in-interval join — an inequality join compiles
# to BroadcastNestedLoopJoin (or CartesianProduct), the O(points x
# intervals) shape that dies first at scale.  operators/rangejoin.
# bin_range_join is the standard equi-join rewrite (bin the point axis,
# explode intervals to covered bins, equi-join on (keys, bin), re-check
# bounds); this module registers its flagship use: purchases attributed
# into +-30-minute error windows of the SAME user — "did errors suppress
# or precede purchases" incident forensics.
#
# Timestamps compare as INTEGER epoch microseconds on both engines
# (Spark unix_micros vs DuckDB epoch_us), so the window bounds are exact
# and the hash match certifies the full pair set.
#
# Float discipline: integer microseconds and counts only.

@register(
    "join_range_binned_windows",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events
    ),
    err AS (
        SELECT event_id AS err_id, user_id,
               t - {RW_HALF_US} AS lo, t + {RW_HALF_US} AS hi
        FROM ev WHERE event_type = 'error'
    ),
    p AS (
        SELECT event_id AS p_id, user_id, t FROM ev
        WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT e.err_id, CAST(count(*) AS BIGINT) AS n,
               CAST(min(p.p_id) AS BIGINT) AS mn
        FROM err e JOIN p
          ON p.user_id = e.user_id AND p.t BETWEEN e.lo AND e.hi
        GROUP BY 1
    )
    SELECT e.err_id AS err_id, e.user_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_purchases,
           m.mn AS first_purchase_id
    FROM err e LEFT JOIN m ON m.err_id = e.err_id
    ORDER BY e.err_id
    """,
    doc="Point-in-interval join via operators/rangejoin.bin_range_join: "
        "every purchase landing inside a +-30-minute window around the "
        "same user's error events — incident forensics Spark would "
        "otherwise run as a BroadcastNestedLoopJoin over points x "
        "intervals. The rewrite bins epoch-microsecond time into 1-hour "
        "buckets, maps each point to its ONE bin, explodes each interval "
        "to the <= 2 bins it covers, equi-joins on (user_id, bin) and "
        "re-checks exact bounds — a pair meets in exactly one bin, so "
        "the result needs no dedup and the join shuffles/AQE-balances "
        "like any equi-join. The 100 TB shape: join rows = |points| + "
        "~2|intervals| (the explode factor is interval_width/W + 1, "
        "tunable; degenerate long intervals get split or broadcast per "
        "the operator doc); bounds compare as exact integer "
        "microseconds on both engines.",
)
def join_range_binned_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors, purchases = error_window_sides(spark, sf_dir)
    matches = bin_range_join(
        purchases,
        errors,
        point_col="t",
        lo_col="lo",
        hi_col="hi",
        bin_width=RW_BIN_US,
        keys=["user_id"],
    )
    return error_window_counts(errors, matches)


# Determinism (the queries module docstring): all joins/aggregates on exact
# bigints (epoch days, integer quantities, rounded cents); no floats cross an
# engine boundary unrounded.

_EPOCH = "1970-01-01"


def _days(col: str):
    return F.datediff(F.col(col).cast("date"), F.lit(_EPOCH).cast("date")).cast(
        "bigint"
    )


# ---------------------------------------------------------------------------
# Interval-overlap pairs: concurrent open orders per customer
# ---------------------------------------------------------------------------
#
# Interval-overlap pairs: concurrent open orders of the same customer
# (two order spans overlapping in time), via the new
# ``interval_overlap_join`` primitive with its claim-bin dedup.


@register(
    "join_interval_overlaps",
    oracle="""
    WITH spans AS (
        SELECT o.o_custkey AS custkey, o.o_orderkey AS ok,
               datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                   AS lo,
               max(datediff('day', DATE '1970-01-01',
                            CAST(l.l_shipdate AS DATE))) AS hi
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT a.custkey,
               least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS overlap_days
        FROM spans a JOIN spans b
          ON a.custkey = b.custkey AND a.ok < b.ok
         AND a.lo <= b.hi AND b.lo <= a.hi
    )
    SELECT custkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(overlap_days) AS BIGINT) AS max_overlap_days,
           CAST(sum(overlap_days) AS BIGINT) AS sum_overlap_days
    FROM pairs GROUP BY custkey
    ORDER BY custkey
    """,
    doc="Concurrent open orders per customer — pairs of order spans "
        "[order date, last ship date] of the SAME customer that overlap "
        "in time, found by operators/rangejoin.interval_overlap_join: "
        "both span sets explode to 64-day bins, the pair equi-joins on "
        "(custkey, bin) and is CLAIMED exactly once in the bin holding "
        "max(lo_a, lo_b), so no post-join distinct exists anywhere in "
        "the plan. The naive form is a per-customer self "
        "theta-join that Spark executes as BNLJ. The 100 TB shape: the "
        "explode factor is span/64 (bounded by TPC-H's ~4-month spans), "
        "the join is an ordinary shuffled equi-join AQE can re-balance, "
        "and the a.ok < b.ok tiebreak halves the output. Exact bigint "
        "day arithmetic throughout.",
)
def join_interval_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("ok"),
            _days("o_orderdate").alias("lo"),
        )
        .agg(F.max(_days("l_shipdate")).alias("hi"))
        .localCheckpoint()  # one build feeds both self-join sides
    )
    a = spans.select("custkey", F.col("ok").alias("a_ok"),
                     F.col("lo").alias("a_lo"), F.col("hi").alias("a_hi"))
    b = spans.select("custkey", F.col("ok").alias("b_ok"),
                     F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi"))
    pairs = interval_overlap_join(
        a, b,
        left_lo="a_lo", left_hi="a_hi",
        right_lo="b_lo", right_hi="b_hi",
        bin_width=64, keys=["custkey"],
    ).where(F.col("a_ok") < F.col("b_ok"))
    overlap = (
        F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo") + 1
    ).alias("overlap_days")
    return (
        pairs.select("custkey", overlap)
        .groupBy("custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.max("overlap_days").cast("bigint").alias("max_overlap_days"),
            F.sum("overlap_days").cast("bigint").alias("sum_overlap_days"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# IP-in-CIDR lookup with longest-prefix match
# ---------------------------------------------------------------------------
#
# IP-in-CIDR lookup with longest-prefix match: the classic networking
# enrichment — CIDR blocks become [base, base+2^(32-len)-1] integer
# ranges, ``bin_range_join`` turns the containment test into an
# equi-join, and a max_by on prefix length implements LPM.

# Deterministic CIDR plan: 16 covering /4 blocks, one more-specific /8
# inside each /4 (offset 3*2^24), and one /12 inside each of those /8s
# (offset 9*2^20) — ~6% and ~0.4% of the address space, so the hashed
# IPs exercise all three LPM levels at every SF.  Distinct prefix
# lengths nest strictly, so longest-prefix match is unambiguous.
_CIDR_BLOCKS: list[tuple[str, int, int]] = (
    [(f"net4_{k}", k << 28, 4) for k in range(16)]
    + [(f"net8_{k}", (k << 28) + 3 * (1 << 24), 8) for k in range(16)]
    + [(f"net12_{k}", (k << 28) + 3 * (1 << 24) + 9 * (1 << 20), 12) for k in range(16)]
    # anchors at base 0: ip(user_id=0) == 0 exists at every SF, so the
    # three-level /4 -> /8 -> /12 LPM chain is exercised deterministically
    + [("net8_anchor", 0, 8), ("net12_anchor", 0, 12)]
)
_IP_MULT = 2654435761  # Knuth multiplicative hash; exact in bigint both engines


def _cidr_values_sql() -> str:
    rows = [
        f"('{label}', CAST({base} AS BIGINT), "
        f"CAST({base + (1 << (32 - ln)) - 1} AS BIGINT), CAST({ln} AS INT))"
        for label, base, ln in _CIDR_BLOCKS
    ]
    return ", ".join(rows)


@register(
    "join_ip_cidr_lookup",
    oracle=f"""
    WITH ips AS (
        SELECT DISTINCT (user_id * {_IP_MULT}) % 4294967296 AS ip
        FROM events
    ),
    dim AS (
        SELECT * FROM (VALUES {_cidr_values_sql()})
            AS t(label, lo, hi, prefix_len)
    ),
    matched AS (
        SELECT ip, arg_max(label, prefix_len) AS label
        FROM ips JOIN dim ON ip BETWEEN lo AND hi
        GROUP BY ip
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_ips,
           CAST(min(ip) AS BIGINT) AS min_ip,
           CAST(max(ip) AS BIGINT) AS max_ip
    FROM matched GROUP BY label ORDER BY label
    """,
    doc="IP-in-CIDR enrichment with longest-prefix match — the "
        "canonical range-lookup at scale (geo/ASN tagging of every "
        "request log line). CIDR blocks become [base, base+2^(32-len)-1] "
        "bigint ranges; operators/rangejoin.bin_range_join (W=2^20) "
        "turns containment into an equi-join (a /4 block explodes to "
        "256 bins — the explode factor is the documented cost model, "
        "paid once on the KILOBYTE dim side); LPM = max_by(label, "
        "prefix_len) per IP, exact because nested prefixes always have "
        "distinct lengths. IPs derive from user_id by the Knuth "
        "multiplicative hash — exact bigint arithmetic DuckDB mirrors "
        "verbatim. At 100 TB the dim broadcasts and the fact side "
        "never shuffles: map-side join, then one aggregate.",
)
def join_ip_cidr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ips = (
        table(spark, sf_dir, "events")
        .select(
            ((F.col("user_id") * _IP_MULT) % F.lit(4294967296)).alias("ip")
        )
        .distinct()
    )
    dim = literal_dim(
        spark,
        [
            (label, base, base + (1 << (32 - ln)) - 1, ln)
            for label, base, ln in _CIDR_BLOCKS
        ],
        "label string, lo long, hi long, prefix_len int",
    )
    matched = bin_range_join(
        ips,
        F.broadcast(dim),
        point_col="ip",
        lo_col="lo",
        hi_col="hi",
        bin_width=1 << 20,
    )
    lpm = matched.groupBy("ip").agg(
        F.max_by("label", "prefix_len").alias("label")
    )
    return (
        lpm.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_ips"),
            F.min("ip").cast("bigint").alias("min_ip"),
            F.max("ip").cast("bigint").alias("max_ip"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join
# ---------------------------------------------------------------------------
#
# SCD2 point-in-time join: lineitem shipments joined to the customer
# priority-tier version VALID AT SHIP TIME (the feature-store
# correctness primitive — joining today's dim onto yesterday's facts is
# the classic leakage bug).  Versions derive from the orders stream via
# a keyed lead() window; the PIT lookup is a binned range join on
# (custkey, epoch-day).

_PIT_CAP_DAY = 11000  # > every TPC-H ship date (1998-12-31 = 10 591)


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH daily AS (
        SELECT o_custkey AS custkey,
               datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS eff_from,
               arg_max(o_orderpriority, o_orderkey) AS tier
        FROM orders GROUP BY 1, 2
    ),
    versions AS (
        SELECT custkey, tier, eff_from,
               coalesce(lead(eff_from) OVER (PARTITION BY custkey
                                             ORDER BY eff_from) - 1,
                        11000) AS eff_to
        FROM daily
    ),
    facts AS (
        SELECT o.o_custkey AS custkey,
               datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                   AS ship_day,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT v.tier,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(sum(f.cents) AS BIGINT) AS revenue_cents
    FROM facts f JOIN versions v
      ON v.custkey = f.custkey
     AND f.ship_day BETWEEN v.eff_from AND v.eff_to
    GROUP BY v.tier ORDER BY v.tier
    """,
    doc="SCD2 point-in-time join — every lineitem shipment enriched "
        "with the customer's priority TIER VERSION valid at ship time, "
        "not today's: the feature-store/time-travel correctness "
        "primitive (training a model on current dim values against "
        "historical facts is the classic leakage bug this join "
        "prevents). Versions derive from orders via one KEYED lead() "
        "window (eff_to = next version start - 1, last capped); the PIT "
        "lookup is operators/rangejoin.bin_range_join on (custkey, "
        "epoch-day, W=64) — versions partition each customer's "
        "timeline, so every fact lands in exactly one version. The "
        "100 TB shape: version dim is orders-of-magnitude smaller than "
        "the shipment fact; the fact shuffles once on custkey (or never, "
        "under the bucketed layout), never sorts globally. Exact bigint "
        "days and cents.",
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_custkey").alias("custkey"),
        _days("o_orderdate").alias("eff_from"),
    ).agg(F.max_by("o_orderpriority", "o_orderkey").alias("tier"))
    w = Window.partitionBy("custkey").orderBy("eff_from")
    versions = daily.select(
        "custkey",
        "tier",
        "eff_from",
        F.coalesce(
            F.lead("eff_from").over(w) - 1, F.lit(_PIT_CAP_DAY).cast("bigint")
        ).alias("eff_to"),
    )
    li = table(spark, sf_dir, "lineitem")
    facts = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    ).select(
        F.col("o_custkey").alias("custkey"),
        _days("l_shipdate").alias("ship_day"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    pit = bin_range_join(
        facts,
        versions,
        point_col="ship_day",
        lo_col="eff_from",
        hi_col="eff_to",
        bin_width=64,
        keys=["custkey"],
    )
    return (
        pit.groupBy("tier")
        .agg(
            F.count("*").cast("bigint").alias("n_shipments"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("tier")
    )


# recursive-CTE hierarchy walk — Spark 4.1's
# ``WITH RECURSIVE`` surface, exercised end-to-end.
#
# Hierarchies (org charts, category trees, bill-of-materials) are the
# classic capability gap between batch SQL engines; Spark 4.1 closed it
# with ANSI recursive CTEs, executed as a bounded iterative union whose
# step count is the hierarchy DEPTH, not the row count — each step is an
# ordinary equi-join/filter the optimizer plans like any other.  This
# query walks a deterministic decimal-digit forest over the part keys
# (child pk -> parent pk div 10; roots are single-digit keys) to its
# roots and reports the depth histogram with per-depth root counts — the
# transitive-closure shape of "roll every leaf up to its ancestor".
#
# The DuckDB oracle is the SAME recursive SQL modulo integer-division
# spelling (Spark ``div``, DuckDB ``//``) — the whole point: the
# declared recursion is engine-portable.

# One recursion-scoped child session per SparkContext (keyed by
# applicationId so a stopped-and-restarted context gets a fresh child,
# never a handle to dead JVM state).
_CHILD_SESSIONS: dict[str, SparkSession] = {}


def _child_session(spark: SparkSession) -> SparkSession:
    key = spark.sparkContext.applicationId
    sub = _CHILD_SESSIONS.get(key)
    if sub is None:
        _CHILD_SESSIONS.clear()  # drop handles tied to dead contexts
        sub = spark.newSession()
        _CHILD_SESSIONS[key] = sub
    # (Re-)set on every call: the raise must survive anything that reset
    # the child's conf between invocations.
    sub.conf.set("spark.sql.cteRecursionRowLimit", 100_000_000)
    return sub


@register(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk(pk, anc, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM part
        UNION ALL
        SELECT pk, anc // 10, depth + 1 FROM walk WHERE anc >= 10
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT anc) AS BIGINT) AS n_roots
    FROM walk WHERE anc < 10
    GROUP BY depth ORDER BY depth
    """,
    doc="Recursive-CTE hierarchy walk (Spark 4.1 WITH RECURSIVE, the "
        "ANSI transitive-closure surface): every part key climbs the "
        "decimal-digit forest (parent = key div 10) to its single-digit "
        "root; output is the depth histogram with per-depth distinct "
        "root counts. The oracle is the SAME recursive SQL modulo the "
        "integer-division spelling — the declared recursion is "
        "engine-portable, which is the capability being certified. The "
        "100 TB shape: Spark executes the recursion as an iterative "
        "union BOUNDED by hierarchy depth (log10 of the key space, ~7 "
        "levels at SF1000), each step an ordinary whole-stage-codegen "
        "filter/project over the frontier — depth-bounded passes, "
        "never row-count-bounded, the same discipline as the "
        "checkpoint-chained pagerank/k-core/LPA iterations.",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The walk materializes |part| x (depth + 1) rows; Spark's default
    # cteRecursionRowLimit (1M) is a runaway-recursion safety valve, not
    # a scale budget — at sf1 the 200k-part x 7-level walk already
    # exceeds it (the round-9 depth ladder in SCALE_GROWTH.md; its harness,
    # tools/scale_growth_round9.py, is in commit 0242173).
    # Depth stays bounded by the level limit (100); raise only the row cap
    # — and ONLY for this query: the limit is read at EXECUTION time of
    # the lazy frame, so a set-and-restore around the builder would undo
    # the raise before the recursion runs, while a bare set leaks into
    # the shared bench/gate session and strips every later recursive CTE
    # of its runaway valve (r9 verdict item 6).  A child newSession()
    # shares the SparkContext (no new JVM state) but carries its own
    # SQLConf and temp-view catalog, so the raise and the temp view both
    # stay scoped to this query's plan.  ONE child per SparkContext,
    # cached module-level (r10 advice): a fresh newSession() per
    # invocation would accumulate JVM session state across bench/gate
    # runs.  Caveat the cache inherits from newSession() itself: the
    # child snapshots parent confs at creation, so a runtime conf the
    # harness sets on the parent AFTER the first invocation does not
    # propagate — acceptable here because the only confs this plan
    # depends on (shuffle partitions, AQE) are builder-level.
    sub = _child_session(spark)
    table(sub, sf_dir, "part").select("p_partkey").createOrReplaceTempView(
        "_r8_hier_part"
    )
    return sub.sql("""
        WITH RECURSIVE walk(pk, anc, depth) AS (
            SELECT p_partkey, p_partkey, 0 FROM _r8_hier_part
            UNION ALL
            SELECT pk, anc div 10, depth + 1 FROM walk WHERE anc >= 10
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT anc) AS BIGINT) AS n_roots
        FROM walk WHERE anc < 10
        GROUP BY depth ORDER BY depth
    """)
