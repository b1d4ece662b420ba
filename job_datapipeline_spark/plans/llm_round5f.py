"""Round-5 sixth batch: CUSUM change-point detection, triangle
counting / clustering coefficient, Bloom-prefilter join reduction,
and market-basket association rules.

Four more named operators:

- CUSUM drift detection (Page 1954): the classic sequential
  change-point statistic over an hourly series, in the window-
  expressible form C_i = S_i - min_{j<=i} S_j with S the cumulative
  deviation from the series mean — all integers by scaling deviations
  by n (d_i = n*x_i - total), so the statistic is exact on both
  engines. A step change is PLANTED on one series (the snapshot_diff
  planted-edit pattern), so the detector provably fires at every
  scale factor.
- Triangle count + global clustering coefficient over a co-presence
  graph (users sharing an (event_type, hour) cell): the canonical
  ordered-edge two-join with u1 < u2 < u3, wedges as sum of
  C(deg, 2), clustering = 3*triangles / wedges.
- Bloom-prefilter join (the runtime-filter / sideways-information-
  passing pattern): build a Bloom filter over the selective dim keys,
  map-side prefilter the fact table against the broadcast bit table,
  then join exactly — verifying in-plan that the prefilter kept every
  true match (no false negatives) while reporting the reduction.
- Market-basket association rules (Apriori's first level): brand
  pairs co-occurring in an order, with support, directional
  confidence, and lift = N * c_ab / (c_a * c_b) — the same shape as
  PMI but over co-occurrence baskets instead of adjacency.

Reference parity: none of these exist in the reference pipeline
(glassdoor-scraper/src/main.py); they extend the time-series, graph,
join-optimization, and analytics surfaces for the 100 TB scope.
Float discipline (plans/queries.py header): deviations, ranks, and
counts are exact bigints; each ratio is one IEEE division rounded
immediately to micro-units; md5 bit positions are integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register
from .llm_round5b import _bloom_bit_col

# ---------------------------------------------------------------------------
# CUSUM drift detection
# ---------------------------------------------------------------------------

_CUSUM_STEP_FROM = "2024-01-16"  # 'click' doubles from here (planted drift)
# Flag when the mean-adjusted cumulative drift exceeds 3/25 (= 0.12) of the
# series total — measured: the planted step peaks at ratio 0.154-0.190
# across sf0.001-0.1 while the noisiest clean series peaks at 0.082.
_CUSUM_THRESH_NUM = 3
_CUSUM_THRESH_DEN = 25


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS raw
        FROM events GROUP BY 1, 2
    ),
    stepped AS (
        SELECT event_type, hour,
               raw + CASE WHEN event_type = 'click'
                          AND hour >= TIMESTAMP '{_CUSUM_STEP_FROM}'
                          THEN raw ELSE 0 END AS cents
        FROM hourly
    ),
    stats AS (
        SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total
        FROM stepped GROUP BY event_type
    ),
    dev AS (
        SELECT h.event_type, h.hour, s.n, s.total,
               s.n * h.cents - s.total AS d
        FROM stepped h JOIN stats s ON s.event_type = h.event_type
    ),
    cum AS (
        SELECT *,
               CAST(sum(d) OVER (PARTITION BY event_type ORDER BY hour
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_i
        FROM dev
    ),
    cusum AS (
        SELECT *,
               s_i - min(s_i) OVER (PARTITION BY event_type ORDER BY hour
                                    ROWS UNBOUNDED PRECEDING) AS c_i
        FROM cum
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(count(*) FILTER (
               WHERE {_CUSUM_THRESH_DEN} * c_i
                     > {_CUSUM_THRESH_NUM} * n * total) AS BIGINT)
               AS n_flagged,
           min(hour) FILTER (
               WHERE {_CUSUM_THRESH_DEN} * c_i
                     > {_CUSUM_THRESH_NUM} * n * total)
               AS first_drift_hour,
           CAST(max(c_i) AS BIGINT) AS max_cusum
    FROM cusum
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="CUSUM change-point detection (Page 1954) over hourly series: "
        "cumulative deviation from the per-series mean, with the "
        "detector statistic C_i = S_i - min_{j<=i} S_j (the window-"
        "expressible form of the reset recursion max(0, C+x)), flagging "
        "hours where the mean-adjusted drift exceeds "
        f"{_CUSUM_THRESH_NUM}/{_CUSUM_THRESH_DEN} of the series total. "
        "All arithmetic is exact: deviations are scaled by n (d = n*x - "
        "total) and the threshold is a bigint cross-multiplication "
        f"({_CUSUM_THRESH_DEN}*c > {_CUSUM_THRESH_NUM}*n*total) — no "
        "division anywhere. The 'click' series DOUBLES from "
        f"{_CUSUM_STEP_FROM} (the planted-edit pattern, proportional so "
        "it survives scale-factor changes); measured drift ratios are "
        "0.154-0.190 for the planted series vs <= 0.082 noise peak for "
        "the clean ones across all three scale factors, so exactly "
        "'click' must fire — pinned in the differential test. The "
        "100 TB shape: one rollup shuffle, a tiny per-series stats "
        "join, and both windows (cumsum + running min) ride ONE "
        "partition-by-series sort; per-series state is the series "
        "length, with the same range-bucketed escalation documented "
        "for interpolation.",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("raw")
        )
        .select(
            "event_type",
            "hour",
            (
                F.col("raw")
                + F.when(
                    (F.col("event_type") == "click")
                    & (
                        F.col("hour")
                        >= F.lit(_CUSUM_STEP_FROM).cast("timestamp_ntz")
                    ),
                    F.col("raw"),
                ).otherwise(0)
            ).alias("cents"),
        )
        .localCheckpoint()  # feeds the stats aggregate AND the windows
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("total")
    )
    dev = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "hour",
        "n",
        "total",
        (F.col("n") * F.col("cents") - F.col("total")).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = dev.withColumn("s_i", F.sum("d").over(w).cast("bigint")).withColumn(
        "c_i", F.col("s_i") - F.min("s_i").over(w)
    )
    flagged = (
        _CUSUM_THRESH_DEN * F.col("c_i")
        > _CUSUM_THRESH_NUM * F.col("n") * F.col("total")
    )
    return (
        cusum.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
            F.min(F.when(flagged, F.col("hour"))).alias("first_drift_hour"),
            F.max("c_i").cast("bigint").alias("max_cusum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Triangle count + clustering coefficient
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_clustering",
    oracle="""
    WITH cells AS (
        SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id
        FROM events
        WHERE event_type = 'purchase' AND user_id % 3 = 0
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM cells a JOIN cells b
          ON a.hour = b.hour AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT user_id, count(*) AS d FROM (
            SELECT u AS user_id FROM edges
            UNION ALL
            SELECT v FROM edges) x
        GROUP BY user_id
    ),
    wedges AS (
        SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
                   AS n_wedges,
               count(*) AS n_vertices
        FROM deg
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT w.n_vertices,
           (SELECT count(*) FROM edges) AS n_edges,
           w.n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN w.n_wedges = 0 THEN NULL
                ELSE CAST(round(3000000.0 * t.n_triangles / w.n_wedges)
                          AS BIGINT) END AS clustering_micro
    FROM wedges w CROSS JOIN tri t
    """,
    doc="Triangle count and global clustering coefficient over the "
        "co-purchase graph (the deterministic user_id % 3 cohort of "
        "purchasers sharing an hour cell): edges are ordered pairs "
        "u < v within a cell (distinct across cells), triangles count "
        "each u < v < w exactly once via the canonical two-join on "
        "ordered edges, wedges are sum of C(deg, 2), and clustering = "
        "3*triangles / wedges (one IEEE division, micro-units; NULL "
        "when the graph has no wedges, as at the smallest fixture — "
        "guarded identically on both engines because double/0 diverges "
        "between them). The cohort + single-type filters keep the "
        "graph in the sparse regime where triangle counting is "
        "meaningful (the unfiltered co-presence graph saturates toward "
        "complete, where every statistic degenerates to C(n,3)). The "
        "100 TB shape: pair generation is a within-cell self-join "
        "whose cost is sum over cells of members^2 — bounded by cell "
        "granularity, the same O(cell^2) contract as SemDeDup — and "
        "the triangle join runs on the DISTINCT edge list, orders of "
        "magnitude smaller than the event log. The documented skew "
        "escalation is degree orientation: store each edge from its "
        "lower-degree endpoint so every adjacency list is "
        "O(sqrt(edges)) and the heaviest join side shrinks accordingly "
        "(the classic power-law mitigation); at this graph's size the "
        "plain ordered join is the right plan.",
)
def graph_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") % 3 == 0))
        .select(F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id")
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .localCheckpoint()  # feeds degrees + the three-way triangle join
    )
    deg = (
        edges.select(F.col("u").alias("user_id"))
        .unionAll(edges.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum((F.col("d") * (F.col("d") - 1)) / 2).cast("bigint"), F.lit(0)
        ).alias("n_wedges"),
        F.count("*").alias("n_vertices"),
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3_000_000.0)
                    * F.col("n_triangles")
                    / F.col("n_wedges")
                ).cast("bigint"),
            ).alias("clustering_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefilter join
# ---------------------------------------------------------------------------

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
                        _bloom_bit_col(F.col("key").cast("string"), j, m=_PREF_M)
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
        bit_j = _bloom_bit_col(F.col("o_custkey").cast("string"), j, m=_PREF_M)
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


# ---------------------------------------------------------------------------
# Market-basket association rules
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 50
_BASKET_TOPK = 15


@register(
    "orders_market_basket",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_baskets AS (SELECT count(DISTINCT basket) AS n FROM items),
    item_counts AS (SELECT item, count(*) AS c FROM items GROUP BY item),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
        FROM items a JOIN items b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    )
    SELECT p.item_a, p.item_b, p.support,
           CAST(round(1000000.0 * p.support / ca.c) AS BIGINT)
               AS confidence_micro,
           CAST(round(1000000.0 * (n.n * p.support)
                      / (ca.c * cb.c)) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN item_counts ca ON ca.item = p.item_a
    JOIN item_counts cb ON cb.item = p.item_b
    CROSS JOIN n_baskets n
    WHERE p.support >= {_BASKET_MIN_SUPPORT}
    ORDER BY lift_micro DESC, item_a, item_b
    LIMIT {_BASKET_TOPK}
    """,
    doc="Market-basket association rules (Apriori's pairwise level): "
        "brand pairs co-occurring in an order, with support, "
        "directional confidence P(b|a) = support/c_a, and lift = "
        "N * c_ab / (c_a * c_b) — the retail-analytics canon, and the "
        "co-occurrence twin of text_pmi_collocations (baskets instead "
        "of adjacency; lift instead of log-ratio, so no transcendental "
        "at all — both divisions are single IEEE ops on exact bigint "
        "counts, rounded to micro-units). The 100 TB shape: the "
        "item-per-basket frame dedups map-side after a broadcast dim "
        "join, pair generation is a within-basket self-join whose cost "
        "is sum of basket_size^2 (baskets are small by nature — the "
        "same bounded-cell contract as the triangle counter), the pair "
        "aggregate is partial-aggregatable with key space bounded by "
        "item-vocabulary^2, and the marginal joins broadcast. ONE "
        "checkpointed items frame feeds baskets/marginals/pairs — the "
        "fact table is scanned once.",
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(
                table(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
        .localCheckpoint()  # feeds basket count, marginals, and pairs
    )
    n_baskets = items.agg(F.countDistinct("basket").alias("n"))
    item_counts = items.groupBy("item").agg(F.count("*").alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("c").alias("c_a")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "support",
            F.round(F.lit(1_000_000.0) * F.col("support") / F.col("c_a"))
            .cast("bigint")
            .alias("confidence_micro"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("n") * F.col("support"))
                / (F.col("c_a") * F.col("c_b"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "item_a", "item_b")
        .limit(_BASKET_TOPK)
    )
