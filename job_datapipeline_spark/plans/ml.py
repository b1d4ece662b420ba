"""Model evaluation and learning-shaped plans: classification metrics,
AUC, calibration, PR and gains curves, uplift, feature scaling and a
feature-store build, Gaussian-mixture EM, item-item CF, matched-cohort
causal estimates, graph algorithms (PageRank, triangles, k-core, label
propagation) and grid-bucketed geo joins.

Iterative plans unroll a fixed number of rounds, and each round's state
is exact integers or values rounded once, so both engines replay it.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.scale import fan_out
from ..operators.rangejoin import grid_containment_join
from ..operators.ranks import (
    exact_ntile,
    exact_rank_values,
    global_cumsum,
    int_div,
    ordered_neighbor_carry,
)
from .common import SCORE_SQL, cum_small, score_micro, scratch_dir
from .registry import register


@register(
    "graph_pagerank_bipartite",
    oracle="""
    WITH edges0 AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (SELECT src, dst FROM edges0
              UNION ALL
              SELECT dst AS src, src AS dst FROM edges0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
            FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    pr1 AS (
        SELECT v.node, 0.15 / v.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
        FROM (SELECT node, nn.n FROM nodes, nn) v
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / d.outdeg) AS inflow
            FROM edges e
            JOIN pr0 p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node),
    pr2 AS (
        SELECT v.node, 0.15 / v.n + 0.85 * coalesce(s.inflow, 0.0) AS pr
        FROM (SELECT node, nn.n FROM nodes, nn) v
        LEFT JOIN (
            SELECT e.dst AS node, sum(p.pr / d.outdeg) AS inflow
            FROM edges e
            JOIN pr1 p ON e.src = p.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON v.node = s.node)
    SELECT node, pagerank, rank FROM (
        SELECT node, round(pr, 8) AS pagerank,
               row_number() OVER (ORDER BY round(pr, 8) DESC, node) AS rank
        FROM pr2) x
    WHERE rank <= 20
    """,
    doc="Two PageRank power iterations over the customer-supplier "
        "purchase graph (undirected-ized so no dangling mass), entirely "
        "declarative: edges + degrees are built once and checkpointed, "
        "each iteration is one inflow aggregation (sum of pr/outdeg over "
        "incoming edges) + one broadcast of the 1-row node count for the "
        "teleport term. The second iterative-algorithm witness next to "
        "connected components and k-means: at 100 TB each iteration is "
        "one edge-partitioned shuffle, ranks stay O(nodes), and "
        "iterations chain through checkpoints exactly like GraphX/Pregel "
        "structures them. Oracle: the two iterations unrolled as CTEs.",
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct over the (int, int) pair FIRST, prefix-concat the node
    # strings AFTER: the exchange carries two longs instead of two strings
    # (narrower shuffle bytes, cheaper hash/compare — guide §2.3), and the
    # prefixes are injective so the distinct sets are identical.  fan_out:
    # the lineitem scan is one split, so the join+partial-distinct would
    # otherwise run single-task (r12 structural finding).
    pairs = (
        fan_out(li, "l_orderkey")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    e0 = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Two checkpoints, not three: edges is consumed INLINE by the
    # degree-join below (its e0 distinct-shuffle is reused by Spark's
    # exchange reuse for both arms), contrib_edges feeds every iteration,
    # and nodes derives from the checkpointed contrib_edges. The
    # orders x lineitem purchase-pair distinct dominates wall time
    # (~6 s/invocation at sf0.1) — at 100 TB that edge build is a
    # once-per-graph materialized table, not a per-query cost.
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
    contrib_edges = edges.join(deg, "src").localCheckpoint()
    nodes = (
        contrib_edges.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))

    pr = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(2):
        inflow = (
            contrib_edges.join(pr, contrib_edges.src == pr.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(nn))
            .join(inflow, "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    # top-20 FIRST via TakeOrderedAndProject (per-partition heap, 20-row
    # merge), THEN a rank window over the 20 survivors — the global
    # row_number-then-filter form would single-partition ALL nodes.
    top = (
        pr.select("node", F.round("pr", 8).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("pagerank"), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# Float discipline (the queries module docstring): every metric is exact
# bigint arithmetic with at most one IEEE division rounded immediately to
# micro-units; values aggregate as integer cents.

# ---------------------------------------------------------------------------
# Classification metrics
# ---------------------------------------------------------------------------
#
# Classification metrics: confusion matrix + accuracy / precision /
# recall / F1 from a thresholded score vs a label, all counts exact,
# ratios in micro-units — distributed model evaluation as one
# map-side-combined aggregate.

_CLS_SCORE_THRESHOLD = 821_500  # micro-units; ~median alpha-ratio
_CLS_LABEL_CHARS = 300  # label = long document


@register(
    "ml_classification_metrics",
    oracle=f"""
    WITH scored AS (
        SELECT ({SCORE_SQL} >= {_CLS_SCORE_THRESHOLD}) AS pred,
               (n_chars >= {_CLS_LABEL_CHARS}) AS actual
        FROM documents
    ),
    cm AS (
        SELECT
            CAST(count(*) FILTER (WHERE pred AND actual) AS BIGINT) AS tp,
            CAST(count(*) FILTER (WHERE pred AND NOT actual) AS BIGINT) AS fp,
            CAST(count(*) FILTER (WHERE NOT pred AND actual) AS BIGINT) AS fn,
            CAST(count(*) FILTER (WHERE NOT pred AND NOT actual) AS BIGINT)
                AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(round(1000000.0 * (tp + tn) / (tp + fp + fn + tn)) AS BIGINT)
               AS accuracy_micro,
           CAST(round(1000000.0 * tp / (tp + fp)) AS BIGINT)
               AS precision_micro,
           CAST(round(1000000.0 * tp / (tp + fn)) AS BIGINT) AS recall_micro,
           CAST(round(2000000.0 * tp / (2 * tp + fp + fn)) AS BIGINT)
               AS f1_micro
    FROM cm
    """,
    doc="Distributed classification metrics: confusion matrix plus "
        "accuracy / precision / recall / F1 for a thresholded score "
        "(the alpha-ratio quality score >= ~median) against a label "
        "(document length >= 300 chars) — the evaluation step every "
        "model-assisted curation loop (quality classifiers, lang-ID, "
        "toxicity filters) runs over held-out data before trusting a "
        "filter at scale. ONE map-side-combined aggregate produces all "
        "four cells; the metrics are computed on the 1-row frame, so "
        "nothing but four counters ever crosses the wire — at 100 TB "
        "this costs exactly one scan. Counts are exact bigints; each "
        "ratio is a single IEEE division rounded immediately to "
        "micro-units (F1 via the 2tp/(2tp+fp+fn) form — one division, "
        "no nested rounding).",
)
def ml_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        (score_micro() >= _CLS_SCORE_THRESHOLD).alias("pred"),
        (F.col("n_chars") >= _CLS_LABEL_CHARS).alias("actual"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    cm = scored.agg(
        one(F.col("pred") & F.col("actual")).alias("tp"),
        one(F.col("pred") & ~F.col("actual")).alias("fp"),
        one(~F.col("pred") & F.col("actual")).alias("fn"),
        one(~F.col("pred") & ~F.col("actual")).alias("tn"),
    )
    micro = lambda num, den: F.round(num / den).cast("bigint")  # noqa: E731
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        micro(
            F.lit(1_000_000.0) * (F.col("tp") + F.col("tn")),
            F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"),
        ).alias("accuracy_micro"),
        micro(
            F.lit(1_000_000.0) * F.col("tp"), F.col("tp") + F.col("fp")
        ).alias("precision_micro"),
        micro(
            F.lit(1_000_000.0) * F.col("tp"), F.col("tp") + F.col("fn")
        ).alias("recall_micro"),
        micro(
            F.lit(2_000_000.0) * F.col("tp"),
            2 * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1_micro"),
    )


# ---------------------------------------------------------------------------
# Rank AUC
# ---------------------------------------------------------------------------
#
# Rank AUC (Mann-Whitney form with exact tie correction): AUC =
# (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) using average ranks
# for tied scores — the standard ranking-quality metric computed
# without materializing pairs.


@register(
    "ml_auc_rank",
    oracle=f"""
    WITH scored AS (
        SELECT {SCORE_SQL} AS score,
               CASE WHEN n_chars >= {_CLS_LABEL_CHARS} THEN 1 ELSE 0 END
                   AS pos
        FROM documents
    ),
    grp AS (
        SELECT score, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS n_pos_g
        FROM scored GROUP BY score
    ),
    ranked AS (
        SELECT *,
               1 + coalesce(sum(cnt) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS first_rank
        FROM grp
    ),
    agg AS (
        SELECT CAST(sum(n_pos_g) AS BIGINT) AS n_pos,
               CAST(sum(cnt) - sum(n_pos_g) AS BIGINT) AS n_neg,
               CAST(sum(n_pos_g * (2 * first_rank + cnt - 1)) AS BIGINT)
                   AS sum_ranks2
        FROM ranked
    )
    SELECT n_pos, n_neg,
           CAST(round(1000000.0 * (sum_ranks2 - n_pos * (n_pos + 1))
                      / (2 * n_pos * n_neg)) AS BIGINT) AS auc_micro
    FROM agg
    """,
    doc="Rank AUC (the Mann-Whitney U form with exact tie correction): "
        "AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), where "
        "R_pos is the sum of positives' average ranks — computed from "
        "per-score groups (avg rank of a tied group = first_rank + "
        "(cnt-1)/2, tracked doubled so everything stays integral) — "
        "the ranking-quality companion to ml_classification_metrics' "
        "single-threshold view, and how filter scores are audited "
        "before picking any threshold at all. The 100 TB shape: one "
        "partial-aggregatable groupBy collapses the corpus to the "
        "DISTINCT-SCORE frame, the rank cumsum runs on that frame via "
        "operators/ranks.global_cumsum (range partitions + broadcast "
        "prefix offsets — NO single-partition window, so even a score "
        "domain that saturates its ~1e6-value resolution never lands "
        "on one task), and the final fold is a 1-row aggregate — the "
        "corpus is scanned once and no window ever sees raw rows. All "
        "rank sums are exact bigints; the single closing division is "
        "one IEEE op rounded to micro-units (overflow headroom to "
        "~2^53 micro-rank-sums; the documented escalation beyond that "
        "is DECIMAL(38) accumulation, same plan).",
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        score_micro().alias("score"),
        F.when(F.col("n_chars") >= _CLS_LABEL_CHARS, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("score").agg(
        F.count("*").alias("cnt"), F.sum("pos").cast("bigint").alias("n_pos_g")
    )
    # inclusive distributed cumsum, then back off this group's own count:
    # first_rank = 1 + (rows with a strictly smaller score)
    ranked = global_cumsum(grp, ["score"], "cnt", out_col="_cum").withColumn(
        "first_rank", 1 + F.col("_cum") - F.col("cnt")
    )
    agg = ranked.agg(
        F.sum("n_pos_g").cast("bigint").alias("n_pos"),
        (F.sum("cnt") - F.sum("n_pos_g")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("n_pos_g") * (2 * F.col("first_rank") + F.col("cnt") - 1)
        )
        .cast("bigint")
        .alias("sum_ranks2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("sum_ranks2") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2 * F.col("n_pos") * F.col("n_neg"))
        )
        .cast("bigint")
        .alias("auc_micro"),
    )


# ---------------------------------------------------------------------------
# Triangle count + clustering coefficient
# ---------------------------------------------------------------------------
#
# Triangle count + global clustering coefficient over a co-presence
# graph (users sharing an (event_type, hour) cell): the canonical
# ordered-edge two-join with u1 < u2 < u3, wedges as sum of
# C(deg, 2), clustering = 3*triangles / wedges.


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
# Calibration + ECE
# ---------------------------------------------------------------------------
#
# Calibration curve + expected calibration error (Naeini et al. 2015):
# fixed-width confidence buckets, per-bucket observed positive rate vs
# mean confidence, and ECE = sum_b (n_b / N) * |acc_b - conf_b| —
# completing the ML-evaluation trio (ml_classification_metrics gives
# the thresholded view, ml_auc_rank the ranking view, this the
# probability-quality view a score needs before it can gate data).

_CAL_LABEL_CHARS = 300
_CAL_BUCKET_MICRO = 100_000  # fixed-width confidence buckets (deciles of [0,1])


@register(
    "ml_calibration_ece",
    oracle=f"""
    WITH scored AS (
        SELECT {SCORE_SQL} AS conf,
               CASE WHEN n_chars >= {_CAL_LABEL_CHARS} THEN 1 ELSE 0 END
                   AS pos
        FROM documents
    ),
    buckets AS (
        SELECT conf // {_CAL_BUCKET_MICRO} AS bucket,
               count(*) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(round(1000000.0 * sum(pos) / count(*)) AS BIGINT)
                   AS pos_rate_micro,
               CAST(round(CAST(sum(conf) AS DOUBLE) / count(*)) AS BIGINT)
                   AS mean_conf_micro
        FROM scored GROUP BY 1
    ),
    ece AS (
        SELECT CAST(round(CAST(sum(n * abs(pos_rate_micro - mean_conf_micro))
                               AS DOUBLE) / sum(n)) AS BIGINT) AS ece_e6
        FROM buckets
    )
    SELECT CAST(b.bucket AS BIGINT) AS bucket, b.n, b.n_pos,
           b.pos_rate_micro, b.mean_conf_micro, e.ece_e6
    FROM buckets b CROSS JOIN ece e
    ORDER BY bucket
    """,
    doc="Calibration curve + expected calibration error (Naeini et al. "
        "2015): the alpha-ratio score, already in [0, 1e6] micro-units, "
        "is treated as a confidence; fixed-width buckets "
        f"({_CAL_BUCKET_MICRO} micro wide) report observed positive "
        "rate vs mean confidence, and ECE folds them as sum_b (n_b/N) * "
        "|acc_b - conf_b| — the probability-quality view that completes "
        "the ML-evaluation trio (threshold view: "
        "ml_classification_metrics; ranking view: ml_auc_rank). A score "
        "that ranks well but mis-calibrates still mis-prices a "
        "temperature-sampled mixture, which is why data pipelines audit "
        "this before using scores as weights. Float discipline: bucket "
        "stats round to micro-units per bucket FIRST, and ECE composes "
        "from those already-rounded integers (n * |a - c| is exact "
        "bigint arithmetic; one closing division) — the same "
        "associative-fold device as corpus_psi_drift. The 100 TB shape: "
        "ONE map-side-combined aggregate onto the fixed bucket frame "
        "(11 keys), a bucket-frame fold, and a broadcast back — the "
        "corpus is scanned once; fixed-width bins need no sort, unlike "
        "quantile bins (the documented trade: equal-mass bins give "
        "better tail resolution but cost a percentile pass).",
)
def ml_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        score_micro().alias("conf"),
        F.when(F.col("n_chars") >= _CAL_LABEL_CHARS, 1).otherwise(0).alias("pos"),
    )
    buckets = (
        scored.groupBy(
            F.floor(F.col("conf") / _CAL_BUCKET_MICRO).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            F.round(F.lit(1_000_000.0) * F.sum("pos") / F.count("*"))
            .cast("bigint")
            .alias("pos_rate_micro"),
            F.round(F.sum("conf").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("mean_conf_micro"),
        )
        .localCheckpoint()  # feeds the ECE fold AND the report rows
    )
    ece = buckets.agg(
        F.round(
            F.sum(
                F.col("n")
                * F.abs(F.col("pos_rate_micro") - F.col("mean_conf_micro"))
            ).cast("double")
            / F.sum("n")
        )
        .cast("bigint")
        .alias("ece_e6")
    )
    return (
        buckets.crossJoin(F.broadcast(ece))
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n",
            "n_pos",
            "pos_rate_micro",
            "mean_conf_micro",
            "ece_e6",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Grid-bucketed nearest-neighbor geo join
# ---------------------------------------------------------------------------
#
# Nearest supplier per customer through a GRID-BUCKETED spatial join —
# the device that makes nearest-neighbor joins tractable at scale:
# quantize coordinates to micro-degree ints, bucket into 5-degree
# cells, expand each probe point to its 3x3 cell neighborhood, join
# on cell, rank candidates by EXACT integer squared degree distance.
# No all-pairs cross join ever exists; the candidate set per probe is
# bounded by neighborhood density. (Coordinates here are derived
# deterministically from keys — the fixture stand-in for a real
# lat/lon column; production would add a haversine display column,
# but RANKING stays on the exact integer metric.)

_GEO_CELL_DEG = 5  # bucket size in degrees; neighborhood = 3x3 cells


def _synth_lat_lon(key_col: str, salt_lat: int, salt_lon: int):
    """Deterministic fixture coordinates: lat in [-80, 80), lon in
    [-180, 180), quantized to centi-degrees (exact ints scaled 1e2,
    held as micro-degrees x1e6 downstream)."""
    lat = ((F.col(key_col) * salt_lat) % 16000).cast("bigint") * 10_000 - 80_000_000
    lon = ((F.col(key_col) * salt_lon) % 36000).cast("bigint") * 10_000 - 180_000_000
    return lat, lon


@register(
    "geo_nearest_supplier",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST((c_custkey * 7919) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((c_custkey * 104729) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM customer WHERE c_custkey % 10 = 0
    ),
    supp AS (
        SELECT s_suppkey,
               CAST((s_suppkey * 6151) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((s_suppkey * 3571) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM supplier
    ),
    scell AS (
        SELECT s_suppkey, lat, lon,
               CAST(floor(lat / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   AS cx,
               CAST(floor(lon / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   AS cy
        FROM supp
    ),
    probe AS (
        SELECT c.c_custkey, c.lat, c.lon,
               CAST(floor(c.lat / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   + dx.dx AS cx,
               CAST(floor(c.lon / ({_GEO_CELL_DEG} * 1000000.0)) AS BIGINT)
                   + dy.dy AS cy
        FROM cust c,
             (VALUES (-1), (0), (1)) dx(dx),
             (VALUES (-1), (0), (1)) dy(dy)
    ),
    cand AS (
        SELECT p.c_custkey,
               s.s_suppkey,
               (p.lat - s.lat) / 1000 * ((p.lat - s.lat) / 1000)
                   + (p.lon - s.lon) / 1000 * ((p.lon - s.lon) / 1000)
                   AS dist2_milli
        FROM probe p JOIN scell s ON s.cx = p.cx AND s.cy = p.cy
    )
    SELECT c_custkey, s_suppkey, CAST(dist2_milli AS BIGINT) AS dist2_milli
    FROM (
        SELECT c_custkey, s_suppkey, dist2_milli,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist2_milli, s_suppkey) AS rk
        FROM cand) x
    WHERE rk = 1
    ORDER BY c_custkey
    """,
    doc="Nearest supplier per customer via the GRID-BUCKETED spatial "
        f"join: coordinates quantized to micro-degree ints, bucketed "
        f"into {_GEO_CELL_DEG}-degree cells, each probe expanded to its "
        "3x3 cell neighborhood (a 9x map-side fan-out of the PROBE "
        "side only), hash-join on cell, then an exact-integer squared "
        "degree distance ((dlat/1e3)^2 + (dlon/1e3)^2, milli-degree "
        "units so the square fits int64) ranks candidates with a "
        "suppkey tiebreak. The device is what every spatial engine "
        "does under the name cell/geohash indexing: no all-pairs "
        "cross join ever exists — candidates per probe are bounded by "
        "neighborhood density, and probes whose neighborhood is empty "
        "simply return nothing (bounded search radius, the standard "
        "trade; widen the ring to escalate). Coordinates are derived "
        "deterministically from keys as the fixture stand-in for real "
        "lat/lon columns; a production variant adds a haversine "
        "DISPLAY column while ranking stays on the exact integer "
        "metric (planar ranking is order-correct at city scale and "
        "the ranking, not the metric, is what the join distributes). "
        "The 100 TB shape: both sides partial-aggregate nothing — "
        "they hash-partition by CELL, the join is local per cell, the "
        "per-probe top-1 window sees only neighborhood candidates, "
        "and skewed cells (cities) salt exactly like any hot hash "
        "key.",
)
def geo_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = _GEO_CELL_DEG * 1_000_000.0
    c_lat, c_lon = _synth_lat_lon("c_custkey", 7919, 104729)
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", c_lat.alias("lat"), c_lon.alias("lon"))
    )
    s_lat, s_lon = _synth_lat_lon("s_suppkey", 6151, 3571)
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey", s_lat.alias("slat"), s_lon.alias("slon")
    )
    scell = supp.select(
        "s_suppkey",
        "slat",
        "slon",
        F.floor(F.col("slat") / cell).cast("bigint").alias("cx"),
        F.floor(F.col("slon") / cell).cast("bigint").alias("cy"),
    )
    ring = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    probe = cust.crossJoin(F.broadcast(ring)).select(
        "c_custkey",
        "lat",
        "lon",
        (F.floor(F.col("lat") / cell).cast("bigint") + F.col("dx")).alias("cx"),
        (F.floor(F.col("lon") / cell).cast("bigint") + F.col("dy")).alias("cy"),
    )
    dlat = (F.col("lat") - F.col("slat")) / 1000
    dlon = (F.col("lon") - F.col("slon")) / 1000
    cand = probe.join(scell, ["cx", "cy"]).select(
        "c_custkey",
        "s_suppkey",
        (dlat * dlat + dlon * dlon).cast("bigint").alias("dist2_milli"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2_milli", "s_suppkey")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_custkey", "s_suppkey", "dist2_milli")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------
#
# k-core degree peeling on the customer-part bipartite graph:
# repeatedly delete nodes with degree < k, a BOUNDED number of
# rounds, reporting the survivor counts per round — the trajectory
# every graph-cleaning pass (spam/bot subgraphs, core-community
# extraction) actually inspects. Exact integer degrees; each round
# is two aggregates plus two semi-joins on the checkpointed edge
# frame.

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(prev: str, rnd: int) -> str:
    return f"""
    dc{rnd} AS (
        SELECT ck FROM (SELECT ck, count(*) AS d FROM {prev} GROUP BY ck)
        WHERE d >= {_KCORE_K}
    ),
    dp{rnd} AS (
        SELECT pk FROM (SELECT pk, count(*) AS d FROM {prev} GROUP BY pk)
        WHERE d >= {_KCORE_K}
    ),
    e{rnd} AS (
        SELECT e.ck, e.pk FROM {prev} e
        WHERE e.ck IN (SELECT ck FROM dc{rnd})
          AND e.pk IN (SELECT pk FROM dp{rnd})
    )"""


@register(
    "graph_kcore_peel",
    oracle=f"""
    WITH e0 AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    {",".join(_kcore_round_sql(f"e{r - 1}", r) for r in range(1, _KCORE_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT CAST({r} AS BIGINT) AS round,
                   CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(count(DISTINCT ck) AS BIGINT) AS n_custs,
                   CAST(count(DISTINCT pk) AS BIGINT) AS n_parts
            FROM e{r}''' for r in range(_KCORE_ROUNDS + 1))}
    ) ORDER BY round
    """,
    doc=f"k-core degree peeling (k = {_KCORE_K}, {_KCORE_ROUNDS} "
        "rounds) on the customer-part bipartite purchase graph: each "
        "round drops every node with degree < k on either side and "
        "keeps only edges between survivors, reporting the (edges, "
        "customers, parts) trajectory per round — the graph-cleaning "
        "pass behind core-community extraction and collusion/botnet "
        "triage, where the TRAJECTORY (how fast the periphery "
        "sheds) is itself the signal. Rounds are BOUNDED and "
        "deterministic — the operator is 'R peel rounds', convergence "
        "to the true k-core is a monitorable property (round R = "
        "round R-1), not an unbounded loop; exact integer degrees "
        "throughout. Spark shape: the edge frame localCheckpoints per "
        "round (the pagerank device) so each round is two partial-"
        "aggregatable degree counts plus two semi-joins, never a "
        "recomputation cascade. The 100 TB shape: edges hash-"
        "partition by node key per side; each round's shuffles move "
        "the shrinking survivor frame; R rounds = R bounded passes, "
        "the standard distributed k-core schedule.",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint()
    )

    def stats(df: DataFrame, rnd: int) -> DataFrame:
        return df.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count("*").cast("bigint").alias("n_edges"),
            F.countDistinct("ck").cast("bigint").alias("n_custs"),
            F.countDistinct("pk").cast("bigint").alias("n_parts"),
        ).select("round", "n_edges", "n_custs", "n_parts")

    out = stats(edges, 0)
    cur = edges
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep_c = (
            cur.groupBy("ck").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("ck")
        )
        keep_p = (
            cur.groupBy("pk").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("pk")
        )
        cur = (
            cur.join(keep_c, "ck", "semi")
            .join(keep_p, "pk", "semi")
            .select("ck", "pk")
            .localCheckpoint()  # each round consumed by 2 degree aggs + stats
        )
        out = out.unionAll(stats(cur, rnd))
    return out.orderBy("round")


# Float discipline (the queries module docstring): power sums, ranks,
# interval micros and cents are exact bigints; z-scores are one deterministic
# double expression over exact integers; each reported ratio is a single
# rounded IEEE division.

# ---------------------------------------------------------------------------
# Feature scaling suite
# ---------------------------------------------------------------------------
#
# ML feature scaling: the three standard normalizations (z-score,
# min-max, rank-uniform/eCDF) of a fact column, per group, in ONE
# pass each — group statistics from exact integer power sums
# broadcast back onto the rows; the rank transform is an exact
# integer rank with a pinned total order. This is the feature-prep
# stage of every tabular ML pipeline, shaped so the row-level
# transform is map-side after one stats exchange.


@register(
    "ml_feature_scaling",
    oracle="""
    WITH rows_ AS (
        SELECT l_orderkey, l_linenumber, l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY flag
                                  ORDER BY cents, l_orderkey, l_linenumber)
                   AS rk
        FROM rows_
    ),
    stats AS (
        SELECT flag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss,
               CAST(min(cents) AS BIGINT) AS mn,
               CAST(max(cents) AS BIGINT) AS mx
        FROM rows_ GROUP BY flag
    )
    SELECT r.l_orderkey, r.l_linenumber, r.flag, r.cents,
           CAST(round(1000000.0
                      * (r.cents - CAST(t.s AS DOUBLE) / t.n)
                      / sqrt((CAST(t.n AS DOUBLE) * t.ss
                              - CAST(t.s AS DOUBLE) * t.s)
                             / (CAST(t.n AS DOUBLE) * (t.n - 1.0))))
                AS BIGINT) AS z_micro,
           CAST(round(1000000.0 * (r.cents - t.mn) / (t.mx - t.mn))
                AS BIGINT) AS minmax_micro,
           CAST(round(1000000.0 * (r.rk - 1) / (t.n - 1.0)) AS BIGINT)
               AS rank_uniform_micro
    FROM ranked r JOIN stats t ON t.flag = r.flag
    """,
    doc="ML feature scaling — the three standard normalizations of "
        "extended price per return flag in one result: z-score from "
        "exact integer power sums (n, S, SS; sample std via the "
        "cross-product form n*SS - S^2, one deterministic double "
        "expression), min-max from exact integer extrema, and "
        "rank-uniform/eCDF from an exact integer rank over the PINNED "
        "total order (cents, orderkey, linenumber) so tied cents "
        "resolve identically on any engine. The 100 TB shape: the "
        "stats aggregate partial-combines map-side onto the group "
        "frame and broadcasts back, making z and min-max pure "
        "map-side transforms; ONLY the rank transform pays a "
        "per-group sort — which is the honest cost of an exact eCDF, "
        "and the documented cheap-out is the quantile-sketch "
        "approximation when 1e-6 rank precision is not required.",
)
def ml_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    ranked = rows.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("flag").orderBy(
                "cents", "l_orderkey", "l_linenumber"
            )
        ),
    )
    stats = rows.groupBy("flag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss"),
        F.min("cents").cast("bigint").alias("mn"),
        F.max("cents").cast("bigint").alias("mx"),
    )
    std = F.sqrt(
        (
            F.col("n").cast("double") * F.col("ss")
            - F.col("s").cast("double") * F.col("s")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1.0))
    )
    return ranked.join(F.broadcast(stats), "flag").select(
        "l_orderkey",
        "l_linenumber",
        "flag",
        "cents",
        F.round(
            F.lit(1_000_000.0)
            * (F.col("cents") - F.col("s").cast("double") / F.col("n"))
            / std
        )
        .cast("bigint")
        .alias("z_micro"),
        F.round(
            F.lit(1_000_000.0)
            * (F.col("cents") - F.col("mn"))
            / (F.col("mx") - F.col("mn"))
        )
        .cast("bigint")
        .alias("minmax_micro"),
        F.round(F.lit(1_000_000.0) * (F.col("rk") - 1) / (F.col("n") - 1.0))
        .cast("bigint")
        .alias("rank_uniform_micro"),
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering
# ---------------------------------------------------------------------------
#
# Item-item collaborative filtering — the classic "customers who
# bought X also bought Y" batch job: co-purchase candidate pairs
# through the CUSTOMER inverted index (pairs exist only where a
# customer bought both), Jaccard overlap of the exact customer sets
# by inclusion-exclusion, top-3 neighbors per part. The two scale
# devices are the ones production CF uses: a HOT-CUSTOMER CAP
# (customers with > K distinct parts are dropped as uninformative —
# they generate the quadratic fan-out and carry no signal) and
# integer-deterministic ranking (micro Jaccard, part-key tiebreak).

_CF_HOT_CAP = 50  # customers with more distinct parts are dropped
_CF_SAMPLE_MOD = 10  # deterministic 1-in-10 customer sample for pair gen
_CF_TOPK = 3


@register(
    "recsys_item_item_cf",
    oracle=f"""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey % {_CF_SAMPLE_MOD} = 0
    ),
    informative AS (
        SELECT ck FROM (SELECT ck, count(*) AS n FROM cp GROUP BY ck)
        WHERE n <= {_CF_HOT_CAP}
    ),
    cpi AS (
        SELECT ck, pk FROM cp WHERE ck IN (SELECT ck FROM informative)
    ),
    sizes AS (
        SELECT pk, CAST(count(*) AS BIGINT) AS n_cust FROM cpi GROUP BY pk
    ),
    inter AS (
        SELECT a.pk AS part_a, b.pk AS part_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM cpi a JOIN cpi b ON a.ck = b.ck AND a.pk <> b.pk
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.part_a, i.part_b, i.n_both,
               CAST(round(1000000.0 * i.n_both
                          / (sa.n_cust + sb.n_cust - i.n_both)) AS BIGINT)
                   AS jaccard_micro
        FROM inter i
        JOIN sizes sa ON sa.pk = i.part_a
        JOIN sizes sb ON sb.pk = i.part_b
    )
    SELECT part_a, part_b, n_both, jaccard_micro, rank FROM (
        SELECT part_a, part_b, n_both, jaccard_micro,
               row_number() OVER (PARTITION BY part_a
                                  ORDER BY jaccard_micro DESC, part_b)
                   AS rank
        FROM scored) x
    WHERE rank <= {_CF_TOPK}
    ORDER BY part_a, rank
    """,
    doc=f"Item-item collaborative filtering (top-{_CF_TOPK} neighbors "
        "per part by co-purchase Jaccard) — the 'customers who bought "
        "X also bought Y' batch job. Candidate pairs exist only "
        "through the CUSTOMER inverted index (a self-join of the "
        "deduped (customer, part) frame on customer), so the pair "
        "space is sum over customers of parts^2 — bounded by TWO "
        f"production-CF devices: a HOT-CUSTOMER CAP (> {_CF_HOT_CAP} "
        "distinct parts -> dropped as uninformative; hot customers "
        "generate the quadratic fan-out AND carry near-zero signal) "
        f"and a deterministic 1-in-{_CF_SAMPLE_MOD} customer sample "
        "(co-occurrence Jaccard over a uniform customer sample is an "
        "unbiased estimator that converges fast — production CF "
        "subsamples interactions for exactly this cost reason; "
        "measured here: the unsampled pair shuffle was 25 s at sf0.1, "
        "5x over the bench's heavy-query band). Union "
        "sizes come from inclusion-exclusion (never a second pass); "
        "Jaccard quantizes to micro BEFORE the rank window, part_b "
        "breaks ties. The 100 TB shape: the pair join hash-partitions "
        "by customer, the (a,b) aggregate partial-combines map-side, "
        "and the per-part top-k window sees only surviving candidate "
        "pairs — the same plan Amazon ran on its original item-item "
        "paper's scale.",
)
def recsys_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cp = (
        li.join(
            o.filter(F.col("o_custkey") % _CF_SAMPLE_MOD == 0),
            li.l_orderkey == o.o_orderkey,
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    informative = (
        cp.groupBy("ck")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= _CF_HOT_CAP)
        .select("ck")
    )
    cpi = cp.join(informative, "ck", "semi").localCheckpoint()
    sizes = cpi.groupBy("pk").agg(F.count("*").cast("bigint").alias("n_cust"))
    a = cpi.select("ck", F.col("pk").alias("part_a"))
    b = cpi.select("ck", F.col("pk").alias("part_b"))
    inter = (
        a.join(b, "ck")
        .filter(F.col("part_a") != F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("pk").alias("part_a"), F.col("n_cust").alias("na"))
    sb = sizes.select(F.col("pk").alias("part_b"), F.col("n_cust").alias("nb"))
    scored = (
        inter.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(
        F.col("jaccard_micro").desc(), F.col("part_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CF_TOPK)
        .select("part_a", "part_b", "n_both", "jaccard_micro", "rank")
        .orderBy("part_a", "rank")
    )


# ---------------------------------------------------------------------------
# Matched-cohort ATT
# ---------------------------------------------------------------------------
#
# Matched-cohort ATT estimate — observational causal inference's
# workhorse: each treated unit (BUILDING-segment customer) matches
# the nearest control on the account-balance covariate, with
# replacement, via the SORT-MERGE nearest-neighbor device (one
# ordered pass over the union; last/first IGNORE NULLS windows find
# the previous and next control; the nearer wins, previous on ties)
# — the same shape as the as-of join family, O(n log n) instead of
# the naive treated x control cross join. Outcomes are exact cents;
# the ATT is one rounded division.

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


# Float discipline (the queries module docstring): responsibility masses,
# weighted sums and cents are exact bigints; pdf evaluation is a per-row
# deterministic double expression rounded once; each reported parameter is a
# final rounded division.

# ---------------------------------------------------------------------------
# Gaussian-mixture EM
# ---------------------------------------------------------------------------
#
# Two-component Gaussian-mixture EM over order totals — ITERATIVE ML
# under the exact-replay discipline: the E-step responsibility is one
# deterministic double expression per row, QUANTIZED to micro before
# any aggregation, so every M-step accumulator (responsibility mass,
# weighted sums, weighted squared sums) is an EXACT bigint and the
# parameter trajectory replays identically on any engine and any
# partitioning. Three fixed iterations (the bounded-rounds device the
# k-core peel uses); initialization from exact rank picks (p25/p75)
# and power sums, never from randomness.

_EM_ITERS = 3


def _em_oracle() -> str:
    # data: order totals in hecto-dollars (exact ints); the weighted
    # second-moment accumulator r_micro * d^2 must fit int64 — hecto
    # units hold to ~sf0.1x10 (documented in the doc string)
    parts = [
        """
    WITH data AS (
        SELECT CAST(round(o_totalprice / 100) AS BIGINT) AS d,
               o_orderkey
        FROM orders
    ),
    init AS (
        SELECT
            CAST(max(CASE WHEN rk = (n + 3) // 4 THEN d END) AS DOUBLE)
                AS mu1_0,
            CAST(max(CASE WHEN rk = (3 * n + 3) // 4 THEN d END) AS DOUBLE)
                AS mu2_0,
            CAST(max(sn) AS DOUBLE) / max(n)
                - (CAST(max(s) AS DOUBLE) / max(n))
                  * (CAST(max(s) AS DOUBLE) / max(n)) AS var_0,
            0.5 AS w_0
        FROM (
            SELECT d,
                   row_number() OVER (ORDER BY d, o_orderkey) AS rk,
                   count(*) OVER () AS n,
                   sum(d) OVER () AS s,
                   sum(d * d) OVER () AS sn
            FROM data) x
    )"""
    ]
    prev = "init"
    prev_sfx = "0"
    for it in range(1, _EM_ITERS + 1):
        parts.append(f"""
    , resp{it} AS (
        SELECT data.d,
               CAST(round(1000000.0
                   * (p.w_{prev_sfx}
                      * exp(-(data.d - p.mu1_{prev_sfx})
                            * (data.d - p.mu1_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx})))
                   / (p.w_{prev_sfx}
                      * exp(-(data.d - p.mu1_{prev_sfx})
                            * (data.d - p.mu1_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx}))
                      + (1.0 - p.w_{prev_sfx})
                      * exp(-(data.d - p.mu2_{prev_sfx})
                            * (data.d - p.mu2_{prev_sfx})
                            / (2.0 * p.var_{prev_sfx})))) AS BIGINT) AS r
        FROM data CROSS JOIN {prev} p
    ),
    m{it} AS (
        SELECT CAST(sum(r) AS BIGINT) AS m1,
               CAST(sum(1000000 - r) AS BIGINT) AS m2,
               CAST(sum(r * d) AS BIGINT) AS s1,
               CAST(sum((1000000 - r) * d) AS BIGINT) AS s2,
               -- no BIGINT cast: DuckDB's sum() widens to HUGEINT on its
               -- own (exact past 1e20), mirroring the Spark side's
               -- decimal(38,0) accumulators; casting back to BIGINT would
               -- raise out-of-range at the very sf1 scale the int64
               -- overflow was measured at.  q1/q2 are only ever consumed
               -- via CAST(... AS DOUBLE) below, so HUGEINT never reaches
               -- the compared output schema.
               sum(r * d * d) AS q1,
               sum((1000000 - r) * d * d) AS q2,
               CAST(count(*) AS BIGINT) AS n
        FROM resp{it}
    ),
    it{it} AS (
        SELECT CAST(m1 AS DOUBLE) / (1000000.0 * n) AS w_{it},
               CAST(s1 AS DOUBLE) / m1 AS mu1_{it},
               CAST(s2 AS DOUBLE) / m2 AS mu2_{it},
               ((CAST(q1 AS DOUBLE) + q2) / (1000000.0 * n))
                   - (CAST(m1 AS DOUBLE) / (1000000.0 * n))
                     * (CAST(s1 AS DOUBLE) / m1)
                     * (CAST(s1 AS DOUBLE) / m1)
                   - (CAST(m2 AS DOUBLE) / (1000000.0 * n))
                     * (CAST(s2 AS DOUBLE) / m2)
                     * (CAST(s2 AS DOUBLE) / m2) AS var_{it}
        FROM m{it}
    )""")
        prev = f"it{it}"
        prev_sfx = str(it)
    selects = []
    for it in range(1, _EM_ITERS + 1):
        selects.append(
            f"""SELECT CAST({it} AS BIGINT) AS iteration,
               CAST(round(1000000.0 * w_{it}) AS BIGINT) AS w_micro,
               CAST(round(1000000.0 * mu1_{it}) AS BIGINT) AS mu1_micro,
               CAST(round(1000000.0 * mu2_{it}) AS BIGINT) AS mu2_micro,
               CAST(round(1000000.0 * var_{it}) AS BIGINT) AS var_micro
            FROM it{it}"""
        )
    parts.append(
        "SELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY iteration"
    )
    return "\n".join(parts)


@register(
    "ml_em_gaussian_mixture",
    oracle=_em_oracle(),
    doc=f"Two-component Gaussian-mixture EM over order totals "
        f"(hecto-dollars), {_EM_ITERS} fixed iterations, shared "
        "variance — iterative ML under the exact-replay discipline: "
        "initialization comes from exact p25/p75 rank picks (executed "
        "distributed via operators/ranks.exact_rank_values — only the "
        "partitions containing the target ranks sort; no global "
        "window touches the fact) and power sums from one plain "
        "aggregate (never randomness); each E-step responsibility is ONE "
        "deterministic double expression per row, QUANTIZED to micro "
        "before any aggregation, so every M-step accumulator "
        "(responsibility mass m, weighted sum S, weighted square Q, "
        "for both components) is an EXACT bigint — the parameter "
        "trajectory is partition-invariant and replays identically on "
        "any engine, which unquantized float-sum EM cannot promise. "
        "Fixed iteration count is the bounded-rounds device "
        "(convergence is monitorable: iteration k == k-1). Ceilings: "
        "r_micro * d^2 with d in hecto-dollars outgrows int64 near "
        "~1.5e6 rows — MEASURED as an overflow on the sf1 ladder — so "
        "the weighted second moments accumulate in decimal(38,0) "
        "(exact, mergeable; DuckDB's bigint sum widens to hugeint on "
        "its own), good past 1e20 rows; the narrower dials "
        "(responsibility to milli, d to kilo-dollars) remain if "
        "decimal aggregation cost ever matters. "
        "The 100 TB shape: each iteration is one scan with a "
        "broadcast 1-row parameter frame (localCheckpointed so "
        "iteration k+1 never recomputes k), all seven accumulators "
        "partial-combine map-side; k iterations = k bounded passes, "
        "the standard distributed EM schedule.",
)
def ml_em_gaussian_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = (
        table(spark, sf_dir, "orders")
        .select(
            F.round(F.col("o_totalprice") / 100).cast("bigint").alias("d"),
            "o_orderkey",
        )
        .localCheckpoint()  # scanned once per EM iteration
    )
    # Initialization without ranking the fact on one partition: the
    # power sums are a plain partial-combining aggregate, and the exact
    # p25/p75 rank picks come from operators/ranks.exact_rank_values —
    # per-partition counts + broadcast offsets locate the two target
    # ranks, and only the partitions containing them are sorted.
    p25 = lambda n: int_div(n + 3, 4)  # noqa: E731
    p75 = lambda n: int_div(3 * n + 3, 4)  # noqa: E731
    stats = data.agg(
        F.count("*").alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.col("d") * F.col("d")).alias("sn"),
    )
    picks = exact_rank_values(data, ["d", "o_orderkey"], [p25, p75], rn_col="rk")
    init = (
        picks.crossJoin(F.broadcast(stats))
        .agg(
            F.max(F.when(F.col("rk") == p25(F.col("n")), F.col("d")))
            .cast("double")
            .alias("mu1"),
            F.max(F.when(F.col("rk") == p75(F.col("n")), F.col("d")))
            .cast("double")
            .alias("mu2"),
            (
                F.max("sn").cast("double") / F.max("n")
                - (F.max("s").cast("double") / F.max("n"))
                * (F.max("s").cast("double") / F.max("n"))
            ).alias("var"),
            F.lit(0.5).alias("w"),
        )
        .localCheckpoint()
    )
    params = init
    out = None
    for it in range(1, _EM_ITERS + 1):
        joined = data.crossJoin(F.broadcast(params))
        d_, w_, mu1, mu2, var = (
            F.col("d"),
            F.col("w"),
            F.col("mu1"),
            F.col("mu2"),
            F.col("var"),
        )
        p1 = w_ * F.exp(-(d_ - mu1) * (d_ - mu1) / (2.0 * var))
        p2 = (1.0 - w_) * F.exp(-(d_ - mu2) * (d_ - mu2) / (2.0 * var))
        resp = joined.select(
            "d",
            F.round(F.lit(1_000_000.0) * p1 / (p1 + p2)).cast("bigint").alias("r"),
        )
        m = resp.agg(
            F.sum("r").cast("bigint").alias("m1"),
            F.sum(1_000_000 - F.col("r")).cast("bigint").alias("m2"),
            F.sum(F.col("r") * F.col("d")).cast("bigint").alias("s1"),
            F.sum((1_000_000 - F.col("r")) * F.col("d"))
            .cast("bigint")
            .alias("s2"),
            # the weighted second moments are the one accumulator pair
            # that outgrows int64 (r_micro * d^2 summed over ~1.5e6 rows
            # — MEASURED as an ARITHMETIC_OVERFLOW on the sf1 ladder,
            # exactly at the ceiling the docstring states): decimal(38,0)
            # sums stay exact and mergeable; DuckDB's bigint sum already
            # widens to hugeint, so the engines agree
            F.sum((F.col("r") * F.col("d") * F.col("d")).cast("decimal(38,0)"))
            .alias("q1"),
            F.sum(
                ((1_000_000 - F.col("r")) * F.col("d") * F.col("d")).cast(
                    "decimal(38,0)"
                )
            ).alias("q2"),
            F.count("*").cast("bigint").alias("n"),
        )
        w_new = F.col("m1").cast("double") / (1_000_000.0 * F.col("n"))
        mu1_new = F.col("s1").cast("double") / F.col("m1")
        mu2_new = F.col("s2").cast("double") / F.col("m2")
        var_new = (
            (F.col("q1").cast("double") + F.col("q2")) / (1_000_000.0 * F.col("n"))
            - w_new * mu1_new * mu1_new
            - (F.col("m2").cast("double") / (1_000_000.0 * F.col("n")))
            * mu2_new
            * mu2_new
        )
        params = m.select(
            w_new.alias("w"),
            mu1_new.alias("mu1"),
            mu2_new.alias("mu2"),
            var_new.alias("var"),
        ).localCheckpoint()
        row = params.select(
            F.lit(it).cast("bigint").alias("iteration"),
            F.round(F.lit(1_000_000.0) * F.col("w")).cast("bigint").alias("w_micro"),
            F.round(F.lit(1_000_000.0) * F.col("mu1"))
            .cast("bigint")
            .alias("mu1_micro"),
            F.round(F.lit(1_000_000.0) * F.col("mu2"))
            .cast("bigint")
            .alias("mu2_micro"),
            F.round(F.lit(1_000_000.0) * F.col("var"))
            .cast("bigint")
            .alias("var_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("iteration")


# feature-store build.
#
# One operator:
#
# - Customer feature-store build — the feature-engineering composition
#   every churn/LTV model consumes: one pass over orders produces the
#   classic RFM-plus features per customer (recency, tenure, frequency,
#   monetary, average inter-order gap) PLUS the temporal churn label
#   (no order in the trailing window before the snapshot), the table is
#   MATERIALIZED to parquet and read back — the feature-store
#   round trip — and the hash gate certifies the whole build. Every
#   feature is exact integer arithmetic off the derived snapshot date;
#   the only divisions are per-customer display ratios. Time-safe by
#   construction: features use the full history, the label uses only
#   the trailing window, and both derive from the same snapshot — the
#   leakage rule stated as code.
#
# Float discipline (the queries module docstring): day counts and cents
# are exact bigints; the average gap is one rounded division.

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
    out = _os.path.join(scratch_dir("feature_store"), "customer_features")
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


# Float discipline (the queries module docstring): counts and cumulative sums
# are exact bigints; sd / precision / lift are single rounded IEEE
# expressions on exact integers.

# ---------------------------------------------------------------------------
# PR curve + average precision
# ---------------------------------------------------------------------------
#
# Precision-recall curve + average precision over the document quality
# score: the threshold-sweep companion to ml_auc_rank's ROC view (PR
# is the one that matters under class imbalance).  The sweep runs on
# the DISTINCT-SCORE frame via the distributed cumsum primitive; AP is
# the standard sum(delta_TP * precision) / P with precision rounded
# once per threshold and an exact integer floor division at the end.


@register(
    "ml_pr_curve",
    oracle=f"""
    WITH scored AS (
        SELECT {SCORE_SQL} AS score,
               CASE WHEN n_chars >= {_CLS_LABEL_CHARS} THEN 1 ELSE 0 END
                   AS pos
        FROM documents
    ),
    grp AS (
        SELECT score, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS pos_g
        FROM scored GROUP BY 1
    ),
    cum AS (
        SELECT score, cnt, pos_g,
               CAST(sum(cnt) OVER (ORDER BY score DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS c_all,
               CAST(sum(pos_g) OVER (ORDER BY score DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS c_pos
        FROM grp
    ),
    tot AS (
        SELECT CAST(sum(pos_g) AS BIGINT) AS p_total FROM grp
    ),
    pts AS (
        SELECT score AS threshold, c_pos AS tp, c_all - c_pos AS fp,
               pos_g,
               CAST(round(1000000.0 * c_pos / c_all) AS BIGINT)
                   AS precision_micro,
               CAST(round(1000000.0 * c_pos / t.p_total) AS BIGINT)
                   AS recall_micro
        FROM cum CROSS JOIN tot t
    )
    SELECT threshold, tp, fp, precision_micro, recall_micro,
           CAST((SELECT sum(pos_g * precision_micro) FROM pts)
                // (SELECT p_total FROM tot) AS BIGINT) AS ap_micro
    FROM pts
    ORDER BY threshold DESC
    """,
    doc="Precision-recall curve over the document quality score "
        "(threshold sweep at every DISTINCT score, predicting positive "
        "at score >= t) plus average precision — the class-imbalance-"
        "robust companion to ml_auc_rank's ROC view, and the curve "
        "quality-filter thresholds are actually picked from. TP/FP per "
        "threshold come from running sums over the distinct-score "
        "frame, EXECUTED as one operators/ranks.global_cumsum call "
        "(two value columns share the range shuffle — no single-"
        "partition window even though distinct scores approach row "
        "cardinality); precision/recall are rounded once per point, "
        "and AP = sum(delta_TP * precision) // P is an exact integer "
        "floor division (constant column, hash-checked). The 100 TB "
        "shape: one corpus scan partial-aggregates to the score frame; "
        "everything after moves distinct-score-sized data.",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        score_micro().alias("score"),
        F.when(F.col("n_chars") >= _CLS_LABEL_CHARS, 1).otherwise(0).alias("pos"),
    )
    grp = scored.groupBy("score").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("pos").cast("bigint").alias("pos_g"),
    )
    cum = global_cumsum(
        grp, [F.col("score").desc()], ["cnt", "pos_g"], out_col=["c_all", "c_pos"]
    )
    tot = grp.agg(F.sum("pos_g").cast("bigint").alias("p_total"))
    pts = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("c_pos").alias("tp"),
        (F.col("c_all") - F.col("c_pos")).alias("fp"),
        "pos_g",
        F.round(F.lit(1_000_000.0) * F.col("c_pos") / F.col("c_all"))
        .cast("bigint")
        .alias("precision_micro"),
        F.round(F.lit(1_000_000.0) * F.col("c_pos") / F.col("p_total"))
        .cast("bigint")
        .alias("recall_micro"),
    ).localCheckpoint()  # feeds the AP fold AND the output rows
    ap = pts.agg(
        F.sum(F.col("pos_g") * F.col("precision_micro")).alias("num")
    ).crossJoin(F.broadcast(tot)).select(
        F.expr("num div p_total").cast("bigint").alias("ap_micro")
    )
    return (
        pts.crossJoin(F.broadcast(ap))
        .select(
            "threshold", "tp", "fp", "precision_micro", "recall_micro",
            "ap_micro",
        )
        .orderBy(F.col("threshold").desc())
    )


# ---------------------------------------------------------------------------
# Gains / lift table
# ---------------------------------------------------------------------------
#
# Gains / lift table (the credit-scoring classic): scores ranked
# best-first into exact deciles, cumulative capture rate and lift per
# decile, every ratio one rounded division over exact counts.


@register(
    "ml_gains_table",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {SCORE_SQL} AS score,
               CASE WHEN n_chars >= {_CLS_LABEL_CHARS} THEN 1 ELSE 0 END
                   AS pos
        FROM documents
    ),
    d AS (
        SELECT pos,
               ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM scored
    ),
    g AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM d GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               CAST(sum(n_pos) AS BIGINT) AS p_all
        FROM g
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
           CAST(round(1000000.0 * sum(n_pos) OVER (ORDER BY decile)
                      / t.p_all) AS BIGINT) AS capture_micro,
           CAST(round(1000000.0 * sum(n_pos) OVER (ORDER BY decile) * t.n_all
                      / (sum(n) OVER (ORDER BY decile) * t.p_all))
                AS BIGINT) AS lift_micro
    FROM g CROSS JOIN t
    ORDER BY decile
    """,
    doc="Gains / lift table — the credit-scoring and campaign-targeting "
        "classic: documents ranked best-score-first into 10 exact "
        "deciles (operators/ranks.exact_ntile, ties pinned by doc_id), "
        "then per decile the positive count, cumulative capture rate, "
        "and lift vs random (cum_pos * N / (cum_n * P), one rounded "
        "division of exact integers). Decile 1's lift is the headline "
        "'top 10% captures Yx its share' number; a lift that decays to "
        "1.0 by construction sanity-checks the whole ranking. The "
        "100 TB shape: one corpus scan to (score, pos) pairs, the "
        "two-pass ntile over that frame, 10-row arithmetic after "
        "(window-free triangular cumulative).",
)
def ml_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = table(spark, sf_dir, "documents").select(
        "doc_id",
        score_micro().alias("score"),
        F.when(F.col("n_chars") >= _CLS_LABEL_CHARS, 1).otherwise(0).alias("pos"),
    )
    d = exact_ntile(
        scored, [F.col("score").desc(), "doc_id"], 10, out_col="decile"
    )
    # materialized: the 10-row decile frame feeds the triangular
    # cumulative (both sides) AND the totals — unmaterialized, each
    # consumer replays the post-checkpoint ntile subtree (the
    # orders_lorenz_curve lesson; see plan_pins ledger)
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
        .localCheckpoint()
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("n_pos").cast("bigint").alias("p_all"),
    )
    cum = cum_small(g, "decile", ["n", "n_pos"])
    return (
        cum.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n",
            "n_pos",
            F.col("cum_n_pos").alias("cum_pos"),
            F.round(F.lit(1_000_000.0) * F.col("cum_n_pos") / F.col("p_all"))
            .cast("bigint")
            .alias("capture_micro"),
            F.round(
                F.lit(1_000_000.0)
                * F.col("cum_n_pos")
                * F.col("n_all")
                / (F.col("cum_n") * F.col("p_all"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("decile")
    )


# synchronous label propagation (community
# detection) over the customer-part purchase graph.
#
# The graph family has PageRank (influence), k-core (periphery shedding),
# triangle clustering (local density) and connected components (reach —
# ``dedup_components``); the missing classic is COMMUNITY structure.
# Label propagation is the standard scale algorithm for it: every node
# starts as its own label, and each synchronous round every node adopts
# the most frequent label among its neighbors.  Vanilla LPA is
# notoriously nondeterministic (random tie-breaks, random visit order);
# this implementation pins both the way the repo's float discipline pins
# arithmetic — synchronous rounds (no visit order at all) and the
# (count DESC, label ASC) tie-break — so the trajectory replays exactly
# on any engine or partitioning, and the DuckDB oracle is just the same
# R rounds unrolled.

_LPA_ROUNDS = 3
_PK_OFFSET = 10_000_000  # disjoint node-id spaces: customers vs parts


def _lpa_round_sql(rnd: int) -> str:
    prev = f"l{rnd - 1}"
    return f"""
    l{rnd} AS (
        SELECT u, lbl FROM (
            SELECT e.u, l.lbl,
                   row_number() OVER (
                       PARTITION BY e.u
                       ORDER BY count(*) DESC, l.lbl) AS rn
            FROM edges e JOIN {prev} l ON l.u = e.v
            GROUP BY e.u, l.lbl) x
        WHERE rn = 1
    )"""


def _lpa_stats_sql(rnd: int) -> str:
    return f"""SELECT CAST({rnd} AS BIGINT) AS round,
           CAST(count(DISTINCT lbl) AS BIGINT) AS n_labels,
           CAST(max(sz) AS BIGINT) AS max_community
    FROM (SELECT lbl, count(*) AS sz FROM l{rnd} GROUP BY lbl)"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH bip AS (
        SELECT DISTINCT o.o_custkey AS ck,
               l.l_partkey + {_PK_OFFSET} AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT ck AS u, pk AS v FROM bip
        UNION ALL
        SELECT pk AS u, ck AS v FROM bip
    ),
    l0 AS (SELECT DISTINCT u, u AS lbl FROM edges),
    {",".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(_lpa_stats_sql(r) for r in range(_LPA_ROUNDS + 1))}
    ) ORDER BY round
    """,
    doc=f"Synchronous label propagation ({_LPA_ROUNDS} rounds) on the "
        "customer-part purchase graph — community detection, the "
        "missing classic next to pagerank/k-core/triangles/components: "
        "every node starts as its own label; each round every node "
        "adopts its neighbors' most frequent label with the FULLY "
        "PINNED (count DESC, label ASC) tie-break, so the normally "
        "nondeterministic algorithm replays exactly on both engines. "
        "Reports the (distinct labels, largest community) trajectory "
        "per round — the convergence curve IS the diagnostic (a "
        "collapsing label count means one giant community; a plateau "
        "means real modular structure). Spark shape: the edge frame "
        "localCheckpoints once, each round is one shuffled label join "
        "keyed by node + one (node, label) partial-combining count + "
        "one window PARTITIONED by node (never global), checkpointed "
        "before the next round — the pagerank iteration discipline. "
        "The 100 TB shape: rounds are bounded (R passes), every "
        "shuffle is keyed by node id, label state is one row per node, "
        "and the hot-label skew AQE-balances because the count "
        "aggregate partial-combines map-side.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bip = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("ck"),
            (F.col("l_partkey") + _PK_OFFSET).alias("pk"),
        )
        .distinct()
    )
    edges = (
        bip.select(F.col("ck").alias("u"), F.col("pk").alias("v"))
        .unionAll(bip.select(F.col("pk").alias("u"), F.col("ck").alias("v")))
        .localCheckpoint()  # read once per round
    )
    labels = edges.select("u").distinct().select("u", F.col("u").alias("lbl"))

    def stats(lbls: DataFrame, rnd: int) -> DataFrame:
        sizes = lbls.groupBy("lbl").agg(F.count("*").alias("sz"))
        return sizes.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count("*").cast("bigint").alias("n_labels"),
            F.max("sz").cast("bigint").alias("max_community"),
        ).select("round", "n_labels", "max_community")

    labels = labels.localCheckpoint()  # feeds round-0 stats AND round 1
    out = stats(labels, 0)
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("lbl"))
    for rnd in range(1, _LPA_ROUNDS + 1):
        labels = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("u", "lbl")
            .localCheckpoint()  # feeds this round's stats AND the next round
        )
        out = out.unionAll(stats(labels, rnd))
    return out.orderBy("round")


# Qini curve — the uplift-modeling evaluation.
#
# ``ml_gains_table`` grades a RESPONSE model (who converts); a Qini curve
# grades an UPLIFT model (who converts BECAUSE OF the treatment) — the
# number that decides whether a targeting policy beats blanket rollout.
# With users ranked by the model's score into exact deciles, the Qini
# value at depth k is the cumulative treated conversions minus the
# control conversions scaled to the treated exposure:
# ``Q(k) = conv_t(k) - conv_c(k) * n_t(k) / n_c(k)``.  A model with no
# signal gives a flat line; the area under the curve is the standard
# uplift metric.
#
# Determinism discipline: treatment assignment is the user-id parity
# (the repo's deterministic A/B device, cf. events_ab_test_ztest/CUPED),
# the outcome is the exact purchase-event count, the score is the exact
# click count, decile membership is operators/ranks.exact_ntile with
# (score DESC, user_id) pinned ties, and the single float — the exposure
# scaling — is one double expression of exact bigints rounded once to
# micro, identical on both engines.

_QINI_K = 10


@register(
    "ml_uplift_qini",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS treated,
               CAST(count(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS score,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS conv
        FROM events GROUP BY 1
    ),
    d AS (
        SELECT treated, conv,
               ntile({_QINI_K}) OVER (ORDER BY score DESC, user_id) AS decile
        FROM u
    ),
    g AS (
        SELECT decile,
               CAST(count(*) FILTER (WHERE treated = 1) AS BIGINT) AS n_t,
               CAST(count(*) FILTER (WHERE treated = 0) AS BIGINT) AS n_c,
               CAST(coalesce(sum(conv) FILTER (WHERE treated = 1), 0)
                    AS BIGINT) AS conv_t,
               CAST(coalesce(sum(conv) FILTER (WHERE treated = 0), 0)
                    AS BIGINT) AS conv_c
        FROM d GROUP BY 1
    ),
    c AS (
        SELECT CAST(decile AS BIGINT) AS decile, n_t, n_c,
               CAST(sum(n_t) OVER w AS BIGINT) AS cum_n_t,
               CAST(sum(n_c) OVER w AS BIGINT) AS cum_n_c,
               CAST(sum(conv_t) OVER w AS BIGINT) AS cum_conv_t,
               CAST(sum(conv_c) OVER w AS BIGINT) AS cum_conv_c
        FROM g WINDOW w AS (ORDER BY decile)
    )
    SELECT decile, n_t, n_c, cum_conv_t, cum_conv_c,
           CASE WHEN cum_n_c = 0 THEN NULL
                ELSE CAST(round(1000000.0 * (cum_conv_t
                          - 1.0 * cum_conv_c * cum_n_t / cum_n_c))
                     AS BIGINT) END AS qini_micro
    FROM c ORDER BY decile
    """,
    doc=f"Qini curve in {_QINI_K} exact deciles — the uplift-modeling "
        "evaluation (gains_table grades response; this grades "
        "INCREMENTAL response vs the parity-assigned control): users "
        "rank by exact click count (ties pinned by user_id) via "
        "operators/ranks.exact_ntile, and each cumulative depth "
        "reports treated conversions minus control conversions scaled "
        "to treated exposure, rounded once to micro. The decile frame "
        "is MATERIALIZED before the window-free triangular cumulative "
        "(the lorenz/gains replay lesson, applied from birth). The "
        "100 TB shape: events collapse to the user dim in one "
        "partial-combining exchange, the ntile pass is two parallel "
        "shuffles of that dim, and everything after is 10-row "
        "arithmetic.",
)
def ml_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count_if(F.col("event_type") == "click")
            .cast("bigint")
            .alias("score"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("bigint")
            .alias("conv"),
        )
        .select(
            "user_id",
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            "score",
            "conv",
        )
    )
    d = exact_ntile(
        u, [F.col("score").desc(), "user_id"], _QINI_K, out_col="decile"
    )
    g = (
        d.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count_if(F.col("treated") == 1).cast("bigint").alias("n_t"),
            F.count_if(F.col("treated") == 0).cast("bigint").alias("n_c"),
            F.coalesce(
                F.sum(F.when(F.col("treated") == 1, F.col("conv"))), F.lit(0)
            )
            .cast("bigint")
            .alias("conv_t"),
            F.coalesce(
                F.sum(F.when(F.col("treated") == 0, F.col("conv"))), F.lit(0)
            )
            .cast("bigint")
            .alias("conv_c"),
        )
        .localCheckpoint()  # feeds both sides of the triangular cumulative
    )
    cum = cum_small(g, "decile", ["n_t", "n_c", "conv_t", "conv_c"])
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        F.col("cum_conv_t"),
        F.col("cum_conv_c"),
        F.when(F.col("cum_n_c") == 0, F.lit(None).cast("bigint"))
        .otherwise(
            F.round(
                F.lit(1_000_000.0)
                * (
                    F.col("cum_conv_t")
                    - F.lit(1.0)
                    * F.col("cum_conv_c")
                    * F.col("cum_n_t")
                    / F.col("cum_n_c")
                )
            ).cast("bigint")
        )
        .alias("qini_micro"),
    ).orderBy("decile")


# 2-D grid containment join — points in
# rectangular geofences.
#
# ``operators/rangejoin`` handled the 1-D axis (point-in-interval,
# interval-overlap); this lifts it to the plane: each point maps to one
# ``(floor(x/cell), floor(y/cell))`` grid cell, each axis-aligned
# rectangle explodes to the cells it covers, and the equi-join on the
# cell pair meets a matching pair in exactly one cell (the point's) —
# the geohash/S2-cell device behind every spatial containment join at
# scale, with the same no-post-join-dedup property as the 1-D binned
# forms.
#
# Fixture: the deterministic synthetic coordinates the geo family
# already uses (``_synth_lat_lon`` — key-salted micro-degree
# ints), with every 2nd supplier owning a rectangular service area whose
# half-sides derive from its key.  The oracle is the naive bounds join —
# the grid rewrite must reproduce it exactly.

_GEO_CELL = 5_000_000  # 5 degrees in micro-degrees


def _rect_bounds_sql(key: str) -> str:
    """Supplier service rectangles in SQL: center = salted synth coords,
    half-sides 4-20 degrees (lon) / 2.5-17.5 degrees (lat) from the key."""
    lat = f"(CAST(({key} * 6151) % 16000 AS BIGINT) * 10000 - 80000000)"
    lon = f"(CAST(({key} * 104729) % 36000 AS BIGINT) * 10000 - 180000000)"
    hw = f"(({key} % 5 + 1) * 4000000)"
    hh = f"(({key} % 7 + 1) * 2500000)"
    return (
        f"{lat} - {hh} AS lat_lo, {lat} + {hh} AS lat_hi, "
        f"{lon} - {hw} AS lon_lo, {lon} + {hw} AS lon_hi"
    )


@register(
    "geo_point_in_rect_join",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               CAST((c_custkey * 7919) % 16000 AS BIGINT) * 10000
                   - 80000000 AS lat,
               CAST((c_custkey * 104729) % 36000 AS BIGINT) * 10000
                   - 180000000 AS lon
        FROM customer
    ),
    supp AS (
        SELECT s_suppkey, {_rect_bounds_sql('s_suppkey')}
        FROM supplier WHERE s_suppkey % 2 = 0
    )
    SELECT s.s_suppkey AS supp_key,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(c.c_custkey) AS BIGINT) AS custkey_sum
    FROM supp s JOIN cust c
      ON c.lat BETWEEN s.lat_lo AND s.lat_hi
     AND c.lon BETWEEN s.lon_lo AND s.lon_hi
    GROUP BY 1 ORDER BY 1
    """,
    doc="2-D grid containment join (operators/rangejoin."
        "grid_containment_join): every 2nd supplier owns a rectangular "
        "service area (key-salted center, 4-20 degree half-widths); each "
        "customer point maps to ONE 5-degree grid cell, each "
        "rectangle explodes to its covered cell cross-product, and the "
        "(cellx, celly) equi-join meets each matching pair in exactly "
        "one cell — the geohash/S2 pattern, no post-join dedup. The "
        "oracle is the naive bounds join the grid form must reproduce "
        "exactly. Output: per-supplier contained-point count + custkey "
        "checksum. The 100 TB shape: the nested-loop a naive spatial "
        "join would plan becomes an ordinary shuffled equi-join on "
        "cell ids that partitions/AQE-balances like any other; cost = "
        "|points| + sum((w/cell+1)*(h/cell+1)) join rows with the cell "
        "size the measured 1-D trade (SCALE_GROWTH.md) squared.",
)
def geo_point_in_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    lat, lon = _synth_lat_lon("c_custkey", 7919, 104729)
    pts = cust.select(
        "c_custkey", lat.alias("lat"), lon.alias("lon")
    )
    supp = table(spark, sf_dir, "supplier").where(F.col("s_suppkey") % 2 == 0)
    slat, slon = _synth_lat_lon("s_suppkey", 6151, 104729)
    hw = (F.col("s_suppkey") % 5 + 1).cast("bigint") * 4_000_000
    hh = (F.col("s_suppkey") % 7 + 1).cast("bigint") * 2_500_000
    rects = supp.select(
        "s_suppkey",
        (slat - hh).alias("lat_lo"),
        (slat + hh).alias("lat_hi"),
        (slon - hw).alias("lon_lo"),
        (slon + hw).alias("lon_hi"),
    )
    joined = grid_containment_join(
        pts,
        rects,
        x_col="lat",
        y_col="lon",
        x_lo="lat_lo",
        x_hi="lat_hi",
        y_lo="lon_lo",
        y_hi="lon_hi",
        cell=_GEO_CELL,
    )
    return (
        joined.groupBy(F.col("s_suppkey").alias("supp_key"))
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum("c_custkey").cast("bigint").alias("custkey_sum"),
        )
        .orderBy("supp_key")
    )
