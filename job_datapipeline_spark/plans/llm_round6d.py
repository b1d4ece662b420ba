"""Round-6 fourth batch: PR curve / average precision, score gains
table, Neyman sampling allocation, JSON-lines sink round trip.

Four more named operators:

- Precision-recall curve + average precision over the document quality
  score: the threshold-sweep companion to ml_auc_rank's ROC view (PR
  is the one that matters under class imbalance).  The sweep runs on
  the DISTINCT-SCORE frame via the distributed cumsum primitive; AP is
  the standard sum(delta_TP * precision) / P with precision rounded
  once per threshold and an exact integer floor division at the end.
- Gains / lift table (the credit-scoring classic): scores ranked
  best-first into exact deciles, cumulative capture rate and lift per
  decile, every ratio one rounded division over exact counts.
- Neyman (optimal) stratified-sampling allocation: per-language sample
  sizes proportional to N_h * sd_h for a fixed budget — the
  variance-minimizing design every survey/eval sampler should use
  instead of proportional allocation; power sums exact, sd and the
  allocation each a single rounded IEEE expression.
- JSON-lines sink round trip (S10/S12 pattern, fourth format):
  status-partitioned write with a NESTED struct column, schema-pinned
  read-back, aggregate — proving bigint/double/timestamp/struct
  fidelity through Spark's JSON writer/reader pair.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline (plans/queries.py header): counts and
cumulative sums are exact bigints; sd / precision / lift are single
rounded IEEE expressions on exact integers.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_ntile, global_cumsum
from .queries import _scratch_dir
from .registry import register
from .llm_round5d import _SCORE_SQL, _score_micro
from .llm_round5e import _CLS_LABEL_CHARS
from .llm_round6 import _cum_small

# ---------------------------------------------------------------------------
# PR curve + average precision
# ---------------------------------------------------------------------------


@register(
    "ml_pr_curve",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS score,
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
        _score_micro().alias("score"),
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


@register(
    "ml_gains_table",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_SCORE_SQL} AS score,
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
        _score_micro().alias("score"),
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
    cum = _cum_small(g, "decile", ["n", "n_pos"])
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


# ---------------------------------------------------------------------------
# Neyman allocation
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


@register(
    "corpus_neyman_allocation",
    oracle=f"""
    WITH dt AS (
        SELECT lang,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS ntok
        FROM documents
    ),
    stats AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS s,
               CAST(sum(ntok * ntok) AS BIGINT) AS ss
        FROM dt GROUP BY 1
    ),
    sd AS (
        SELECT lang, n_docs,
               CASE WHEN n_docs > 1
                    THEN sqrt((n_docs * 1.0 * ss - s * 1.0 * s)
                              / (n_docs * 1.0 * (n_docs - 1)))
                    ELSE 0.0 END AS sd
        FROM stats
    ),
    tot AS (SELECT sum(n_docs * sd) AS w FROM sd)
    SELECT lang, n_docs,
           CAST(round(1000000.0 * sd) AS BIGINT) AS sd_micro,
           CAST(round({_NEYMAN_BUDGET} * n_docs * sd / t.w) AS BIGINT)
               AS alloc_docs
    FROM sd CROSS JOIN tot t
    ORDER BY lang
    """,
    doc=f"Neyman (optimal) stratified-sampling allocation: for a fixed "
        f"budget of {_NEYMAN_BUDGET} sampled documents, each language "
        "stratum gets n_h proportional to N_h * sd_h of its token-count "
        "distribution — the variance-minimizing design (vs proportional "
        "allocation, which over-samples homogeneous strata; the formal "
        "reason eval sets should over-represent high-variance "
        "languages). Power sums are exact bigints; sd_h and the "
        "allocation are each ONE deterministic IEEE expression rounded "
        "once (independent rounding per stratum — the report shows the "
        "raw allocations; a caller needing an exact-sum budget applies "
        "largest-remainder on these integers). Single-doc strata pin "
        "sd=0 (unplannable variance contributes nothing, the ABC-XYZ "
        "convention). The 100 TB shape: one partial-combining rollup "
        "to the language frame; everything after is |langs|-row "
        "arithmetic with a broadcast 1-row total.",
)
def corpus_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.trim(F.lower("text")), r"\s+"))
        .cast("bigint")
        .alias("ntok"),
    )
    stats = dt.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("s"),
        F.sum(F.col("ntok") * F.col("ntok")).cast("bigint").alias("ss"),
    )
    sd = stats.select(
        "lang",
        "n_docs",
        F.when(
            F.col("n_docs") > 1,
            F.sqrt(
                (F.col("n_docs") * 1.0 * F.col("ss") - F.col("s") * 1.0 * F.col("s"))
                / (F.col("n_docs") * 1.0 * (F.col("n_docs") - 1))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("sd"),
    )
    tot = sd.agg(F.sum(F.col("n_docs") * F.col("sd")).alias("w"))
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(F.lit(1_000_000.0) * F.col("sd")).cast("bigint").alias("sd_micro"),
            F.round(F.lit(_NEYMAN_BUDGET) * F.col("n_docs") * F.col("sd") / F.col("w"))
            .cast("bigint")
            .alias("alloc_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# JSON-lines sink round trip
# ---------------------------------------------------------------------------


@register(
    "sink_roundtrip_jsonl",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(o_orderdate) AS VARCHAR) AS first_date,
           min(o_orderpriority) AS first_priority
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="JSON-lines sink + read-back round trip (S10/S12 pattern, "
        "fourth format after parquet/CSV/ORC): orders written "
        "status-partitioned as JSONL with a NESTED struct column "
        "(priority + exact cents), read back with the PINNED schema "
        "(schema-on-read is where JSON pipelines silently corrupt "
        "types — floats for bigints, strings for timestamps; pinning "
        "the read schema is the defense this query certifies), then "
        "aggregated from the nested fields. Matching the oracle "
        "computed straight from the source parquet proves bigint/"
        "double/timestamp/struct fidelity through the JSON writer/"
        "reader AND the partition-column recovery. The 100 TB shape: "
        "map-side write, partition-pruned read; JSONL is the "
        "interchange format for every crawler/labeling tool upstream "
        "of a training pipeline, which is why the typed round trip "
        "deserves a certificate.",
)
def sink_roundtrip_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _os.path.join(_scratch_dir("jsonl_rt"), "orders_jsonl")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderdate",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        ).alias("meta"),
    )
    orders.write.partitionBy("o_orderstatus").mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderdate timestamp, "
        "meta struct<priority:string,cents:bigint>, o_orderstatus string"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("meta.cents").cast("bigint").alias("sum_cents"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.min("meta.priority").alias("first_priority"),
    )
