"""Round-5 eighth batch: classifier calibration (ECE), Markov
transition matrix, RFM segmentation, cohort LTV.

Four more named operators:

- Calibration curve + expected calibration error (Naeini et al. 2015):
  fixed-width confidence buckets, per-bucket observed positive rate vs
  mean confidence, and ECE = sum_b (n_b / N) * |acc_b - conf_b| —
  completing the ML-evaluation trio (ml_classification_metrics gives
  the thresholded view, ml_auc_rank the ranking view, this the
  probability-quality view a score needs before it can gate data).
- First-order Markov transition matrix over per-user event sequences —
  the clickstream model behind next-action prediction and funnel
  anomaly detection: P(next | current) from one lag window.
- RFM segmentation (recency / frequency / monetary quintiles) — the
  classic customer-analytics operator, with fully pinned ntile ties.
- Cohort LTV: cumulative revenue per signup cohort x months-since-
  first-order — the money twin of events_retention_cohorts.

Reference parity: none of this exists in the reference pipeline
(glassdoor-scraper/src/main.py); the batch extends the ML-evaluation
and business-analytics surfaces of the 100 TB scope. Float discipline
(plans/queries.py header): counts/cents are exact bigints; per-bucket
ratios round to micro-units immediately; ECE composes from the
already-rounded bucket stats so the fold is exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import exact_ntile
from .registry import register
from .llm_round5d import _SCORE_SQL, _score_micro

# ---------------------------------------------------------------------------
# Calibration + ECE
# ---------------------------------------------------------------------------

_CAL_LABEL_CHARS = 300
_CAL_BUCKET_MICRO = 100_000  # fixed-width confidence buckets (deciles of [0,1])


@register(
    "ml_calibration_ece",
    oracle=f"""
    WITH scored AS (
        SELECT {_SCORE_SQL} AS conf,
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
        _score_micro().alias("conf"),
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
# Markov transition matrix
# ---------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT cur, nxt, count(*) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    outgoing AS (
        SELECT cur, CAST(sum(n) AS BIGINT) AS total FROM trans GROUP BY cur
    )
    SELECT t.cur, t.nxt, t.n,
           CAST(round(1000000.0 * t.n / o.total) AS BIGINT) AS prob_micro
    FROM trans t JOIN outgoing o ON o.cur = t.cur
    ORDER BY t.cur, t.nxt
    """,
    doc="First-order Markov transition matrix over per-user event "
        "sequences: order each user's events by (ts, event_id) — the "
        "pinned tiebreak — take (current, next) pairs from one lead "
        "window, and report transition counts plus P(next | current) in "
        "micro-units. This is the clickstream model behind next-action "
        "prediction, funnel-shortcut detection, and bot identification "
        "(a user whose empirical transitions diverge from the matrix — "
        "feed this to corpus_psi_drift's device — is anomalous). The "
        "100 TB shape: ONE hash shuffle on user_id serves the sequence "
        "window (the same partitioning sessionization uses), the "
        "transition aggregate partial-combines onto the event-type^2 "
        "frame (bounded vocabulary), and the marginal join broadcasts. "
        "Counts are exact; each probability is one IEEE division "
        "rounded immediately.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds the marginals AND the final join
    )
    outgoing = trans.groupBy("cur").agg(F.sum("n").cast("bigint").alias("total"))
    return (
        trans.join(F.broadcast(outgoing), "cur")
        .select(
            "cur",
            "nxt",
            "n",
            F.round(F.lit(1_000_000.0) * F.col("n") / F.col("total"))
            .cast("bigint")
            .alias("prob_micro"),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


@register(
    "orders_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    per_cust AS (
        SELECT o_custkey AS k,
               datediff('day', max(o_orderdate), (SELECT mx FROM anchor))
                   AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT k,
               ntile(5) OVER (ORDER BY recency_days DESC, k) AS r_score,
               ntile(5) OVER (ORDER BY frequency, k) AS f_score,
               ntile(5) OVER (ORDER BY monetary_cents, k) AS m_score
        FROM per_cust
    )
    SELECT CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
               AS rfm_segment,
           count(*) AS n_customers,
           CAST(min(k) AS BIGINT) AS example_customer
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
    doc="RFM segmentation — the classic customer-analytics operator: "
        "per customer, recency (days from last order to the corpus "
        "anchor), frequency (order count), monetary (exact cents), each "
        "scored into quintiles by ntile(5) with FULLY PINNED ties "
        "(recency orders DESC so quintile 5 = most recent, all three "
        "break ties by customer key), composed into the familiar "
        "3-digit segment (555 = best). Output is the segment census. "
        "The 100 TB shape: one partial-aggregatable rollup collapses "
        "the fact table to the customer frame; each quintile EXECUTES "
        "as operators/ranks.exact_ntile — distributed row numbers "
        "(range partition + partitioned window + broadcast prefix "
        "offsets) turned into the exact SQL NTILE fill with a "
        "broadcast 1-row total — so no score moves the customer frame "
        "to a single partition. The 1-row anchor is a broadcast "
        "scalar, not a correlated re-scan.",
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .localCheckpoint()  # feeds the anchor AND the scoring windows
    )
    anchor = per_cust.agg(F.max("last_order").alias("mx"))
    base = (
        per_cust.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("mx", "last_order"))
        .select("k", "recency_days", "frequency", "monetary_cents")
    )
    scored = exact_ntile(
        exact_ntile(
            exact_ntile(
                base,
                [F.col("recency_days").desc(), "k"],
                5,
                out_col="r_score",
            ),
            ["frequency", "k"],
            5,
            out_col="f_score",
        ),
        ["monetary_cents", "k"],
        5,
        out_col="m_score",
    ).select("k", "r_score", "f_score", "m_score")
    return (
        scored.groupBy(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            )
            .cast("bigint")
            .alias("rfm_segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.min("k").cast("bigint").alias("example_customer"),
        )
        .orderBy("rfm_segment")
    )


# ---------------------------------------------------------------------------
# Cohort LTV
# ---------------------------------------------------------------------------


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey AS k, date_trunc('month', min(o_orderdate)) AS cohort
        FROM orders GROUP BY o_custkey
    ),
    cells AS (
        SELECT f.cohort,
               (year(o.o_orderdate) - year(f.cohort)) * 12
                   + (month(o.o_orderdate) - month(f.cohort)) AS month_idx,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON f.k = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort, CAST(month_idx AS BIGINT)
               AS month_idx, cents,
           CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY month_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_ltv_cents
    FROM cells
    ORDER BY cohort, month_idx
    """,
    doc="Cohort LTV: cumulative revenue per signup cohort (month of "
        "first order) x months-since-first-order — the money twin of "
        "events_retention_cohorts, and the matrix every growth "
        "dashboard draws. Month arithmetic is integer (year*12+month "
        "difference — no date subtraction ambiguity across engines); "
        "revenue is exact cents; the running LTV is an integer window "
        "cumsum per cohort. The 100 TB shape: the first-order frame is "
        "one partial-aggregatable rollup to the customer dimension, "
        "joined back to the fact on its key (co-partitioned at "
        "warehouse layout, the S10 bucketing), the cell aggregate "
        "collapses to cohorts x months (bounded by the calendar "
        "squared), and the cumsum window runs on that bounded frame — "
        "raw orders are scanned twice (rollup + join side) or once "
        "with the documented two-output form.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ).localCheckpoint()  # one fact scan feeds the rollup AND the join side
    firsts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    cells = (
        orders.join(firsts, orders.o_custkey == firsts.k)
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).alias("month_idx"),
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        F.col("month_idx").cast("bigint").alias("month_idx"),
        "cents",
        F.sum("cents").over(w).cast("bigint").alias("cum_ltv_cents"),
    ).orderBy("cohort", "month_idx")
