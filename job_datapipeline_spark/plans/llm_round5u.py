"""Round-5 twenty-first batch: price waterfall, supplier scorecard,
attribution model comparison.

Three more named operators:

- Pocket-price waterfall: the pricing-analytics decomposition gross
  -> discount -> net -> tax -> pocket, per brand, every term an
  EXACT per-line cent quantity (discount and tax amounts round to
  cents per line item, the way invoices actually do) with leakage
  ratios as final rounded divisions.
- Supplier scorecard: the composite vendor ranking every procurement
  team maintains — three metrics (volume, revenue, cycle speed) each
  normalized to an exact rank-uniform score (the ml_feature_scaling
  device), combined with pinned 40/30/30 weights into an integer
  composite, top-10 reported with deterministic ties.
- Attribution model comparison: first-touch vs last-touch credit for
  each purchase, assigned to the nearest preceding non-purchase
  event (the IGNORE NULLS window device over the pinned per-user
  event order), reported as credits per (model, channel) — the
  marketing-analytics staple that shows how much the model choice
  alone moves budget.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): cents, ranks
and credits are exact bigints; each reported ratio is a single
rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.ranks import global_row_number
from .registry import register

# ---------------------------------------------------------------------------
# Price waterfall
# ---------------------------------------------------------------------------


@register(
    "orders_price_waterfall",
    oracle="""
    WITH lines AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS gross,
               CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)
                   AS disc,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * l.l_tax
                          * 100) AS BIGINT) AS tax
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(gross) AS BIGINT) AS gross_cents,
           CAST(sum(disc) AS BIGINT) AS discount_cents,
           CAST(sum(gross) - sum(disc) AS BIGINT) AS net_cents,
           CAST(sum(tax) AS BIGINT) AS tax_cents,
           CAST(sum(gross) - sum(disc) - sum(tax) AS BIGINT) AS pocket_cents,
           CAST(round(1000000.0 * sum(disc) / sum(gross)) AS BIGINT)
               AS discount_leakage_micro,
           CAST(round(1000000.0 * (sum(gross) - sum(disc) - sum(tax))
                      / sum(gross)) AS BIGINT) AS pocket_ratio_micro
    FROM lines
    GROUP BY brand ORDER BY brand
    """,
    doc="Pocket-price waterfall per brand — the pricing-analytics "
        "decomposition gross -> discount -> net -> tax -> pocket that "
        "quantifies where list revenue leaks before it lands: every "
        "term is an EXACT per-line cent quantity (discount and tax "
        "amounts round to cents PER LINE ITEM, exactly as invoices "
        "do — summing floats and rounding once would disagree with "
        "the billing system at scale), net and pocket are pure "
        "integer differences, and the leakage/pocket ratios are one "
        "rounded division each. The 100 TB shape: the part dim "
        "broadcasts, the per-line arithmetic is map-side, and the "
        "aggregate partial-combines onto the brand frame — one scan, "
        "one small exchange.",
)
def orders_price_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("gross"),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
        .cast("bigint")
        .alias("disc"),
        F.round(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * F.col("l_tax")
            * 100
        )
        .cast("bigint")
        .alias("tax"),
    )
    g = F.sum("gross").cast("bigint")
    d = F.sum("disc").cast("bigint")
    t = F.sum("tax").cast("bigint")
    return (
        lines.groupBy("brand")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            g.alias("gross_cents"),
            d.alias("discount_cents"),
            (g - d).alias("net_cents"),
            t.alias("tax_cents"),
            (g - d - t).alias("pocket_cents"),
            F.round(F.lit(1_000_000.0) * d / g)
            .cast("bigint")
            .alias("discount_leakage_micro"),
            F.round(F.lit(1_000_000.0) * (g - d - t) / g)
            .cast("bigint")
            .alias("pocket_ratio_micro"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Supplier scorecard
# ---------------------------------------------------------------------------

# pinned weights (percent): volume 40, revenue 30, speed 30
_SCORE_W_VOLUME = 40
_SCORE_W_REVENUE = 30
_SCORE_W_SPEED = 30
_SCORE_TOPK = 10


@register(
    "supplier_scorecard",
    oracle=f"""
    WITH metrics AS (
        SELECT l.l_suppkey AS sk,
               CAST(count(*) AS BIGINT) AS volume,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue,
               CAST(sum(date_diff('day', CAST(o.o_orderdate AS DATE),
                                  CAST(l.l_shipdate AS DATE))) AS BIGINT)
                   AS cycle_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    ),
    ranked AS (
        SELECT sk, volume, revenue,
               row_number() OVER (ORDER BY volume, sk) AS r_vol,
               row_number() OVER (ORDER BY revenue, sk) AS r_rev,
               -- speed: LOWER total cycle days is better -> rank descending
               row_number() OVER (ORDER BY cycle_days DESC, sk) AS r_spd,
               count(*) OVER () AS n
        FROM metrics
    ),
    scored AS (
        SELECT sk, volume, revenue,
               CAST({_SCORE_W_VOLUME} * round(1000000.0 * (r_vol - 1)
                                              / (n - 1))
                    + {_SCORE_W_REVENUE} * round(1000000.0 * (r_rev - 1)
                                                 / (n - 1))
                    + {_SCORE_W_SPEED} * round(1000000.0 * (r_spd - 1)
                                               / (n - 1)) AS BIGINT)
                   AS composite
        FROM ranked
    )
    SELECT rank, sk AS suppkey, volume, revenue, composite FROM (
        SELECT sk, volume, revenue, composite,
               row_number() OVER (ORDER BY composite DESC, sk) AS rank
        FROM scored) x
    WHERE rank <= {_SCORE_TOPK}
    ORDER BY rank
    """,
    doc="Supplier scorecard — the composite vendor ranking every "
        "procurement team maintains: three metrics (line volume, "
        "cent-exact revenue, cycle speed where FEWER total ship days "
        "rank higher) each normalized to the exact rank-uniform "
        "score over the pinned (metric, suppkey) order (the "
        "ml_feature_scaling device — distribution-free, so one "
        f"metric's fat tail cannot drown the others), combined with "
        f"pinned {_SCORE_W_VOLUME}/{_SCORE_W_REVENUE}/{_SCORE_W_SPEED} "
        "weights into an integer composite (each normalized score is "
        "rounded ONCE to micro, then weighted and summed as exact "
        f"bigints), top-{_SCORE_TOPK} reported with suppkey ties. The "
        "100 TB shape: one co-partitioned fact join, one partial-"
        "aggregatable metric rollup onto the supplier dim frame, "
        "three rank windows over that DIM-sized frame, and a "
        "TakeOrderedAndProject for the top-k — the fact is touched "
        "once.",
)
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    metrics = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("sk"))
        .agg(
            F.count("*").cast("bigint").alias("volume"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue"),
            F.sum(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.col("o_orderdate").cast("date"),
                )
            )
            .cast("bigint")
            .alias("cycle_days"),
        )
    )
    # Three percentile ranks over the supplier dimension — a frame that
    # grows with the data — so each executes as operators/ranks.
    # global_row_number (range partition + partitioned window + broadcast
    # offsets), chained so the first call's pinned frame feeds the next
    # two and the count; no single-partition window touches the dim.
    m = metrics.select("sk", "volume", "revenue", "cycle_days")
    m = global_row_number(m, ["volume", "sk"], rn_col="r_vol")
    m = global_row_number(m, ["revenue", "sk"], rn_col="r_rev")
    m = global_row_number(
        m, [F.col("cycle_days").desc(), "sk"], rn_col="r_spd"
    )
    n_row = m.agg(F.count("*").alias("n"))
    ranked = m.crossJoin(F.broadcast(n_row)).select(
        "sk", "volume", "revenue", "r_vol", "r_rev", "r_spd", "n"
    )

    def uniform(r):
        return F.round(F.lit(1_000_000.0) * (r - 1) / (F.col("n") - 1))

    scored = ranked.select(
        "sk",
        "volume",
        "revenue",
        (
            _SCORE_W_VOLUME * uniform(F.col("r_vol"))
            + _SCORE_W_REVENUE * uniform(F.col("r_rev"))
            + _SCORE_W_SPEED * uniform(F.col("r_spd"))
        )
        .cast("bigint")
        .alias("composite"),
    )
    # Global top-k: sort-limit compiles to TakeOrderedAndProject (each
    # partition keeps k, the driver merges k) — never a full sort; the
    # rank label is then assigned on the k-row survivor frame.
    topk = scored.orderBy(F.col("composite").desc(), "sk").limit(_SCORE_TOPK)
    return (
        global_row_number(
            topk, [F.col("composite").desc(), "sk"], rn_col="rank"
        )
        .select(
            "rank",
            F.col("sk").alias("suppkey"),
            "volume",
            "revenue",
            "composite",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Attribution model comparison
# ---------------------------------------------------------------------------


@register(
    "events_attribution_models",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, ts,
               first_value(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS first_touch,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    ),
    credits AS (
        SELECT 'first_touch' AS model,
               coalesce(first_touch, '(none)') AS channel
        FROM ordered WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'last_touch', coalesce(last_touch, '(none)')
        FROM ordered WHERE event_type = 'purchase'
    )
    SELECT model, channel, CAST(count(*) AS BIGINT) AS credits
    FROM credits
    GROUP BY 1, 2 ORDER BY model, channel
    """,
    doc="Attribution model comparison — first-touch vs last-touch "
        "credit for every purchase, assigned to the user's first/"
        "latest preceding non-purchase event type (the IGNORE NULLS "
        "first/last window device over the pinned (ts, event_id) "
        "per-user order; purchases with no preceding touch credit "
        "'(none)', a pinned convention). Reporting credits per "
        "(model, channel) side by side is the marketing staple that "
        "shows how much budget the MODEL CHOICE alone reallocates "
        "before anyone argues about the data. The 100 TB shape: one "
        "shuffle onto user_id serves both window passes (same "
        "partition, same order — one sort), the credit rows are "
        "purchase-sized, and the final aggregate collapses onto the "
        "model x channel frame map-side.",
)
def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    ordered = ev.select(
        "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    ).filter(F.col("event_type") == "purchase")
    # both models unpivot from ONE pass (a unionAll of two selects would
    # recompute the scan + window per branch — caught by the plan pin)
    credits = ordered.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.coalesce(F.col("first_touch"), F.lit("(none)")).alias(
                        "channel"
                    ),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.coalesce(F.col("last_touch"), F.lit("(none)")).alias(
                        "channel"
                    ),
                ),
            )
        ).alias("credit")
    ).select("credit.model", "credit.channel")
    return (
        credits.groupBy("model", "channel")
        .agg(F.count("*").cast("bigint").alias("credits"))
        .orderBy("model", "channel")
    )
