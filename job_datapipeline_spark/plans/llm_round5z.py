"""Round-5 twenty-sixth batch: forecast backtest, discount lift curve,
Little's-law latency.

Three more named operators:

- Forecast backtest — the evaluation loop every forecaster needs
  before anyone trusts it: replay the Holt (level+trend) state at
  each day via the prefix-fold device, project h days ahead, join
  the REALIZED actual, and score per-type MAPE with per-term micro
  rounding so the error aggregate is an exact mergeable integer sum.
  Evaluating the model is the same bounded-frame work as running it.
- Discount lift curve: average order quantity per discount band vs
  the zero-discount baseline — the first promotion-effectiveness
  read; lifts are cross-multiplied exact integers with one rounded
  division per band.
- Little's law (L = lambda * W) applied to order fulfillment: per
  month, average open line items (the sweep-line device integrated
  over days) divided by the arrival rate gives the implied average
  time-in-system — the queueing sanity check that needs no per-item
  tracking, cross-checked here because cycle time IS directly
  measurable. All integer day-sums; one division per month.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): counts, day
sums and per-term errors are exact bigints; folds are bit-replayable
IEEE; each reported ratio is a single rounded division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# Forecast backtest
# ---------------------------------------------------------------------------

_BT_H = 7  # forecast horizon in days


@register(
    "events_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    packed AS (
        SELECT event_type,
               list([CAST(n AS DOUBLE), CAST(0.0 AS DOUBLE)]
                    ORDER BY day) AS l,
               list(struct_pack(day := day, n := n) ORDER BY day) AS meta
        FROM daily GROUP BY 1
    ),
    expanded AS (
        SELECT event_type, l, meta,
               unnest(generate_series(1, len(l))) AS t
        FROM packed
    ),
    folded AS (
        SELECT event_type, meta, t,
               list_reduce(l[1:t], (acc, e) ->
                   [0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                    0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                        + 0.5 * acc[2]]) AS st
        FROM expanded
    ),
    forecasts AS (
        SELECT event_type,
               meta[t].day + INTERVAL {_BT_H} DAY AS target_day,
               CAST(round(1000000.0 * (st[1] + {_BT_H} * st[2]))
                    AS BIGINT) AS fc_micro
        FROM folded
    ),
    scored AS (
        SELECT f.event_type,
               CAST(round(abs(f.fc_micro - 1000000.0 * d.n)
                          / d.n) AS BIGINT) AS ape_micro
        FROM forecasts f
        JOIN daily d ON d.event_type = f.event_type
                    AND d.day = CAST(f.target_day AS DATE)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored,
           CAST(round(1.0 * sum(ape_micro) / count(*)) AS BIGINT)
               AS mape_micro,
           CAST(max(ape_micro) AS BIGINT) AS worst_ape_micro
    FROM scored
    GROUP BY event_type ORDER BY event_type
    """,
    doc=f"Forecast backtest — Holt level+trend replayed at every day "
        "via the prefix-fold device (identical state trajectory to "
        f"events_holt_forecast), projected {_BT_H} days ahead, joined "
        "to the REALIZED actual, and scored per type: each absolute "
        "percentage error rounds to micro FIRST (one deterministic "
        "double expression per day), so MAPE aggregates as an exact "
        "mergeable integer sum with one final division — the "
        "per-term micro-rounding device applied to model evaluation. "
        "Days whose target falls past the series end simply find no "
        "actual (inner join) — the standard backtest truncation. The "
        "100 TB shape: identical to the forecaster itself — raw "
        "events collapse map-side to the type x day frame, folds and "
        "the self-join run on that calendar-bounded frame; "
        "evaluating the model costs the same as running it, which is "
        "exactly why backtests should ship WITH forecasters instead "
        "of being a notebook afterthought.",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # feeds the fold AND the actuals join
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("meta")
    )
    expanded = packed.select(
        "event_type",
        "meta",
        F.explode(F.sequence(F.lit(1), F.size("meta"))).alias("t"),
    )
    steps = F.transform(
        F.slice(F.col("meta"), F.lit(1), F.col("t")),
        lambda s: F.array(s["n"].cast("double"), F.lit(0.0)),
    )
    first = F.element_at(steps, 1)
    rest = F.slice(steps, F.lit(2), F.greatest(F.col("t") - 1, F.lit(0)))

    def merge(acc, e):
        lvl = F.element_at(acc, 1)
        trd = F.element_at(acc, 2)
        x = F.element_at(e, 1)
        return F.array(
            0.5 * x + 0.5 * (lvl + trd),
            0.5 * ((0.5 * x + 0.5 * (lvl + trd)) - lvl) + 0.5 * trd,
        )

    st = F.aggregate(rest, first, merge)
    forecasts = expanded.select(
        "event_type",
        F.date_add(F.element_at("meta", F.col("t"))["day"], _BT_H).alias(
            "target_day"
        ),
        F.round(
            F.lit(1_000_000.0)
            * (F.element_at(st, 1) + _BT_H * F.element_at(st, 2))
        )
        .cast("bigint")
        .alias("fc_micro"),
    )
    actual = daily.select(
        F.col("event_type").alias("a_type"),
        F.col("day").alias("a_day"),
        F.col("n").alias("actual"),
    )
    scored = forecasts.join(
        actual,
        (forecasts.event_type == actual.a_type)
        & (forecasts.target_day == actual.a_day),
    ).select(
        "event_type",
        F.round(
            F.abs(F.col("fc_micro") - F.lit(1_000_000.0) * F.col("actual"))
            / F.col("actual")
        )
        .cast("bigint")
        .alias("ape_micro"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            F.round(F.lit(1.0) * F.sum("ape_micro") / F.count("*"))
            .cast("bigint")
            .alias("mape_micro"),
            F.max("ape_micro").cast("bigint").alias("worst_ape_micro"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Discount lift curve
# ---------------------------------------------------------------------------


@register(
    "orders_discount_lift",
    oracle="""
    WITH banded AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
               CAST(round(l_quantity) AS BIGINT) AS qty
        FROM lineitem
    ),
    per_band AS (
        SELECT disc_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(qty) AS BIGINT) AS total_qty
        FROM banded GROUP BY disc_pct
    ),
    base AS (
        SELECT total_qty AS q0, n_lines AS n0 FROM per_band
        WHERE disc_pct = 0
    )
    SELECT p.disc_pct, p.n_lines,
           CAST(round(1000000.0 * p.total_qty / p.n_lines) AS BIGINT)
               AS avg_qty_micro,
           CAST(round(1000000.0 * (p.total_qty * b.n0)
                      / (p.n_lines * b.q0)) AS BIGINT) AS lift_micro
    FROM per_band p CROSS JOIN base b
    ORDER BY disc_pct
    """,
    doc="Discount lift curve — the first promotion-effectiveness "
        "read: average order quantity per discount percentage band "
        "vs the zero-discount baseline. The lift (avg_d / avg_0) is "
        "computed as ONE division of exact integer cross-products "
        "total_d * n_0 / (n_d * total_0) — never a ratio of two "
        "already-rounded averages, which compounds error exactly "
        "where the business reads elasticity. (Correlational, not "
        "causal — the matched-cohort and A/B operators are the "
        "causal-reading tools; this is the curve that prompts those "
        "analyses.) The 100 TB shape: one scan partial-aggregates "
        "onto the ~11-band discount domain; the baseline is a 1-row "
        "broadcast.",
)
def orders_discount_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_band = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.round("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        )
        .localCheckpoint()  # feeds the baseline AND the curve
    )
    base = per_band.filter(F.col("disc_pct") == 0).select(
        F.col("total_qty").alias("q0"), F.col("n_lines").alias("n0")
    )
    return (
        per_band.crossJoin(F.broadcast(base))
        .select(
            "disc_pct",
            "n_lines",
            F.round(F.lit(1_000_000.0) * F.col("total_qty") / F.col("n_lines"))
            .cast("bigint")
            .alias("avg_qty_micro"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("total_qty") * F.col("n0"))
                / (F.col("n_lines") * F.col("q0"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("disc_pct")
    )


# ---------------------------------------------------------------------------
# Little's law
# ---------------------------------------------------------------------------


@register(
    "orders_littles_law",
    oracle="""
    WITH intervals AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_d,
               CAST(l.l_shipdate AS DATE) AS close_d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deltas AS (
        SELECT open_d AS day, CAST(count(*) AS BIGINT) AS delta
        FROM intervals GROUP BY open_d
        UNION ALL
        SELECT close_d, -CAST(count(*) AS BIGINT)
        FROM intervals GROUP BY close_d
    ),
    daily AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY day
    ),
    running AS (
        SELECT day,
               CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS open_now,
               CAST(date_diff('day', day,
                              lead(day) OVER (ORDER BY day)) AS BIGINT)
                   AS span_d
        FROM daily
    ),
    monthly AS (
        SELECT strftime(date_trunc('month', r.day), '%Y-%m') AS month,
               CAST(sum(r.open_now * r.span_d) AS BIGINT) AS open_day_sum,
               CAST(sum(r.span_d) AS BIGINT) AS days_covered
        FROM running r WHERE r.span_d IS NOT NULL
        GROUP BY 1
    ),
    arrivals AS (
        SELECT strftime(date_trunc('month', open_d), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n_arrivals
        FROM intervals GROUP BY 1
    )
    SELECT m.month AS month, a.n_arrivals, m.open_day_sum, m.days_covered,
           CAST(round(1000000.0 * m.open_day_sum / a.n_arrivals) AS BIGINT)
               AS implied_wait_days_micro
    FROM monthly m JOIN arrivals a ON a.month = m.month
    ORDER BY month
    """,
    doc="Little's law (L = lambda W) applied to order fulfillment: "
        "per month, the time-integral of open line items (the "
        "sweep-line running count weighted by the EXACT day span it "
        "holds — step-function integration, not daily sampling) "
        "divided by the month's arrivals gives the implied average "
        "time-in-system W = integral(L)/arrivals, all from interval "
        "ENDPOINTS — no per-item tracking, which is the law's whole "
        "point when items are too numerous to follow individually. "
        "(Here cycle time IS directly measurable, so "
        "orders_cycle_time_trend is the cross-check: Little's "
        "estimate and the direct mean must agree on a stationary "
        "month — the standard queueing sanity test.) All day sums "
        "and counts exact; one division per month. The 100 TB shape: "
        "identical to orders_open_interval_sweep — O(2 x intervals) "
        "map-side deltas, one cumsum over the calendar-bounded "
        "spine.",
)
def orders_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    intervals = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_orderdate").cast("date").alias("open_d"),
            F.col("l_shipdate").cast("date").alias("close_d"),
        )
        .localCheckpoint()  # feeds the deltas (x2) AND the arrivals
    )
    opens = intervals.groupBy(F.col("open_d").alias("day")).agg(
        F.count("*").cast("bigint").alias("delta")
    )
    closes = intervals.groupBy(F.col("close_d").alias("day")).agg(
        (-F.count("*")).cast("bigint").alias("delta")
    )
    daily = (
        opens.unionAll(closes)
        .groupBy("day")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w = Window.orderBy("day")
    running = daily.select(
        "day",
        F.sum("net")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("open_now"),
        F.datediff(F.lead("day").over(w), F.col("day"))
        .cast("bigint")
        .alias("span_d"),
    )
    monthly = (
        running.filter(F.col("span_d").isNotNull())
        .groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.col("open_now") * F.col("span_d"))
            .cast("bigint")
            .alias("open_day_sum"),
            F.sum("span_d").cast("bigint").alias("days_covered"),
        )
    )
    arrivals = intervals.groupBy(
        F.date_format("open_d", "yyyy-MM").alias("month")
    ).agg(F.count("*").cast("bigint").alias("n_arrivals"))
    return (
        monthly.join(arrivals, "month")
        .select(
            "month",
            "n_arrivals",
            "open_day_sum",
            "days_covered",
            F.round(
                F.lit(1_000_000.0) * F.col("open_day_sum") / F.col("n_arrivals")
            )
            .cast("bigint")
            .alias("implied_wait_days_micro"),
        )
        .orderBy("month")
    )
