"""Round-5 eleventh batch: interval sweep-line, exact mode, SLO error
budget, seasonality index.

Four more named operators:

- Open-interval sweep-line: how many line items are OPEN (ordered,
  not yet shipped) over time — the +1/-1 event-differencing device
  (order date opens, ship date closes) with a running sum over the
  date spine, reported per month with the in-month peak. This is the
  concurrency/backlog/inventory operator (concurrent sessions, open
  tickets, in-flight inventory all reduce to it), and it turns an
  O(intervals x days) membership question into O(2 x intervals)
  deltas + one bounded cumsum.
- Exact mode per group with pinned ties: the most frequent value,
  smallest value winning ties — the exact counterpart of
  agg_heavy_hitters' bounded-state estimate.
- SLO error budget: per-day error rate vs a 1% objective and the
  cumulative budget burn — SRE-style reliability accounting, all in
  exact micro-units and integer cross-multiplication for the
  breach flag.
- Seasonality index: per calendar-month revenue index vs the overall
  daily average, computed as a ratio of bigint cross-products (one
  rounded IEEE division at the end) — the first seasonal-profile
  pass every demand model runs.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): deltas, counts
and cents are exact bigints; breach flags cross-multiply; each
reported ratio is a single rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# Open-interval sweep-line
# ---------------------------------------------------------------------------


@register(
    "orders_open_interval_sweep",
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
        SELECT day, net,
               CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS open_now
        FROM daily
    )
    SELECT strftime(date_trunc('month', day), '%Y-%m') AS month,
           CAST(sum(net) AS BIGINT) AS net_change,
           CAST(max(open_now) AS BIGINT) AS peak_open,
           CAST(arg_max(open_now, day) AS BIGINT) AS month_end_open
    FROM running
    GROUP BY 1 ORDER BY month
    """,
    doc="Open-interval sweep-line: line items open (ordered, not yet "
        "shipped) over time via the +1/-1 event-differencing device — "
        "each interval contributes one +1 delta at its order date and "
        "one -1 at its ship date, the per-day net aggregates "
        "map-side, and ONE running sum over the date spine yields the "
        "open count at every day; reported per month with the in-month "
        "peak and the month-end level (arg_max by day — the latest "
        "day's running value). Concurrent sessions, open tickets, and "
        "in-flight inventory are all this operator. The 100 TB shape: "
        "the join is fact-to-fact on the order key (co-partitioned "
        "under the S10 bucketing layout), deltas partial-aggregate to "
        "the DATE-DOMAIN frame (calendar-bounded), and the only sort "
        "is over that bounded spine — O(2 x intervals) map work "
        "instead of the O(intervals x days) membership explosion a "
        "naive day-join would pay. All counts exact.",
)
def orders_open_interval_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    intervals = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderdate").cast("date").alias("open_d"),
        F.col("l_shipdate").cast("date").alias("close_d"),
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
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = daily.withColumn("open_now", F.sum("net").over(w).cast("bigint"))
    return (
        running.groupBy(F.date_format("day", "yyyy-MM").alias("month"))
        .agg(
            F.sum("net").cast("bigint").alias("net_change"),
            F.max("open_now").cast("bigint").alias("peak_open"),
            F.max_by("open_now", "day").cast("bigint").alias("month_end_open"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Exact mode
# ---------------------------------------------------------------------------


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
# SLO error budget
# ---------------------------------------------------------------------------

_SLO_NUM = 1  # objective: error rate <= 1/100
_SLO_DEN = 100


@register(
    "events_error_rate_slo",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               count(*) AS n,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                   AS n_err
        FROM events GROUP BY 1
    ),
    flagged AS (
        SELECT day, n, n_err,
               ({_SLO_DEN} * n_err > {_SLO_NUM} * n) AS breached,
               CAST(round(1000000.0 * n_err / n) AS BIGINT) AS err_rate_micro
        FROM daily
    )
    SELECT CAST(day AS VARCHAR) AS day, CAST(n AS BIGINT) AS n, n_err,
           err_rate_micro, breached,
           CAST(sum(n_err) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_errors,
           CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_events,
           ({_SLO_DEN} * sum(n_err) OVER (ORDER BY day
                                          ROWS UNBOUNDED PRECEDING)
            > {_SLO_NUM} * sum(n) OVER (ORDER BY day
                                        ROWS UNBOUNDED PRECEDING))
               AS budget_exhausted
    FROM flagged
    ORDER BY day
    """,
    doc="SLO error-budget accounting: per-day error rate vs a "
        f"{_SLO_NUM}/{_SLO_DEN} objective, with the daily breach flag "
        "AND the cumulative budget-exhausted flag both decided by "
        "integer cross-multiplication (100*errors > 1*total) — no "
        "division anywhere near a decision; the reported rate is "
        "display-only micro-units. This is SRE reliability accounting "
        "as a query: the cumulative flags tell you the first day the "
        "month's budget was gone. (This fixture's 'error' type is ~20% "
        "of traffic, so the budget is exhausted from day one — the "
        "flags still exercise both window sums exactly.) The 100 TB "
        "shape: one partial-aggregatable daily rollup (FILTER counts "
        "put errors and totals in the SAME pass), then two running "
        "sums sharing one sort over the calendar-bounded day spine.",
)
def events_error_rate_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_err"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.select(
            F.col("day").cast("string").alias("day"),
            F.col("n").cast("bigint").alias("n"),
            "n_err",
            F.round(F.lit(1_000_000.0) * F.col("n_err") / F.col("n"))
            .cast("bigint")
            .alias("err_rate_micro"),
            (_SLO_DEN * F.col("n_err") > _SLO_NUM * F.col("n")).alias("breached"),
            F.sum("n_err").over(w).cast("bigint").alias("cum_errors"),
            F.sum("n").over(w).cast("bigint").alias("cum_events"),
            (
                _SLO_DEN * F.sum("n_err").over(w)
                > _SLO_NUM * F.sum("n").over(w)
            ).alias("budget_exhausted"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Seasonality index
# ---------------------------------------------------------------------------


@register(
    "orders_seasonality_index",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    monthly AS (
        SELECT month(day) AS cal_month,
               CAST(sum(cents) AS BIGINT) AS s_m,
               count(*) AS d_m
        FROM daily GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(s_m) AS BIGINT) AS s_all,
               CAST(sum(d_m) AS BIGINT) AS d_all
        FROM monthly
    )
    SELECT CAST(m.cal_month AS BIGINT) AS cal_month,
           m.s_m AS revenue_cents,
           CAST(m.d_m AS BIGINT) AS n_days,
           CAST(round(1000000.0 * (m.s_m * t.d_all)
                      / (m.d_m * t.s_all)) AS BIGINT) AS index_micro
    FROM monthly m CROSS JOIN tot t
    ORDER BY cal_month
    """,
    doc="Seasonality index: per calendar month, the ratio of the "
        "month's average DAILY revenue to the overall average daily "
        "revenue — index 1e6 = an average month; the first "
        "seasonal-profile pass every demand model runs. The ratio of "
        "two rationals (s_m/d_m) / (s_all/d_all) is computed as ONE "
        "division of exact bigint cross-products s_m*d_all / "
        "(d_m*s_all), rounded immediately — no intermediate averages, "
        "no compounding float error. Day counts (not raw revenue "
        "shares) normalize the index so unequal month lengths and "
        "partial first/last months do not bias it. The 100 TB shape: "
        "daily rollup partial-aggregates to the calendar frame, the "
        "monthly rollup and totals are calendar-sized, and the 1-row "
        "totals broadcast back.",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    monthly = (
        daily.groupBy(F.month("day").alias("cal_month"))
        .agg(
            F.sum("cents").cast("bigint").alias("s_m"),
            F.count("*").alias("d_m"),
        )
        .localCheckpoint()  # feeds the totals AND the index rows
    )
    tot = monthly.agg(
        F.sum("s_m").cast("bigint").alias("s_all"),
        F.sum("d_m").cast("bigint").alias("d_all"),
    )
    return (
        monthly.crossJoin(F.broadcast(tot))
        .select(
            F.col("cal_month").cast("bigint").alias("cal_month"),
            F.col("s_m").alias("revenue_cents"),
            F.col("d_m").cast("bigint").alias("n_days"),
            F.round(
                F.lit(1_000_000.0)
                * (F.col("s_m") * F.col("d_all"))
                / (F.col("d_m") * F.col("s_all"))
            )
            .cast("bigint")
            .alias("index_micro"),
        )
        .orderBy("cal_month")
    )
