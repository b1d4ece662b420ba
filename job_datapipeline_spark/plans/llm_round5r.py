"""Round-5 eighteenth batch: feature scaling suite, time-weighted
average, aging buckets.

Three more named operators:

- ML feature scaling: the three standard normalizations (z-score,
  min-max, rank-uniform/eCDF) of a fact column, per group, in ONE
  pass each — group statistics from exact integer power sums
  broadcast back onto the rows; the rank transform is an exact
  integer rank with a pinned total order. This is the feature-prep
  stage of every tabular ML pipeline, shaped so the row-level
  transform is map-side after one stats exchange.
- Daily TWAP (time-weighted average): each observation weighted by
  the interval until the NEXT observation (the last one until day
  end) — the correct average for irregularly sampled series (prices,
  sensor readings, queue depths), where the naive mean over-weights
  bursts. Interval lengths are exact epoch-microsecond integers;
  values quantize to micro once; one division per day at the end.
- Receivables aging buckets: open orders bucketed by age at the
  snapshot date (the max order date — derived, not wall-clock, so
  the query is deterministic and replayable) with counts, exact cent
  totals, and value shares — the AR/backlog report every finance and
  fulfillment team runs.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): power sums,
ranks, interval micros and cents are exact bigints; z-scores are one
deterministic double expression over exact integers; each reported
ratio is a single rounded IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# Feature scaling suite
# ---------------------------------------------------------------------------


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
# Daily TWAP
# ---------------------------------------------------------------------------


@register(
    "events_twap_daily",
    oracle="""
    WITH obs AS (
        SELECT CAST(ts AS DATE) AS day,
               epoch_us(ts) AS us,
               CAST(round(value * 1000000) AS BIGINT) AS v_micro,
               lead(epoch_us(ts)) OVER (PARTITION BY CAST(ts AS DATE)
                                        ORDER BY epoch_us(ts), event_id)
                   AS next_us
        FROM events
    ),
    weighted AS (
        SELECT day, v_micro,
               CAST(coalesce(next_us,
                             epoch_us(CAST(day + INTERVAL 1 DAY
                                           AS TIMESTAMP))) - us AS BIGINT)
                   AS dt_us
        FROM obs
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(dt_us) AS BIGINT) AS covered_us,
           CAST(round(1.0 * sum(v_micro * dt_us) / sum(dt_us)) AS BIGINT)
               AS twap_micro
    FROM weighted
    GROUP BY day ORDER BY day
    """,
    doc="Daily TWAP — the time-weighted average of the event value "
        "stream: each observation holds until the NEXT one (the last "
        "until day end), the correct average for irregularly sampled "
        "series where the naive mean over-weights bursts; prices, "
        "sensor readings and queue depths are all this operator. "
        "Interval lengths are EXACT epoch-microsecond integers from "
        "one lead() window over the pinned (ts, event_id) order; "
        "values quantize to micro once; the weighted sum "
        "sum(v_micro * dt_us) accumulates as exact bigints (ceiling: "
        "|v| <= ~9e2 at day-length intervals before int64 overflow — "
        "far above this domain; re-scale v to milli beyond) and ONE "
        "division per day lands the result. The 100 TB shape: the "
        "window partitions by day (embarrassingly parallel across the "
        "calendar), the rollup partial-aggregates map-side onto the "
        "day spine, and nothing global is ever sorted.",
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
        "event_id",
    )
    w = Window.partitionBy("day").orderBy("us", "event_id")
    obs = ev.withColumn("next_us", F.lead("us").over(w))
    day_end = F.unix_micros(
        F.date_add(F.col("day"), 1).cast("timestamp")
    )
    weighted = obs.select(
        "day",
        "v_micro",
        (F.coalesce(F.col("next_us"), day_end) - F.col("us"))
        .cast("bigint")
        .alias("dt_us"),
    )
    return (
        weighted.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum("dt_us").cast("bigint").alias("covered_us"),
            F.round(
                F.lit(1.0)
                * F.sum(F.col("v_micro") * F.col("dt_us"))
                / F.sum("dt_us")
            )
            .cast("bigint")
            .alias("twap_micro"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_obs",
            "covered_us",
            "twap_micro",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Aging buckets
# ---------------------------------------------------------------------------

_AGING_BUCKETS = ((30, "00-030d"), (90, "031-090d"), (365, "091-365d"))
_AGING_LAST = "365d+"


def _bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} <= {days} THEN '{label}'" for days, label in _AGING_BUCKETS
    )
    return f"CASE {cases} ELSE '{_AGING_LAST}' END"


@register(
    "orders_aging_buckets",
    oracle=f"""
    WITH snap AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS snap_d FROM orders
    ),
    open_orders AS (
        SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE), s.snap_d)
                    AS BIGINT) AS age_d,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders, snap s
        WHERE o_orderstatus = 'O'
    ),
    bucketed AS (
        SELECT {_bucket_sql('age_d')} AS bucket, age_d, cents
        FROM open_orders
    ),
    agg AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(max(age_d) AS BIGINT) AS max_age_d
        FROM bucketed GROUP BY bucket
    )
    SELECT bucket, n_orders, total_cents, max_age_d,
           CAST(round(1000000.0 * total_cents
                      / sum(total_cents) OVER ()) AS BIGINT) AS share_micro
    FROM agg ORDER BY bucket
    """,
    doc="Receivables / backlog aging: OPEN orders bucketed by age at "
        "the snapshot date with counts, exact cent totals, and value "
        "shares — the report every finance and fulfillment team runs "
        "first. The snapshot is the max order date DERIVED from the "
        "data (never wall-clock, so the query is deterministic and "
        "replayable against any historical copy); buckets are the "
        "standard 30/90/365 fences as a literal CASE; the share "
        "normalizes by one window sum over the 4-row bucket frame. "
        "The 100 TB shape: the status filter pushes to the scan, the "
        "snapshot is a 1-row broadcast, the aggregate partial-"
        "combines onto a FOUR-row frame — one scan, one tiny "
        "exchange, at any scale.",
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    snap = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("snap_d"))
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(snap))
        .select(
            F.datediff(F.col("snap_d"), F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("age_d"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    bucket = F.lit(_AGING_LAST)
    for days, label in reversed(_AGING_BUCKETS):
        bucket = F.when(F.col("age_d") <= days, F.lit(label)).otherwise(bucket)
    agg = (
        open_orders.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.max("age_d").cast("bigint").alias("max_age_d"),
        )
    )
    return agg.select(
        "bucket",
        "n_orders",
        "total_cents",
        "max_age_d",
        F.round(
            F.lit(1_000_000.0)
            * F.col("total_cents")
            / F.sum("total_cents").over(Window.partitionBy())
        )
        .cast("bigint")
        .alias("share_micro"),
    ).orderBy("bucket")
