"""Event-stream analytics over ``events`` and the customer features built
from them: sessionization, gap filling, funnels, retention, active-user
counts (exact and sketched), smoothing and forecasting folds (EWMA,
Holt, backtests), change-point and burst detection, A/B readouts,
attribution models and path mining.

Time-ordered folds run as ``F.aggregate`` over a sorted per-key list on
the Spark side and ``list_reduce`` on the DuckDB side, so each IEEE step
replays in the same order on both engines.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.asof import asof_join
from ..operators.ranks import exact_ntile, int_div
from .registry import register


# ---------------------------------------------------------------------------
# Streaming-equivalent batch shapes over events
# ---------------------------------------------------------------------------

@register(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregate — the batch twin of the Structured "
        "Streaming pipeline in streaming/ (same plan modulo source).",
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    """,
    doc="Sessionization (30-min inactivity gap) via gaps-and-islands — batch "
        "twin of F.session_window in streaming mode.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    marked = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.withColumn("session_id", F.sum("is_new").over(w2).cast("bigint"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "events_gapfill_hourly",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type, g.hour, coalesce(a.n, 0) AS n,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour
    """,
    doc="Hourly gap fill (the hypertable/time_bucket_gapfill shape): dense "
        "(event_type x hour) grid via sequence() between the corpus bounds, "
        "left join the rollup, zero-fill the holes. The grid is generated "
        "from a broadcast 1-row bounds frame x tiny type dim — no driver "
        "loop; at 100 TB only the rollup side scales and the join stays "
        "broadcast.",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct().coalesce(1)
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour"),
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    return (
        grid.join(agg, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.col("hour").cast("timestamp_ntz").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts >= s1.t1 GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY e.user_id)
    SELECT count(*) AS n_view, count(s2.user_id) AS n_click,
           count(s3.user_id) AS n_purchase
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    doc="Ordered funnel (operators/funnel.funnel_steps): users completing "
        "view -> click -> purchase with each step at or after the previous "
        "one — the match_recognize/CEP-shaped question, answered "
        "relationally: per step, one filtered join + min-aggregate on the "
        "user key, state one timestamp per user per step. No per-user "
        "event arrays (the hot-user memory hazard of the collect-and-"
        "regex approach); each stage's frame is a subset of the previous.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_steps

    ev = table(spark, sf_dir, "events")
    f = funnel_steps(ev, ["view", "click", "purchase"])
    return f.agg(
        F.count("*").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM first_seen f JOIN activity a USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention (the classic triangle): users grouped by "
        "first-seen week, counted distinct in each subsequent activity "
        "week. Two hash aggregations + one shuffle join on the user key; "
        "week offsets via day arithmetic on week-truncated stamps (exact "
        "multiples of 7 — engine-portable, unlike week-boundary counting). "
        "At 100 TB the first_seen dim is one row per user and the "
        "activity frame is already deduped to (user, week) before the "
        "join, so joined volume is user-weeks, not raw events.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.col("cohort").cast("timestamp_ntz").alias("cohort"),
            F.floor(F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


@register(
    "events_scd2_islands",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    flagged AS (
        SELECT user_id, event_type, ts, event_id,
               sum(CASE WHEN prev_type IS NULL
                        OR prev_type <> event_type THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
        FROM seq)
    SELECT user_id, event_type,
           min(ts) AS valid_from,
           max(ts) AS last_seen,
           count(*) AS n_events,
           CAST(island AS BIGINT) AS island_id
    FROM flagged
    GROUP BY user_id, event_type, island
    """,
    doc="Gaps-and-islands / SCD2 interval construction: consecutive "
        "same-type event runs per user collapse into validity intervals "
        "via the lag-compare + running-sum island id — the standard "
        "slowly-changing-dimension build, one window stage + one "
        "aggregate, no self-join. Both windows order by (ts, event_id) — "
        "a total order, so lag neighbors and island ids are "
        "deterministic even when a user has same-timestamp events of "
        "different types.",
)
def events_scd2_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w_seq).alias("prev_type"),
    )
    flagged = seq.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w_run)
        .alias("island"),
    )
    return (
        flagged.groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("last_seen"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "event_type",
            "valid_from",
            "last_seen",
            "n_events",
            F.col("island").cast("bigint").alias("island_id"),
        )
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH shifted AS (
        SELECT date_trunc('hour', ts) AS w_start, value FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w_start, value
        FROM events)
    SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM shifted
    GROUP BY w_start
    """,
    doc="SLIDING event-time windows (2 h duration, 1 h slide) via "
        "F.window — each event lands in exactly duration/slide = 2 "
        "windows; the oracle replays that as a union of the two shifted "
        "hour-truncations. Same aggregate shape batch or streaming "
        "(streaming_hourly_rollup is the tumbling twin); the window "
        "explode happens map-side before one hash aggregate.",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour_ts,
               sum(value) AS hour_value
        FROM events GROUP BY user_id, date_trunc('hour', ts)),
    scored AS (
        SELECT user_id, hour_ts, hour_value,
               avg(hour_value) OVER w AS mu,
               stddev_samp(hour_value) OVER w AS sigma,
               count(*) OVER w AS n_window
        FROM hourly
        WINDOW w AS (PARTITION BY user_id ORDER BY hour_ts
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT user_id, hour_ts, round(hour_value, 2) AS hour_value,
           round((hour_value - mu) / sigma, 4) AS zscore
    FROM scored
    WHERE n_window >= 6 AND sigma > 1e-9
      AND abs((hour_value - mu) / sigma) > 2.5
    """,
    doc="Rolling z-score anomaly detection: per-user hourly rollup, then "
        "a trailing 24-row window (PRECEDING-only — the current point "
        "never contaminates its own baseline) computing mean/stddev, "
        "flagging |z| > 2.5 with a minimum-history guard. One aggregate "
        "+ one window exchange, both on user_id. The streaming analogue "
        "drops in as a stateful aggregation over the same hourly keys.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.sum("value").alias("hour_value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(-24, -1)
    )
    z = (F.col("hour_value") - F.avg("hour_value").over(w)) / F.stddev_samp(
        "hour_value"
    ).over(w)
    scored = hourly.select(
        "user_id",
        "hour_ts",
        "hour_value",
        z.alias("_z"),
        F.count("*").over(w).alias("_n"),
        F.stddev_samp("hour_value").over(w).alias("_sigma"),
    )
    return (
        scored.filter(
            (F.col("_n") >= 6) & (F.col("_sigma") > 1e-9) & (F.abs("_z") > 2.5)
        )
        .select(
            "user_id",
            "hour_ts",
            F.round("hour_value", 2).alias("hour_value"),
            F.round("_z", 4).alias("zscore"),
        )
    )


@register(
    "events_windowed_topk",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               count(*) AS n
        FROM events
        GROUP BY date_trunc('hour', ts), event_type),
    ranked AS (
        SELECT hour_ts, event_type, CAST(n AS BIGINT) AS n,
               row_number() OVER (PARTITION BY hour_ts
                                  ORDER BY n DESC, event_type) AS rnk
        FROM hourly)
    SELECT hour_ts, event_type, n, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 2
    """,
    doc="Windowed top-k: the two busiest event types per hour — the "
        "trending/leaderboard reporting shape: time-bucketed aggregate, "
        "then rank WITHIN each bucket (deterministic ties by type). The "
        "rank window partitions by hour over the already-aggregated "
        "frame (|hours| x |types| rows), so the expensive stage is the "
        "one hash aggregate; the streaming twin is the same plan over "
        "F.window with the rank applied in foreachBatch.",
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("hour_ts").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 2)
        .select("hour_ts", "event_type", "n", "rnk")
    )


@register(
    "events_sessionize_dynamic_gap",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               ts + CASE WHEN event_type = 'purchase'
                         THEN INTERVAL 60 MINUTE
                         ELSE INTERVAL 30 MINUTE END AS end_ts
        FROM events),
    m AS (
        SELECT user_id, ts, event_id, end_ts,
               max(end_ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
        FROM g),
    flagged AS (
        -- Both windows order by (ts, event_id): the running sum MUST scan
        -- rows in the same total order the new-session flags were computed
        -- under, or same-timestamp events can land in the wrong session.
        -- Exact-boundary convention (empirically pinned, Spark 4.1: two
        -- events at t and t+gap yield ONE session ending t+2*gap): an
        -- event landing exactly at the current session end MERGES, so a
        -- new session starts only when ts > prev_max, strictly.
        SELECT user_id, ts, end_ts,
               sum(CASE WHEN prev_max IS NULL OR ts > prev_max
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM m)
    SELECT user_id,
           min(ts) AS session_start,
           max(end_ts) AS session_end,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id, sid
    """,
    doc="DYNAMIC-GAP sessionization: F.session_window with a PER-EVENT "
        "gap expression (purchases hold sessions open 60 min, everything "
        "else 30) — the built-in covers what a fixed gap cannot: "
        "event-weighted session semantics. Session merge rule is "
        "interval union (each event contributes [ts, ts+gap]; "
        "overlapping windows coalesce), which the oracle replays as the "
        "classic running-max sweep: new session when ts exceeds the max "
        "end of all PRECEDING events. Works identically in streaming "
        "(the watermarked form of events_sessionize).",
)
def events_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Linear interpolation over hourly gaps
# ---------------------------------------------------------------------------
#
# Linear interpolation over an hourly gap-filled series — the
# `interpolate()` companion to events_gapfill_hourly's zero-fill:
# missing hours get the value linearly interpolated between the
# nearest observed neighbors (TimescaleDB's time_bucket_gapfill +
# interpolate shape). Gaps are both natural (hours with no events)
# and planted (every hour-of-day ≡ 3 mod 7 is masked), so the
# interpolation path is exercised at every scale factor.


@register(
    "events_interpolate_linear",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    joined AS (
        SELECT g.event_type, g.hour,
               CASE WHEN hour(g.hour) % 7 = 3 THEN NULL ELSE a.cents END
                   AS cents
        FROM grid g
        LEFT JOIN agg a ON a.event_type = g.event_type AND a.hour = g.hour
    ),
    pos AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY hour) AS rn
        FROM joined
    ),
    ctx AS (
        SELECT *,
               last_value(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS prev_c,
               last_value(CASE WHEN cents IS NOT NULL THEN rn END
                          IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS UNBOUNDED PRECEDING) AS prev_rn,
               first_value(cents IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_c,
               first_value(CASE WHEN cents IS NOT NULL THEN rn END
                           IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY rn
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_rn
        FROM pos
    )
    SELECT event_type, hour,
           CASE WHEN cents IS NOT NULL THEN 'observed'
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                    THEN 'interpolated'
                ELSE 'edge' END AS status,
           CASE WHEN cents IS NOT NULL THEN cents
                WHEN prev_c IS NOT NULL AND next_c IS NOT NULL
                    THEN prev_c + CAST(round(
                        (next_c - prev_c) * (rn - prev_rn)
                        / (next_rn - prev_rn)) AS BIGINT)
                ELSE NULL END AS cents_filled
    FROM ctx
    ORDER BY event_type, hour
    """,
    doc="Linear interpolation over an hourly gap-filled series (the "
        "TimescaleDB time_bucket_gapfill + interpolate shape): dense "
        "(event_type x hour) spine, hourly cent sums joined on, every "
        "hour-of-day = 3 mod 7 masked as a planted gap on top of the "
        "natural ones, and each missing hour filled as prev + "
        "round((next-prev) * gap_position / gap_length) between the "
        "nearest observed neighbors via IGNORE NULLS running windows; "
        "rows before the first / after the last observation report "
        "'edge' and stay null. Because the spine is dense and evenly "
        "spaced, row positions ARE hour offsets, so the interpolation "
        "weights are exact bigint rank differences — the single "
        "division per gap row is one IEEE op rounded immediately. The "
        "100 TB shape: one rollup shuffle + one partition-by-series "
        "sort serve all four neighbor windows (same partitioning, one "
        "sort order); the spine is generated, never scanned; per-series "
        "state is the series length, and the documented escalation for "
        "very long series is range-bucketing the time axis with "
        "boundary-observation exchange (two rows per bucket).",
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # ONE scan yields both the type dim and the global bounds (the tiny
    # per-type frame is checkpointed for its two consumers).
    per_type = (
        ev.groupBy("event_type")
        .agg(F.min("ts").alias("t_lo"), F.max("ts").alias("t_hi"))
        .localCheckpoint()
    )
    bounds = per_type.agg(
        F.date_trunc("hour", F.min("t_lo")).alias("lo"),
        F.date_trunc("hour", F.max("t_hi")).alias("hi"),
    )
    grid = (
        per_type.select("event_type")
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
                "hour"
            ),
        )
    )
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("bigint").alias("cents_obs"))
    joined = grid.join(agg, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.when(F.hour("hour") % 7 == 3, F.lit(None).cast("bigint"))
        .otherwise(F.col("cents_obs"))
        .alias("cents"),
    )
    w_rn = Window.partitionBy("event_type").orderBy("hour")
    pos = joined.withColumn("rn", F.row_number().over(w_rn))
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward context = backward context over the REVERSED sort: the
    # UnboundedPreceding frame updates incrementally (O(n)), while an
    # UnboundedFollowing frame recomputes per row (O(n^2) per partition)
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("rn").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rn_if_obs = F.when(F.col("cents").isNotNull(), F.col("rn"))
    ctx = pos.select(
        "*",
        F.last("cents", ignorenulls=True).over(w_back).alias("prev_c"),
        F.last(rn_if_obs, ignorenulls=True).over(w_back).alias("prev_rn"),
        F.last("cents", ignorenulls=True).over(w_fwd).alias("next_c"),
        F.last(rn_if_obs, ignorenulls=True).over(w_fwd).alias("next_rn"),
    )
    interp = F.col("prev_c") + F.round(
        (F.col("next_c") - F.col("prev_c"))
        * (F.col("rn") - F.col("prev_rn"))
        / (F.col("next_rn") - F.col("prev_rn"))
    ).cast("bigint")
    inner = F.col("prev_c").isNotNull() & F.col("next_c").isNotNull()
    return ctx.select(
        "event_type",
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        F.when(F.col("cents").isNotNull(), "observed")
        .when(inner, "interpolated")
        .otherwise("edge")
        .alias("status"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .when(inner, interp)
        .otherwise(F.lit(None).cast("bigint"))
        .alias("cents_filled"),
    ).orderBy("event_type", "hour")


# Float discipline (the queries module docstring): deviations, ranks, and
# counts are exact bigints; each ratio is one IEEE division rounded
# immediately to micro-units; md5 bit positions are integer arithmetic.

# ---------------------------------------------------------------------------
# CUSUM drift detection
# ---------------------------------------------------------------------------
#
# CUSUM drift detection (Page 1954): the classic sequential
# change-point statistic over an hourly series, in the window-
# expressible form C_i = S_i - min_{j<=i} S_j with S the cumulative
# deviation from the series mean — all integers by scaling deviations
# by n (d_i = n*x_i - total), so the statistic is exact on both
# engines. A step change is PLANTED on one series (the snapshot_diff
# planted-edit pattern), so the detector provably fires at every
# scale factor.

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
# Markov transition matrix
# ---------------------------------------------------------------------------
#
# First-order Markov transition matrix over per-user event sequences —
# the clickstream model behind next-action prediction and funnel
# anomaly detection: P(next | current) from one lag window.


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


# Float discipline (the queries module docstring): counts/cents exact;
# stickiness is one rounded IEEE division; the readability formula is a
# pinned-order chain of IEEE ops on exact integer inputs rounded once to 1e-4
# (the BM25 precedent).

# ---------------------------------------------------------------------------
# DAU / WAU / MAU
# ---------------------------------------------------------------------------
#
# DAU / WAU / MAU + stickiness: exact rolling distinct active users —
# the engagement dashboard every product team runs. Exact sliding
# distincts cannot partial-aggregate, so the plan works on the
# (day, user) DISTINCT frame (bounded by days x users) and the
# documented scale path swaps in the mergeable bitmap / theta-sketch
# aggregates (agg_bitmap_distinct, agg_theta_sketch_setops) per day.


@register(
    "events_active_users",
    oracle="""
    WITH base AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM base),
    dau AS (SELECT day, count(*) AS dau FROM base GROUP BY day),
    wau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS wau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 6 DAY
        GROUP BY d.day
    ),
    mau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS mau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 29 DAY
        GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(round(1000000.0 * dau.dau / mau.mau) AS BIGINT)
               AS stickiness_micro
    FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
    ORDER BY day
    """,
    doc="DAU / WAU / MAU + stickiness (DAU/MAU): exact rolling distinct "
        "active users per day over trailing 1/7/30-day windows — the "
        "canonical engagement dashboard. Exact sliding DISTINCT cannot "
        "partial-aggregate (a user active twice in a week must count "
        "once), so the plan first collapses the log to the DISTINCT "
        "(day, user) frame — bounded by days x users, orders of "
        "magnitude under the event count — then range-joins the tiny "
        "day spine against it and counts distinct per window. The "
        "100 TB shape: the day spine broadcasts (it is calendar-sized), "
        "the range join fans each (day, user) row into at most 7/30 "
        "window memberships of a BOUNDED frame, and the documented "
        "escalation replaces exact distinct with the mergeable per-day "
        "bitmap or theta-sketch state (agg_bitmap_distinct / "
        "agg_theta_sketch_setops) unioned across the window — kilobytes "
        "per day instead of the user frame. Stickiness is one rounded "
        "IEEE division on exact counts.",
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        table(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint()  # feeds the spine, DAU, and both range joins
    )
    days = base.select("day").distinct()
    dau = base.groupBy("day").agg(F.count("*").alias("dau"))

    def rolling(n_days: int, name: str) -> DataFrame:
        d = days.alias("d")
        b = base.alias("b")
        return (
            F.broadcast(d)
            .join(
                b,
                (F.col("b.day") <= F.col("d.day"))
                & (F.datediff(F.col("d.day"), F.col("b.day")) <= n_days - 1),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("b.user_id").alias(name))
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    return (
        dau.join(F.broadcast(wau), "day")
        .join(F.broadcast(mau), "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.lit(1_000_000.0) * F.col("dau") / F.col("mau"))
            .cast("bigint")
            .alias("stickiness_micro"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Native session windows
# ---------------------------------------------------------------------------
#
# Native session windows: Spark's built-in session_window operator run
# in batch, cross-checked against the first-principles SQL islands
# form (lag + cumulative flag) as the oracle — proving the built-in
# and the classic rewrite agree event-for-event.

_SW_GAP_MIN = 30


@register(
    "events_session_window_native",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts)
                       >= {_SW_GAP_MIN} * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM seq
    ),
    sessions AS (
        SELECT user_id,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n) AS BIGINT) AS max_session_events,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM per_session
    GROUP BY user_id ORDER BY user_id
    """,
    doc="Native session windows: Spark's built-in session_window "
        f"operator (gap {_SW_GAP_MIN} min) run in BATCH, reduced to "
        "per-user session statistics (count / largest / total events) "
        "and cross-checked against the first-principles SQL islands "
        "form — lag + gap flag + running sum — as the oracle. Agreement "
        "proves the built-in's semantics (an event at exactly "
        "last + gap starts a NEW session; the islands form mirrors "
        "with >=) event-for-event, so a pipeline can switch between "
        "the native operator (which also runs stateful in streaming — "
        "streaming_sessionize_stateful is this operator's streaming "
        "twin) and the portable rewrite knowing they agree. The 100 TB "
        "shape: session_window compiles to one hash shuffle on user_id "
        "+ a sort — identical cost to the islands rewrite — and the "
        "stats aggregate partial-combines on (user, session).",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", f"{_SW_GAP_MIN} minutes")
    ).agg(F.count("*").alias("n"))
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.max("n").cast("bigint").alias("max_session_events"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# Float discipline (the queries module docstring): every statistic here is
# EXACT bigint arithmetic — gaps floor-divide to seconds, the variance test
# and both percentile cuts are integer cross-multiplications; no floating
# point anywhere but display shares.

# ---------------------------------------------------------------------------
# New vs returning growth
# ---------------------------------------------------------------------------
#
# New vs returning growth accounting: per day, first-seen users,
# returning users, and the cumulative user base — the growth curve
# behind every "cumulative users" chart, computed exactly from the
# first-occurrence frame (running DISTINCT rewritten as
# first-seen + cumsum, which partial-aggregates where a sliding
# distinct cannot).


@register(
    "events_new_user_growth",
    oracle="""
    WITH base AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    firsts AS (SELECT user_id, min(day) AS first_day FROM base GROUP BY 1),
    dau AS (SELECT day, count(*) AS dau FROM base GROUP BY day),
    news AS (
        SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY 1
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(d.dau - coalesce(n.n_new, 0) AS BIGINT) AS n_returning,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM dau d LEFT JOIN news n ON n.day = d.day
    ORDER BY day
    """,
    doc="New vs returning growth accounting: per day, first-seen users "
        "(from the per-user min-day frame), returning actives (DAU "
        "minus new), and the cumulative user base as a running sum of "
        "arrivals — every growth dashboard's top chart. The key rewrite "
        "is that CUMULATIVE distinct users = cumsum of first "
        "occurrences: unlike a sliding distinct (events_active_users), "
        "the expanding distinct partial-aggregates exactly, because "
        "each user contributes at precisely one day. The 100 TB shape: "
        "two partial-aggregatable rollups of the (day, user) DISTINCT "
        "frame (one checkpoint feeds both), a calendar-sized left join, "
        "and a cumsum window over the day spine — nothing bigger than "
        "the user dimension ever shuffles. All counts exact.",
)
def events_new_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        table(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .localCheckpoint()  # feeds DAU and the first-seen frame
    )
    dau = base.groupBy("day").agg(F.count("*").alias("dau"))
    news = (
        base.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        dau.join(F.broadcast(news), "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("n_new").cast("bigint").alias("n_new"),
            (F.col("dau") - F.col("n_new")).cast("bigint").alias("n_returning"),
            F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Bot detection with a planted bot
# ---------------------------------------------------------------------------
#
# Bot detection with a PLANTED bot: a synthetic user emitting
# perfectly regular events is generated in-plan (the planted-edit
# pattern, extended to row generation) and unioned with the log; the
# detector flags users with >= 100 gaps whose n-scaled gap variance
# is under 1/10000 of the squared mean (cv < 1%) — exactly the
# planted user and provably nobody organic.

_BOT_USER = 10_000_019
_BOT_EVENTS = 200
_BOT_PERIOD_US = 60_000_000  # exactly one minute
_BOT_START_US = 1_704_412_800_000_000  # 2024-01-05 00:00:00 UTC in micros
_BOT_MIN_GAPS = 100
_BOT_CV2_DEN = 10_000  # flag iff n * (n*S2 - S1^2) * DEN < S1^2  (cv < 1%)


@register(
    "events_bot_detection",
    oracle=f"""
    WITH real_ts AS (
        SELECT user_id, epoch_us(ts) AS t FROM events
    ),
    bot AS (
        SELECT {_BOT_USER} AS user_id,
               {_BOT_START_US} + i * {_BOT_PERIOD_US} AS t
        FROM (SELECT unnest(range({_BOT_EVENTS})) AS i)
    ),
    allts AS (SELECT * FROM real_ts UNION ALL SELECT * FROM bot),
    seq AS (
        SELECT user_id,
               (t - lag(t) OVER (PARTITION BY user_id ORDER BY t))
                   // 1000000 AS g
        FROM allts
    ),
    stats AS (
        SELECT user_id,
               count(*) AS n,
               CAST(sum(g) AS BIGINT) AS s1,
               CAST(sum(g * g) AS BIGINT) AS s2
        FROM seq WHERE g IS NOT NULL GROUP BY user_id
    ),
    flagged AS (
        SELECT user_id, n,
               (n >= {_BOT_MIN_GAPS}
                AND CAST(n AS HUGEINT)
                    * (CAST(n AS HUGEINT) * s2
                       - CAST(s1 AS HUGEINT) * s1)
                    * {_BOT_CV2_DEN}
                    < CAST(s1 AS HUGEINT) * s1)
                   AS is_bot
        FROM stats
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE is_bot) AS BIGINT) AS n_bots,
           CAST(min(user_id) FILTER (WHERE is_bot) AS BIGINT) AS bot_user,
           CAST(max(n) FILTER (WHERE is_bot) AS BIGINT) AS bot_gaps
    FROM flagged
    """,
    doc="Bot detection by timing regularity, with a PLANTED bot: a "
        f"synthetic user ({_BOT_USER}) emitting {_BOT_EVENTS} events at "
        "exactly one-minute intervals is GENERATED IN-PLAN (a literal "
        "sequence explode — the planted-edit pattern extended to row "
        "generation) and unioned with the log; the detector computes "
        "per-user inter-event gaps in whole seconds and flags users "
        f"with >= {_BOT_MIN_GAPS} gaps whose n-scaled variance "
        "n*(n*S2 - S1^2) is under S1^2/" f"{_BOT_CV2_DEN} — a squared "
        "coefficient of variation below 1%, which organic Poisson-ish "
        "traffic (cv ~ 1) cannot approach, so exactly the planted user "
        "fires at every scale factor (pinned in the differential "
        "test). EVERYTHING is integer: gaps integer-divide micros to "
        "seconds, and the variance test cross-multiplies in WIDENED "
        "integers (DECIMAL(38,0) here, HUGEINT in the oracle — int64 "
        "measurably overflows at sf0.1) — no division, no floats, no "
        "rounding anywhere. The 100 TB "
        "shape: one user-hash shuffle for the lag window (shared with "
        "sessionization's partitioning), then a partial-aggregatable "
        "per-user fold to three counters; the verdict frame is "
        "user-dimension sized. Timestamps convert through epoch "
        "microseconds, where gap DIFFERENCES are timezone-offset-"
        "invariant on both engines.",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    real_ts = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    bot = spark.range(_BOT_EVENTS).select(
        F.lit(_BOT_USER).cast("bigint").alias("user_id"),
        (F.lit(_BOT_START_US) + F.col("id") * _BOT_PERIOD_US).alias("t"),
    )
    allts = real_ts.unionAll(bot)
    w = Window.partitionBy("user_id").orderBy("t")
    # integer (not floating) division to seconds — mirrors DuckDB's `//`
    seq = allts.select(
        "user_id", F.lag("t").over(w).alias("prev_t"), "t"
    ).select(
        "user_id",
        F.expr("(t - prev_t) div 1000000").alias("g"),
    )
    stats = (
        seq.filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("g").cast("bigint").alias("s1"),
            F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
        )
    )
    # widened integer arithmetic: the cross-multiplication exceeds int64
    # at large n (measured: overflow at sf0.1), so the test runs in
    # DECIMAL(38,0) here and HUGEINT in the oracle — both exact.
    nd = F.col("n").cast("decimal(38,0)")
    s1d = F.col("s1").cast("decimal(38,0)")
    s2d = F.col("s2").cast("decimal(38,0)")
    is_bot = (F.col("n") >= _BOT_MIN_GAPS) & (
        nd * (nd * s2d - s1d * s1d) * _BOT_CV2_DEN < s1d * s1d
    )
    flagged = stats.withColumn("is_bot", is_bot)
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("is_bot"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bots"),
        F.min(F.when(F.col("is_bot"), F.col("user_id")))
        .cast("bigint")
        .alias("bot_user"),
        F.max(F.when(F.col("is_bot"), F.col("n")))
        .cast("bigint")
        .alias("bot_gaps"),
    )


# ---------------------------------------------------------------------------
# SLO error budget
# ---------------------------------------------------------------------------
#
# SLO error budget: per-day error rate vs a 1% objective and the
# cumulative budget burn — SRE-style reliability accounting, all in
# exact micro-units and integer cross-multiplication for the
# breach flag.

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
# EWMA daily trend
# ---------------------------------------------------------------------------
#
# EWMA smoothing of the daily event series per type: the recurrence
# s_t = 0.5*x_t + 0.5*s_{t-1} evaluated as a LEFT FOLD over the sorted
# day list on BOTH engines (Spark ``F.aggregate`` / DuckDB
# ``list_reduce``), so every intermediate IEEE operation matches
# bit-for-bit: *0.5 rescales the exponent exactly and the additions
# round identically in identical order. The per-day trajectory comes
# from folding each PREFIX of the (calendar-bounded) array — O(days^2)
# on a frame that never exceeds the calendar, not the corpus.

# alpha = 1/2: *0.5 is an exact IEEE exponent shift, so the fold is
# bit-replayable on any IEEE engine


@register(
    "events_ewma_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    packed AS (
        SELECT event_type,
               list(struct_pack(day := day, n := n) ORDER BY day) AS l
        FROM daily GROUP BY 1
    ),
    expanded AS (
        SELECT event_type, l,
               unnest(generate_series(1, len(l))) AS t
        FROM packed
    )
    SELECT event_type,
           CAST(l[t].day AS VARCHAR) AS day,
           l[t].n AS n,
           CAST(round(1000000.0 * list_reduce(
                    list_transform(l[1:t], s -> CAST(s.n AS DOUBLE)),
                    (acc, x) -> 0.5 * x + 0.5 * acc)) AS BIGINT)
               AS ewma_micro
    FROM expanded
    ORDER BY event_type, day
    """,
    doc="EWMA (alpha=1/2) of the per-type daily event count — the "
        "exponential smoother every monitoring/trend pass runs first. "
        "The recurrence s_t = 0.5*x_t + 0.5*s_{t-1} is evaluated as a "
        "left fold over the day-sorted array (Spark F.aggregate, "
        "oracle list_reduce; init = first element on both), and the "
        "full trajectory comes from folding each prefix — O(days^2) "
        "float ops on a CALENDAR-bounded frame (a year is 365 "
        "elements), not a corpus-sized one. alpha=1/2 makes *0.5 an "
        "exact exponent shift, so both engines replay the identical "
        "IEEE sequence bit-for-bit; the only rounding is the final "
        "display division. The 100 TB shape: raw events partial-"
        "aggregate map-side onto the type x day frame; the collect_"
        "list/fold stage touches only that calendar-sized rollup, so "
        "the heavy data crosses one exchange as (type, day, count).",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("l")
    )
    expanded = packed.select(
        "event_type",
        "l",
        F.explode(F.sequence(F.lit(1), F.size("l"))).alias("t"),
    )
    prefix_vals = F.transform(
        F.slice(F.col("l"), F.lit(1), F.col("t")),
        lambda s: s["n"].cast("double"),
    )
    ewma = F.aggregate(
        prefix_vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(0.5 * x + 0.5 * acc),
    )
    return expanded.select(
        "event_type",
        F.element_at("l", F.col("t"))["day"].cast("string").alias("day"),
        F.element_at("l", F.col("t"))["n"].alias("n"),
        F.round(F.lit(1_000_000.0) * ewma).cast("bigint").alias("ewma_micro"),
    ).orderBy("event_type", "day")


# Float discipline (the queries module docstring): counts and quantized
# weights are exact bigints; ln() is rounded to a fixed grid before any
# ordering decision (the text_tfidf_top_terms device); z and chi-square are
# single deterministic double expressions over exact integers.

# ---------------------------------------------------------------------------
# Two-proportion z-test
# ---------------------------------------------------------------------------
#
# Two-proportion z-test (the A/B experiment readout): exposure =
# users with a view event, conversion = exposed users who purchased,
# variant = user_id parity (the deterministic hash-split every
# experimentation system uses). Counts are exact; the z statistic is
# one closed-form double expression over them (IEEE sqrt/divide are
# correctly-rounded, so both engines produce the identical value).

_AB_Z_CRIT = 1.96  # two-sided 5% critical value, pinned


@register(
    "events_ab_test_ztest",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS variant,
               max(event_type = 'purchase') AS purchased
        FROM events GROUP BY 1
    ),
    arms AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE purchased) AS BIGINT) AS conv
        FROM per_user GROUP BY 1
    ),
    wide AS (
        SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
               max(CASE WHEN variant = 0 THEN conv END) AS c0,
               max(CASE WHEN variant = 1 THEN n END) AS n1,
               max(CASE WHEN variant = 1 THEN conv END) AS c1
        FROM arms
    )
    SELECT n0, c0, n1, c1,
           CAST(round(1000000.0 * c0 / n0) AS BIGINT) AS rate0_micro,
           CAST(round(1000000.0 * c1 / n1) AS BIGINT) AS rate1_micro,
           CAST(round(1000000.0
                      * (CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                      / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1.0 / n0 + 1.0 / n1)), 0.0)) AS BIGINT)
               AS z_micro,
           coalesce(abs((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                         * (1.0 / n0 + 1.0 / n1)), 0.0)) > {_AB_Z_CRIT},
                FALSE) AS significant
    FROM wide
    """,
    doc="Two-proportion z-test — the A/B experiment readout: variant "
        "by user_id parity (the deterministic hash split over the "
        "whole assignment universe), conversion = users with at least "
        "one purchase (a per-user max(bool) flag that partial-"
        "aggregates map-side). The pooled z statistic is a single "
        "closed-form double expression over four exact bigint counts; "
        "IEEE divide/sqrt are correctly-rounded so both engines "
        f"produce the bit-identical value, and the {_AB_Z_CRIT} "
        "critical value is pinned. A nullif guards the degenerate "
        "all-converted/none-converted pool (z undefined -> NULL, "
        "significant -> false) instead of dividing by zero under "
        "ANSI mode. The 100 TB shape: billions of raw events collapse "
        "to one row per user map-side, then to TWO arm rows — the "
        "whole test is one scan plus a 2-row reduce; no windows, no "
        "joins.",
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max(F.col("event_type") == "purchase").alias("purchased"))
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("variant"),
            "purchased",
        )
    )
    arms = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    pool = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    denom = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    z = (
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c0").cast("double") / F.col("n0")
    ) / F.nullif(denom, F.lit(0.0))
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round(F.lit(1_000_000.0) * F.col("c0") / F.col("n0"))
        .cast("bigint")
        .alias("rate0_micro"),
        F.round(F.lit(1_000_000.0) * F.col("c1") / F.col("n1"))
        .cast("bigint")
        .alias("rate1_micro"),
        F.round(F.lit(1_000_000.0) * z).cast("bigint").alias("z_micro"),
        F.coalesce(F.abs(z) > _AB_Z_CRIT, F.lit(False)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Event-type affinity matrix
# ---------------------------------------------------------------------------
#
# Event-type affinity matrix: for every unordered pair of event
# types, the Jaccard overlap of their USER sets — exact distinct
# counting via one (user, type) dedup then a self-join on user;
# union sizes by inclusion-exclusion, never a second scan.


@register(
    "events_jaccard_affinity",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ut GROUP BY 1
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_both,
           CAST(sa.n_users + sb.n_users - i.n_both AS BIGINT) AS n_either,
           CAST(round(1000000.0 * i.n_both
                      / (sa.n_users + sb.n_users - i.n_both)) AS BIGINT)
               AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
    doc="Event-type affinity matrix: for every unordered pair of "
        "event types, the Jaccard overlap of their USER sets — the "
        "audience-overlap / feature-co-occurrence measure behind "
        "segment planning and behavioral clustering. One (user, type) "
        "DISTINCT (partial-aggregates map-side; at most |types| rows "
        "survive per user), a self-join on user_id with type_a < "
        "type_b emitting at most |types|^2/2 pairs per user, and "
        "union sizes by INCLUSION-EXCLUSION from the per-type totals "
        "— the raw events are scanned once and nothing ever "
        "recounts the union. The 100 TB shape: both sides of the "
        "self-join are the same deduped frame hash-partitioned by "
        "user (co-located), the pair fan-out is bounded by the type "
        "DOMAIN (25 pairs for 5 types) not the data, and the final "
        "matrix is domain-sized.",
)
def events_jaccard_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint()  # feeds sizes AND both self-join sides
    )
    sizes = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("na")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("nb")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("na") + F.col("nb") - F.col("n_both"))
            .cast("bigint")
            .alias("n_either"),
            F.round(
                F.lit(1_000_000.0)
                * F.col("n_both")
                / (F.col("na") + F.col("nb") - F.col("n_both"))
            )
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy("type_a", "type_b")
    )


# Float discipline (the queries module docstring): counts, degrees and dollar
# sums are exact bigints; the Holt fold is bit-replayable IEEE; slopes round
# once to micro before the exact rank-median.

# ---------------------------------------------------------------------------
# Holt double exponential smoothing
# ---------------------------------------------------------------------------
#
# Holt double exponential smoothing (level + trend) of the daily
# event series: the 2-component recurrence with alpha = beta = 1/2
# evaluated as a left fold whose ACCUMULATOR IS A STRUCT (level,
# trend) — the device that generalizes the EWMA fold to any small
# fixed state; halving is an exact IEEE exponent shift so both
# engines replay the identical float sequence, and the final
# 7-day-ahead forecast is level + 7*trend.

_HOLT_H = 7  # forecast horizon in days


@register(
    "events_holt_forecast",
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
    )
    SELECT event_type,
           CAST(meta[t].day AS VARCHAR) AS day,
           meta[t].n AS n,
           CAST(round(1000000.0 * st[1]) AS BIGINT) AS level_micro,
           CAST(round(1000000.0 * st[2]) AS BIGINT) AS trend_micro,
           CAST(round(1000000.0 * (st[1] + {_HOLT_H} * st[2])) AS BIGINT)
               AS forecast_{_HOLT_H}d_micro
    FROM folded
    ORDER BY event_type, day
    """,
    doc="Holt double exponential smoothing (level + trend, alpha = "
        "beta = 1/2) of the per-type daily event count — the first "
        "forecasting model that beats the naive EWMA when the series "
        "drifts. The recurrence l_t = a*x_t + (1-a)(l+t), t_t = "
        "b*(l_t - l) + (1-b)*t is a left fold whose accumulator is a "
        "2-element [level, trend] ARRAY — deliberately not a struct: "
        "DuckDB's list_reduce updates struct-accumulator fields in "
        "place during struct_pack evaluation, so a trend expression "
        "referencing acc.level would see the already-overwritten NEW "
        "level (measured; the array state is built fresh per step on "
        "both engines). Elements carry x in the level slot so fold "
        "input and state share one type (Spark F.aggregate / oracle "
        "list_reduce, init = [x_1, 0]); halving is an exact exponent "
        "shift, so the float sequence replays bit-for-bit. Each day's "
        f"row reports level, trend, and the {_HOLT_H}-day-ahead "
        "forecast level + h*trend. The 100 TB shape: identical to "
        "events_ewma_daily — raw events partial-aggregate map-side "
        "onto the type x day frame; the O(days^2) prefix folds touch "
        "only the calendar-bounded rollup.",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("meta")
    )
    expanded = packed.select(
        "event_type",
        "meta",
        F.explode(F.sequence(F.lit(1), F.size("meta"))).alias("t"),
    )
    # state is a 2-element [level, trend] ARRAY, not a struct: DuckDB's
    # list_reduce updates struct-accumulator fields IN PLACE during
    # struct_pack evaluation (the trend expression would see the already-
    # overwritten level) — measured, and dodged by the array state, which
    # both engines build fresh per step
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
        new_l = 0.5 * x + 0.5 * (lvl + trd)
        return F.array(
            new_l,
            0.5 * ((0.5 * x + 0.5 * (lvl + trd)) - lvl) + 0.5 * trd,
        )

    st = F.aggregate(rest, first, merge)
    return expanded.select(
        "event_type",
        F.element_at("meta", F.col("t"))["day"].cast("string").alias("day"),
        F.element_at("meta", F.col("t"))["n"].alias("n"),
        F.round(F.lit(1_000_000.0) * F.element_at(st, 1))
        .cast("bigint")
        .alias("level_micro"),
        F.round(F.lit(1_000_000.0) * F.element_at(st, 2))
        .cast("bigint")
        .alias("trend_micro"),
        F.round(
            F.lit(1_000_000.0)
            * (F.element_at(st, 1) + _HOLT_H * F.element_at(st, 2))
        )
        .cast("bigint")
        .alias(f"forecast_{_HOLT_H}d_micro"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Daily TWAP
# ---------------------------------------------------------------------------
#
# Daily TWAP (time-weighted average): each observation weighted by
# the interval until the NEXT observation (the last one until day
# end) — the correct average for irregularly sampled series (prices,
# sensor readings, queue depths), where the naive mean over-weights
# bursts. Interval lengths are exact epoch-microsecond integers;
# values quantize to micro once; one division per day at the end.


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
# Attribution model comparison
# ---------------------------------------------------------------------------
#
# Attribution model comparison: first-touch vs last-touch credit for
# each purchase, assigned to the nearest preceding non-purchase
# event (the IGNORE NULLS window device over the pinned per-user
# event order), reported as credits per (model, channel) — the
# marketing-analytics staple that shows how much the model choice
# alone moves budget.


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


# ---------------------------------------------------------------------------
# Run-length path mining
# ---------------------------------------------------------------------------
#
# Run-length path mining: per user, the run-length-encoded
# event-type journey (the gaps-and-islands device collapses repeats:
# view,view,click -> view x2 > click), then the top journeys by user
# count — session-replay compression + the most common paths, the
# product-analytics staple.

_RLE_TOPK = 5


@register(
    "events_rle_paths",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(sum(CASE WHEN prev_type IS NULL
                                  OR prev_type <> event_type
                             THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM ordered
    ),
    rle AS (
        SELECT user_id, run_id,
               min(event_type) AS etype,
               CAST(count(*) AS BIGINT) AS reps
        FROM runs GROUP BY user_id, run_id
    ),
    paths AS (
        SELECT user_id,
               string_agg(etype || 'x' || CAST(reps AS VARCHAR), '>'
                          ORDER BY run_id) AS path
        FROM rle GROUP BY user_id
    )
    SELECT path, n_users, rank FROM (
        SELECT path, CAST(count(*) AS BIGINT) AS n_users,
               row_number() OVER (ORDER BY count(*) DESC, path) AS rank
        FROM paths GROUP BY path) x
    WHERE rank <= {_RLE_TOPK}
    ORDER BY rank
    """,
    doc=f"Run-length path mining (top-{_RLE_TOPK} journeys): each "
        "user's event-type sequence collapses repeats via the gaps-"
        "and-islands device (a run starts where the lagged type "
        "differs; one running sum assigns run ids), encodes as "
        "'viewx2>clickx1>...' — session-replay compression that "
        "makes journeys comparable — and the top paths by user count "
        "surface the dominant flows, the product-analytics staple "
        "behind funnel discovery. Ordering is the pinned (ts, "
        "event_id) total order; the path string is deterministic by "
        "construction. The 100 TB shape: ONE shuffle onto user_id "
        "serves the lag, the run-id sum, the per-run collapse and "
        "the path assembly (same key, same order — Spark reuses the "
        "sort); path frequencies then partial-aggregate onto the "
        "path vocabulary, and the top-k is a "
        "TakeOrderedAndProject, never a global sort. Unbounded "
        "per-user history is the documented hazard: cap the window "
        "to a session or a day (events_sessionize composes) before "
        "paths become megabyte strings.",
)
def events_rle_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.withColumn("prev_type", F.lag("event_type").over(w))
    runs = ordered.withColumn(
        "run_id",
        F.sum(
            F.when(
                F.col("prev_type").isNull()
                | (F.col("prev_type") != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    rle = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("etype"),
        F.count("*").cast("bigint").alias("reps"),
    )
    paths = rle.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("run_id", "etype", "reps"))
                ),
                lambda s: F.concat(
                    s["etype"], F.lit("x"), s["reps"].cast("string")
                ),
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    wr = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _RLE_TOPK)
        .select("path", "n_users", "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Forecast backtest
# ---------------------------------------------------------------------------
#
# Forecast backtest — the evaluation loop every forecaster needs
# before anyone trusts it: replay the Holt (level+trend) state at
# each day via the prefix-fold device, project h days ahead, join
# the REALIZED actual, and score per-type MAPE with per-term micro
# rounding so the error aggregate is an exact mergeable integer sum.
# Evaluating the model is the same bounded-frame work as running it.

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


# burst detection as integer Viterbi.
#
# One operator:
#
# - Two-state burst detection (Kleinberg-style) over the daily event
#   series, decoded by an EXACT INTEGER Viterbi fold: emission costs
#   (negative Poisson log-likelihood, factorial term cancelled) are
#   quantized to milli-units ONCE per (state, count) from two per-type
#   constants, the burst-entry penalty is a pinned constant, and the
#   dynamic program runs as a left fold whose accumulator is a
#   4-element bigint array [cost_base, cost_burst, path_base,
#   path_burst] — the two backtracking paths packed as BITMASKS (one
#   bit per day), so the full optimal state sequence comes out of one
#   fold with no second pass. Ties pin to the lower/staying state.
#   Every comparison the decoder makes is integer, so both engines
#   replay the identical burst segmentation.
#
# Float discipline (the queries module docstring): the only float work is
# quantizing the two log-rate constants per type (rounded once to milli);
# the entire DP is exact integers.

_BURST_RATE_X = 2  # burst state fires at 2x the base rate
_BURST_GAMMA_MILLI = 2000  # burst-entry penalty: 2 nats, pinned
_BURST_MAX_DAYS = 62  # bitmask backtracking capacity (shard beyond)


def _capacity_guard():
    """Loud runtime guard on the 62-day bitmask capacity.

    The path0/path1 backpointers shift left one bit per day, so a series
    longer than ``_BURST_MAX_DAYS`` days would silently wrap int64 (wrong
    burst mask) while the DuckDB oracle errors on overflow — a
    silent-vs-loud divergence.  Fail loudly on BOTH engines instead:
    beyond the capacity the series must be sharded (e.g. per-quarter
    sub-series, stitched on the boundary).  Returns a guarded replacement
    for the ``meta`` column (expects ``event_type`` alongside).
    """
    return F.when(
        F.size("meta") <= _BURST_MAX_DAYS, F.col("meta")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "events_burst_viterbi: series exceeds "
                    f"{_BURST_MAX_DAYS}-day bitmask capacity for "
                    "event_type="
                ),
                F.col("event_type"),
                F.lit(" — shard the series before decoding"),
            )
        )
    )


@register(
    "events_burst_viterbi",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    rates AS (
        SELECT event_type,
               CAST(round(1000.0 * sum(n) / count(*)) AS BIGINT)
                   AS lam0_milli,
               CAST(round(1000.0 * {_BURST_RATE_X} * sum(n) / count(*))
                    AS BIGINT) AS lam1_milli,
               CAST(round(1000.0 * ln(1.0 * sum(n) / count(*))) AS BIGINT)
                   AS lnlam0_milli,
               CAST(round(1000.0 * ln({_BURST_RATE_X}.0 * sum(n)
                                      / count(*))) AS BIGINT)
                   AS lnlam1_milli
        FROM daily GROUP BY event_type
    ),
    packed AS (
        SELECT d.event_type,
               r.lam0_milli, r.lam1_milli, r.lnlam0_milli, r.lnlam1_milli,
               list([d.n, CAST(0 AS BIGINT), 0, 0] ORDER BY d.day) AS l,
               list(struct_pack(day := d.day, n := d.n) ORDER BY d.day)
                   AS meta
        FROM daily d JOIN rates r ON r.event_type = d.event_type
        GROUP BY 1, 2, 3, 4, 5
    ),
    folded AS (
        SELECT event_type, meta,
               -- acc = [started, cost0, cost1, path0, path1]; the
               -- explicit started flag avoids any sentinel collision
               -- with legitimately negative running costs
               list_reduce(
                   list_prepend(
                       [CAST(0 AS BIGINT), 0, 0, 0, 0],
                       list_transform(l, s -> [s[1], CAST(0 AS BIGINT),
                                               0, 0, 0])),
                   (acc, e) -> CASE WHEN acc[1] = 0 THEN
                       -- first day: pay entry cost to start in burst
                       [CAST(1 AS BIGINT),
                        lam0_milli - e[1] * lnlam0_milli,
                        lam1_milli - e[1] * lnlam1_milli
                            + {_BURST_GAMMA_MILLI},
                        CAST(0 AS BIGINT), 1]
                   ELSE
                       [CAST(1 AS BIGINT),
                        lam0_milli - e[1] * lnlam0_milli
                            + least(acc[2], acc[3]),
                        lam1_milli - e[1] * lnlam1_milli
                            + least(acc[2] + {_BURST_GAMMA_MILLI}, acc[3]),
                        (CASE WHEN acc[2] <= acc[3]
                              THEN acc[4] ELSE acc[5] END) * 2,
                        (CASE WHEN acc[3] <= acc[2] + {_BURST_GAMMA_MILLI}
                              THEN acc[5] ELSE acc[4] END) * 2 + 1]
                   END) AS st
        FROM packed
    ),
    decoded AS (
        SELECT event_type, meta,
               CASE WHEN st[2] <= st[3] THEN st[4] ELSE st[5] END AS mask,
               len(meta) AS nd
        FROM folded
    )
    SELECT event_type,
           CAST(meta[t].day AS VARCHAR) AS day,
           meta[t].n AS n,
           ((mask >> (nd - t)) & 1) = 1 AS in_burst
    FROM (SELECT event_type, meta, mask, nd,
                 unnest(generate_series(1, nd)) AS t
          FROM decoded) u
    ORDER BY event_type, day
    """,
    doc="Two-state burst detection over the daily event series, "
        "decoded by an EXACT INTEGER Viterbi fold — the Kleinberg "
        "burst model's discrete core: base state at the observed "
        f"mean rate, burst state at {_BURST_RATE_X}x, emission cost "
        "= lambda - n*ln(lambda) (negative Poisson log-likelihood; "
        "the n! term is state-independent and cancels) quantized to "
        "milli ONCE per type into four integer constants, burst "
        f"entry taxed {_BURST_GAMMA_MILLI} milli-nats (pinned). The "
        "DP is a left fold whose accumulator is [cost0, cost1, "
        "path0, path1] — the two Viterbi backpointers carried as "
        "BITMASKS (one bit per day, MSB-first), so the optimal "
        "segmentation decodes from the fold result with NO second "
        "pass and no per-day backpointer table; ties pin to the "
        "staying/lower state. Every DP comparison is integer, so "
        "both engines replay the identical burst mask. Capacity: "
        f"{_BURST_MAX_DAYS} days per fold (bitmask width) — shard "
        "longer horizons by window and stitch, the standard "
        "segmented-Viterbi trick. The 100 TB shape: raw events "
        "partial-aggregate map-side onto the type x day frame; the "
        "fold is O(days) per type on that calendar-bounded frame; "
        "rate constants are one tiny aggregate joined back.",
)
def events_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()  # feeds the rates AND the fold
    )
    rates = daily.groupBy("event_type").agg(
        F.round(F.lit(1000.0) * F.sum("n") / F.count("*"))
        .cast("bigint")
        .alias("lam0_milli"),
        F.round(F.lit(1000.0) * _BURST_RATE_X * F.sum("n") / F.count("*"))
        .cast("bigint")
        .alias("lam1_milli"),
        F.round(F.lit(1000.0) * F.log(F.lit(1.0) * F.sum("n") / F.count("*")))
        .cast("bigint")
        .alias("lnlam0_milli"),
        F.round(
            F.lit(1000.0)
            * F.log(F.lit(float(_BURST_RATE_X)) * F.sum("n") / F.count("*"))
        )
        .cast("bigint")
        .alias("lnlam1_milli"),
    )
    packed = (
        daily.join(rates, "event_type")
        .groupBy(
            "event_type",
            "lam0_milli",
            "lam1_milli",
            "lnlam0_milli",
            "lnlam1_milli",
        )
        .agg(F.array_sort(F.collect_list(F.struct("day", "n"))).alias("meta"))
        .withColumn("meta", _capacity_guard())
    )
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    steps = F.transform(
        F.col("meta"),
        lambda s: F.array(s["n"], zero, zero, zero, zero),
    )
    gamma = F.lit(_BURST_GAMMA_MILLI).cast("long")

    def emit(state_lam, state_lnlam, n):
        return F.col(state_lam) - n * F.col(state_lnlam)

    # acc = [started, cost0, cost1, path0, path1]; the explicit started
    # flag avoids any sentinel collision with negative running costs
    def merge(acc, e):
        n = F.element_at(e, 1)
        started = F.element_at(acc, 1)
        c0, c1 = F.element_at(acc, 2), F.element_at(acc, 3)
        p0, p1 = F.element_at(acc, 4), F.element_at(acc, 5)
        e0 = emit("lam0_milli", "lnlam0_milli", n)
        e1 = emit("lam1_milli", "lnlam1_milli", n)
        return F.when(
            started == 0,
            F.array(one, e0, e1 + gamma, zero, one),
        ).otherwise(
            F.array(
                one,
                e0 + F.least(c0, c1),
                e1 + F.least(c0 + gamma, c1),
                F.when(c0 <= c1, p0).otherwise(p1) * 2,
                F.when(c1 <= c0 + gamma, p1).otherwise(p0) * 2 + 1,
            )
        )

    init = F.array(zero, zero, zero, zero, zero)
    folded = packed.select(
        "event_type",
        "meta",
        F.aggregate(steps, init, merge).alias("st"),
    )
    decoded = folded.select(
        "event_type",
        "meta",
        F.when(
            F.element_at("st", 2) <= F.element_at("st", 3), F.element_at("st", 4)
        )
        .otherwise(F.element_at("st", 5))
        .alias("mask"),
        F.size("meta").alias("nd"),
        F.explode(F.sequence(F.lit(1), F.size("meta"))).alias("t"),
    )
    return decoded.select(
        "event_type",
        F.element_at("meta", F.col("t"))["day"].cast("string").alias("day"),
        F.element_at("meta", F.col("t"))["n"].alias("n"),
        F.expr(
            "(shiftright(mask, CAST(nd - t AS INT)) & 1) = 1"
        ).alias("in_burst"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------
#
# Difference-in-differences — the third leg of the causal family
# (A/B z-test: randomized; matched cohort: covariate-matched;
# DiD: parallel-trends): treatment by user-id parity, pre/post split
# at the series midpoint, outcome = purchases per user-day; the DiD
# estimate (T_post - T_pre) - (C_post - C_pre) is a sum of four
# exact-integer ratios, each rounded once.


@register(
    "events_diff_in_diff",
    oracle="""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    cells AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS treated,
               CAST(CAST(ts AS DATE)
                    >= b.d0 + CAST(floor(date_diff('day', b.d0, b.d1) / 2)
                                   AS INTEGER) AS INTEGER) AS post,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events, bounds b
        GROUP BY 1, 2
    ),
    wide AS (
        SELECT max(CASE WHEN treated = 1 AND post = 1
                        THEN 1000000.0 * purchases / n_users END) AS tp,
               max(CASE WHEN treated = 1 AND post = 0
                        THEN 1000000.0 * purchases / n_users END) AS tq,
               max(CASE WHEN treated = 0 AND post = 1
                        THEN 1000000.0 * purchases / n_users END) AS cp,
               max(CASE WHEN treated = 0 AND post = 0
                        THEN 1000000.0 * purchases / n_users END) AS cq
        FROM cells
    )
    SELECT CAST(round(tp) AS BIGINT) AS treated_post_micro,
           CAST(round(tq) AS BIGINT) AS treated_pre_micro,
           CAST(round(cp) AS BIGINT) AS control_post_micro,
           CAST(round(cq) AS BIGINT) AS control_pre_micro,
           CAST(round((tp - tq) - (cp - cq)) AS BIGINT) AS did_micro
    FROM wide
    """,
    doc="Difference-in-differences — the third leg of the causal "
        "family (A/B z-test: randomized assignment; matched cohort: "
        "covariate matching; DiD: parallel trends): treatment by "
        "user-id parity, pre/post split at the DERIVED series "
        "midpoint (never wall-clock), outcome = purchases per active "
        "user in each cell. The estimate (T_post - T_pre) - "
        "(C_post - C_pre) removes both the group fixed effect and "
        "the common time trend; each cell mean is one exact-integer "
        "ratio in micro units and the DiD combines the four unrounded "
        "ratios with ONE final rounding (rounding each cell first and "
        "then differencing would stack four half-ulp errors into the "
        "headline number). The 100 TB shape: one scan partial-"
        "aggregates purchases and distinct users onto the FOUR "
        "(treated x post) cells; the bounds are a 1-row broadcast; "
        "output is one row at any scale.",
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("user_id") % 2).cast("bigint").alias("treated"),
            (
                F.col("ts").cast("date")
                >= F.date_add(
                    F.col("d0"),
                    F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast(
                        "int"
                    ),
                )
            )
            .cast("int")
            .alias("post"),
            "user_id",
            "event_type",
        )
        .groupBy("treated", "post")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("purchases"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    rate = F.lit(1_000_000.0) * F.col("purchases") / F.col("n_users")
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), rate)).alias(
            "tp"
        ),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), rate)).alias(
            "tq"
        ),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), rate)).alias(
            "cp"
        ),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), rate)).alias(
            "cq"
        ),
    )
    return wide.select(
        F.round("tp").cast("bigint").alias("treated_post_micro"),
        F.round("tq").cast("bigint").alias("treated_pre_micro"),
        F.round("cp").cast("bigint").alias("control_post_micro"),
        F.round("cq").cast("bigint").alias("control_pre_micro"),
        F.round((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")))
        .cast("bigint")
        .alias("did_micro"),
    )


# ---------------------------------------------------------------------------
# Event path trigrams
# ---------------------------------------------------------------------------
#
# Top event-type path trigrams: per-user journeys (ts, event_id
# pinned order) shredded into consecutive 3-step paths, counted
# corpus-wide, top-20 with fully pinned ties — the path-mining
# staple behind "what do users do right before churning".

_PATH_TOPK = 20


@register(
    "events_path_trigrams",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               list(event_type ORDER BY ts, event_id) AS s
        FROM events GROUP BY 1
    ),
    tri AS (
        SELECT unnest(CASE WHEN len(s) >= 3
                           THEN [s[i] || '>' || s[i+1] || '>' || s[i+2]
                                 FOR i IN range(1, len(s) - 1)]
                           ELSE [] END) AS path
        FROM seqs
    ),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n FROM tri GROUP BY 1
    )
    SELECT path, n FROM counted
    ORDER BY n DESC, path
    LIMIT {_PATH_TOPK}
    """,
    doc=f"Top-{_PATH_TOPK} event-type path trigrams: each user's journey "
        "(pinned (ts, event_id) order) shredded into consecutive "
        "3-step paths, counted corpus-wide, ties pinned by path text — "
        "the sequence-mining staple behind churn-path and funnel-"
        "discovery analyses (the Markov-chain view in "
        "events_markov_transitions assumes order 1; trigrams surface "
        "the order-2 structure it misses). The 100 TB shape: one "
        "shuffle to per-user sequences (collect_list partial-combines; "
        "per-user arrays are session-scale), map-side trigram "
        "explosion, a partial-combining count, and TakeOrdered for "
        "the top-k — no global sort; path-key skew is bounded by the "
        "event-type vocabulary cubed.",
)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = (
        table(spark, sf_dir, "events")
        .select("user_id", F.struct("ts", "event_id", "event_type").alias("e"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select(F.transform("es", lambda e: e["event_type"]).alias("s"))
    )
    tri = seqs.select(
        F.explode(
            F.when(
                F.size("s") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("s") - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at("s", i),
                        F.element_at("s", i + 1),
                        F.element_at("s", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("path")
    )
    return (
        tri.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_PATH_TOPK)
    )


# Float discipline (the queries module docstring): counts, cents and draw
# comparisons are exact integers; each replica mean and share is one rounded
# IEEE division.

# ---------------------------------------------------------------------------
# Time-bound funnel
# ---------------------------------------------------------------------------
#
# Time-bound funnel (view -> click -> purchase, each step within 60
# minutes of the previous): the conversion funnel as product teams
# actually define it — events_funnel counts unordered-lifetime stage
# presence; this one requires the CHAIN, via two forward as-of joins
# with tolerance (operators/asof), so a purchase an hour after an
# unrelated view never counts.

_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_GAP_MIN = 60


@register(
    "events_funnel_time_bound",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    c AS (
        SELECT v.user_id, v.t1, min(e.ts) AS t2
        FROM v JOIN events e
          ON e.user_id = v.user_id AND e.event_type = '{_FUNNEL_STEPS[1]}'
         AND e.ts >= v.t1
         AND e.ts <= v.t1 + INTERVAL {_FUNNEL_GAP_MIN} MINUTE
        GROUP BY 1, 2
    ),
    p AS (
        SELECT c.user_id, c.t2, min(e.ts) AS t3
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = '{_FUNNEL_STEPS[2]}'
         AND e.ts >= c.t2
         AND e.ts <= c.t2 + INTERVAL {_FUNNEL_GAP_MIN} MINUTE
        GROUP BY 1, 2
    )
    SELECT step, n_users FROM (
        SELECT 1 AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT) FROM p
    ) t ORDER BY step
    """,
    doc=f"Time-bound funnel {' -> '.join(_FUNNEL_STEPS)}, each step "
        f"within {_FUNNEL_GAP_MIN} minutes of the previous — conversion "
        "as product analytics actually defines it: the step-2 event "
        "must FOLLOW the user's first step-1 event inside the window, "
        "and step 3 must follow THAT step-2. events_funnel counts "
        "lifetime stage presence; the chain constraint is what makes "
        "funnels honest about causality-adjacent ordering. Executes as "
        "two forward as-of joins with tolerance (operators/asof: "
        "union-and-carry, one shuffle per step on the user key, no "
        "range-join blow-up at any skew, and since the round-6 "
        "reversed-frame fix each key costs O(n), not O(n^2)). Output: "
        "users surviving each step. The 100 TB shape: per-step "
        "pre-filters cut the event log to the step types before any "
        "shuffle; each as-of is one key-partitioned sort.",
)
def events_funnel_time_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )
    tol = f"interval {_FUNNEL_GAP_MIN} minutes"
    v = (
        ev.where(F.col("event_type") == _FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint()  # feeds the step-1 count AND the first as-of
    )
    clicks = ev.where(F.col("event_type") == _FUNNEL_STEPS[1]).select(
        "user_id", F.col("ts").alias("cts"), "event_id"
    )
    c = asof_join(
        v,
        clicks,
        key_left="user_id",
        key_right="user_id",
        left_ts="t1",
        right_ts="cts",
        payload_cols=["cts"],
        right_order="event_id",
        direction="forward",
        tolerance=tol,
    ).where(F.col("cts").isNotNull()).select(
        "user_id", F.col("cts").alias("t2")
    ).localCheckpoint()  # feeds the step-2 count AND the second as-of
    buys = ev.where(F.col("event_type") == _FUNNEL_STEPS[2]).select(
        "user_id", F.col("ts").alias("pts"), "event_id"
    )
    p = asof_join(
        c,
        buys,
        key_left="user_id",
        key_right="user_id",
        left_ts="t2",
        right_ts="pts",
        payload_cols=["pts"],
        right_order="event_id",
        direction="forward",
        tolerance=tol,
    ).where(F.col("pts").isNotNull())
    out = (
        v.agg(F.lit(1).alias("step"), F.count("*").cast("bigint").alias("n_users"))
        .unionByName(
            c.agg(
                F.lit(2).alias("step"),
                F.count("*").cast("bigint").alias("n_users"),
            )
        )
        .unionByName(
            p.agg(
                F.lit(3).alias("step"),
                F.count("*").cast("bigint").alias("n_users"),
            )
        )
    )
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Day-of-week x hour heatmap
# ---------------------------------------------------------------------------
#
# Day-of-week x hour event heatmap with per-cell load share — the
# ops-calendar view behind capacity planning and anomaly triage
# (companion to orders_seasonality_index's monthly view).


@register(
    "events_dow_hour_heatmap",
    oracle="""
    WITH cells AS (
        -- +1: DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hod,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
    SELECT dow, hod, n,
           CAST(round(1000000.0 * n / t.total) AS BIGINT) AS share_micro
    FROM cells CROSS JOIN t
    ORDER BY dow, hod
    """,
    doc="Day-of-week x hour-of-day event heatmap with per-cell load "
        "share — the ops-calendar view behind capacity planning, "
        "on-call staffing and 'is this spike normal for a Tuesday "
        "3pm' triage; companion to orders_seasonality_index's monthly "
        "seasonality. dow follows Spark's convention (1 = Sunday .. "
        "7 = Saturday; DuckDB's 0-based dayofweek is shifted in the "
        "oracle). The 100 TB shape: one map-side "
        "bucketing pass partial-combines onto the fixed 7x24 cell "
        "frame; the share divides by a broadcast scalar — nothing "
        "beyond the 168-cell rollup ever crosses the wire.",
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.dayofweek(F.col("ts").cast("timestamp")).cast("bigint").alias("dow"),
        F.hour(F.col("ts").cast("timestamp")).cast("bigint").alias("hod"),
    )
    cells = ev.groupBy("dow", "hod").agg(F.count("*").cast("bigint").alias("n"))
    t = cells.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        cells.crossJoin(F.broadcast(t))
        .select(
            "dow",
            "hod",
            "n",
            F.round(F.lit(1_000_000.0) * F.col("n") / F.col("total"))
            .cast("bigint")
            .alias("share_micro"),
        )
        .orderBy("dow", "hod")
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness
# ---------------------------------------------------------------------------
#
# Fano factor (variance-to-mean of daily counts) per event type — the
# burstiness dispersion index: ~1000 milli = Poisson-like arrivals,
# >> 1000 = bursty (the same regime events_burst_viterbi decodes
# day-by-day; this is the one-number screen that says which types are
# worth decoding).  Pure integer power sums, one rounded division.


@register(
    "events_fano_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(n) AS BIGINT) AS s,
               CAST(sum(n * n) AS BIGINT) AS ss
        FROM daily GROUP BY 1
    )
    SELECT event_type, n_days, s AS n_events,
           CAST(round(1000.0 * (n_days * ss - s * s)
                      / ((n_days - 1) * s)) AS BIGINT) AS fano_milli,
           (1000.0 * (n_days * ss - s * s) / ((n_days - 1) * s)) > 1500.0
               AS bursty
    FROM stats
    ORDER BY event_type
    """,
    doc="Fano factor (index of dispersion, variance / mean of daily "
        "counts) per event type, in milli-units: ~1000 = Poisson-like "
        "arrivals, substantially above = bursty — the one-number "
        "screen that says which event types are worth running "
        "events_burst_viterbi's day-level decode on, and the standard "
        "overdispersion diagnostic before fitting any count model. "
        "var/mean collapses to (n*SS - S^2) / ((n-1)*S) — pure integer "
        "power sums inside, ONE rounded division out; the bursty flag "
        "(threshold 1.5) compares the unrounded expression, which is "
        "still a single deterministic IEEE value per type. The 100 TB "
        "shape: events partial-combine onto the (type, day) calendar "
        "frame; the per-type fold is algebraic.",
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("timestamp").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("ss"),
    )
    fano = (
        F.lit(1000.0)
        * (F.col("n_days") * F.col("ss") - F.col("s") * F.col("s"))
        / ((F.col("n_days") - 1) * F.col("s"))
    )
    return stats.select(
        "event_type",
        "n_days",
        F.col("s").alias("n_events"),
        F.round(fano).cast("bigint").alias("fano_milli"),
        (fano > 1500.0).alias("bursty"),
    ).orderBy("event_type")


# customer segment migration matrix, Hill
# tail-index estimator.
#
# Two more named operators:
#
# - Segment migration: customers assigned an exact spend tertile in each
#   half of the order history (split at a pinned date), crossed into the
#   4x4 transition matrix with explicit "new" (absent in H1) and
#   "churned" (absent in H2) states — the retention-marketing staple
#   behind "are my high-value customers sliding".  Tertiles execute as
#   operators/ranks.exact_ntile per half; the matrix is a full-outer
#   join on the customer key.
# - Hill estimator of the activity-distribution tail index over the
#   top-k most active users: alpha = (k-1) / (sum ln x_i - k ln x_min)
#   over the descending order statistics — the standard power-law tail
#   measure (alpha near 1-2 = heavy tail, the regime where per-user
#   state and hot-key mitigations earn their keep).  The log sum is an
#   ORDER-PINNED fold over the sorted top-k list, so the float is
#   bit-identical on both engines.
#
# Float discipline (the queries module docstring): counts and tertile
# ranks are exact integers; the Hill fold is order-pinned and the reported
# alpha is one rounded division.

# ---------------------------------------------------------------------------
# Segment migration
# ---------------------------------------------------------------------------

_MIG_SPLIT = "1998-07-01"  # pinned midpoint of the 1995-2001 order span


@register(
    "customer_segment_migration",
    oracle=f"""
    WITH h1 AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '{_MIG_SPLIT}'
        GROUP BY 1
    ),
    h2 AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIG_SPLIT}'
        GROUP BY 1
    ),
    s1 AS (SELECT ck, ntile(3) OVER (ORDER BY cents, ck) AS seg FROM h1),
    s2 AS (SELECT ck, ntile(3) OVER (ORDER BY cents, ck) AS seg FROM h2)
    SELECT CAST(coalesce(s1.seg, 0) AS BIGINT) AS from_seg,
           CAST(coalesce(s2.seg, 0) AS BIGINT) AS to_seg,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM s1 FULL OUTER JOIN s2 ON s2.ck = s1.ck
    GROUP BY 1, 2
    ORDER BY from_seg, to_seg
    """,
    doc=f"Customer spend-tertile migration across the {_MIG_SPLIT} "
        "split: each half's customers rank into exact tertiles "
        "(1=low..3=high, ties pinned by custkey), and the full-outer "
        "join yields the 4x4 transition census with segment 0 encoding "
        "absence — (0, s) rows are NEW customers, (s, 0) rows are "
        "CHURNED — the retention matrix every lifecycle-marketing "
        "review starts from (the orders-side companion to "
        "events_markov_transitions, and the dynamic view behind "
        "orders_rfm_segmentation's snapshot). Tertiles execute as "
        "operators/ranks.exact_ntile per half — no single-partition "
        "window over the customer frames. The 100 TB shape: two "
        "date-pruned partial-combining rollups to the customer dim, "
        "two two-pass ntiles over that dim, one dim-keyed full-outer "
        "join (cannot broadcast by definition, sort-merge is "
        "correct), 16-row output.",
)
def customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    split = F.lit(_MIG_SPLIT).cast("timestamp")

    def half_segments(df):
        spend = df.groupBy(F.col("o_custkey").alias("ck")).agg(
            F.sum("cents").cast("bigint").alias("spend")
        )
        return exact_ntile(spend, ["spend", "ck"], 3, out_col="seg").select(
            "ck", "seg"
        )

    s1 = half_segments(orders.where(F.col("o_orderdate") < split))
    s2 = half_segments(orders.where(F.col("o_orderdate") >= split))
    return (
        s1.withColumnRenamed("seg", "seg1")
        .join(s2.withColumnRenamed("seg", "seg2"), "ck", "full_outer")
        .groupBy(
            F.coalesce(F.col("seg1"), F.lit(0)).cast("bigint").alias("from_seg"),
            F.coalesce(F.col("seg2"), F.lit(0)).cast("bigint").alias("to_seg"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("from_seg", "to_seg")
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_K = 200


@register(
    "events_hill_tail_index",
    oracle=f"""
    WITH activity AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    topk AS (
        SELECT n FROM activity
        ORDER BY n DESC, user_id
        LIMIT {_HILL_K}
    ),
    folded AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(min(n) AS BIGINT) AS x_min,
               -- order-pinned fold of the log order statistics
               list_reduce(
                   list_prepend(0.0, list(ln(1.0 * n) ORDER BY n)),
                   (acc, x) -> acc + x) AS s
        FROM topk
    )
    SELECT k, x_min,
           CAST(round(1000.0 * (k - 1) / (s - k * ln(1.0 * x_min)))
                AS BIGINT) AS alpha_milli
    FROM folded
    """,
    doc=f"Hill estimator of the user-activity tail index over the "
        f"top-{_HILL_K} most active users: with descending order "
        "statistics x_1..x_k, alpha = (k-1) / (sum ln x_i - k ln x_k) "
        "— the standard power-law tail measure. Alpha in [1, 2] means "
        "infinite-variance heavy tails (the regime where hot-key "
        "salting, per-user state caps and the CF hot cap are "
        "load-bearing, not paranoia); alpha > 3 means near-Gaussian  "
        "concentration. Top-k selection is sort-limit "
        "(TakeOrderedAndProject, ties pinned by user), the log sum is "
        "an ORDER-PINNED fold over the k-row list (bit-identical "
        "float on both engines — the PCA-norm device), and the "
        "reported alpha is one rounded division. The 100 TB shape: "
        "one partial-combining activity rollup, a k-row reduction; k "
        "is a dial.",
)
def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    activity = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    topk = activity.orderBy(F.col("n").desc(), "user_id").limit(_HILL_K)
    folded = topk.agg(
        F.count("*").cast("bigint").alias("k"),
        F.min("n").cast("bigint").alias("x_min"),
        F.aggregate(
            F.array_sort(F.collect_list(F.col("n").cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + F.log(x),
        ).alias("s"),
    )
    return folded.select(
        "k",
        "x_min",
        F.round(
            F.lit(1000.0)
            * (F.col("k") - 1)
            / (F.col("s") - F.col("k") * F.log(F.lit(1.0) * F.col("x_min")))
        )
        .cast("bigint")
        .alias("alpha_milli"),
    )


# the sketch escalation for sliding distinct counts.
#
# ``events_active_users`` computes exact rolling DAU/WAU/MAU; its docstring
# has always named the 100 TB escalation — mergeable per-day sketch state
# unioned across the window instead of an exact sliding DISTINCT.  This
# module ships that escalation as a registered companion query built on
# Spark's native Apache DataSketches HLL aggregates (``hll_sketch_agg`` /
# ``hll_union_agg`` / ``hll_sketch_estimate``, Spark >= 3.5): one map-side
# combinable sketch per day (kilobytes), trailing 7/30-day unions over the
# calendar-sized sketch frame, and an IN-PLAN |exact - sketch| tolerance
# verdict against the exact form — the ``agg_approx_distinct`` convention,
# so the oracle pins the exact counts and the verdict booleans.
#
# Float discipline (the queries module docstring): exact counts are
# bigints; the tolerance comparison is the only float op and lands in a
# boolean.

# ---------------------------------------------------------------------------
# DAU / WAU / MAU via mergeable HLL sketches
# ---------------------------------------------------------------------------

_HLL_LG_K = 14  # 2^14 buckets -> rsd ~0.8%; 5% tolerance is many sigma


@register(
    "events_active_users_sketch",
    oracle="""
    WITH base AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM base),
    dau AS (SELECT day, count(*) AS dau FROM base GROUP BY day),
    wau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS wau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 6 DAY
        GROUP BY d.day
    ),
    mau AS (
        SELECT d.day, count(DISTINCT b.user_id) AS mau
        FROM days d JOIN base b
          ON b.day <= d.day AND b.day >= d.day - INTERVAL 29 DAY
        GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           true AS dau_within_tol,
           true AS wau_within_tol,
           true AS mau_within_tol
    FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
    ORDER BY day
    """,
    doc="The 100 TB twin of events_active_users: rolling DAU/WAU/MAU "
        "from MERGEABLE per-day HyperLogLog sketches (Spark's native "
        "DataSketches hll_sketch_agg, lgConfigK=14 -> ~0.8% rsd) "
        "instead of the exact sliding DISTINCT that cannot partial-"
        "aggregate. The sketch side never shuffles a user id: the raw "
        "log collapses map-side into one kilobyte-scale sketch per day, "
        "the trailing 7/30-day windows fan out and hll_union_agg the "
        "CALENDAR-sized sketch frame (30 sketch rows per day, not the "
        "user frame), and hll_sketch_estimate closes each window. "
        "Verified IN-PLAN against the exact (day, user)-frame counts "
        "with a 5% relative tolerance per metric — the "
        "agg_approx_distinct convention (exact side small-scale-only; "
        "the sketch side is the plan that survives billions of users). "
        "The oracle pins the exact counts and the three verdicts.",
)
def events_active_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    # sketch side: map-side combinable HLL state per day, built from the
    # RAW log (no dedup shuffle anywhere on this path)
    day_sk = (
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(_HLL_LG_K)).alias("sk"))
        .localCheckpoint()  # feeds the spine + three window unions
    )
    days = day_sk.select("day")
    dau_sk = day_sk.select(
        "day", F.hll_sketch_estimate("sk").alias("dau_approx")
    )

    def win_union(n_days: int, name: str) -> DataFrame:
        d = days.alias("d")
        s = day_sk.alias("s")
        return (
            F.broadcast(d)
            .join(
                s,
                (F.col("s.day") <= F.col("d.day"))
                & (F.datediff(F.col("d.day"), F.col("s.day")) <= n_days - 1),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(name))
        )

    wau_sk = win_union(7, "wau_approx")
    mau_sk = win_union(30, "mau_approx")

    # exact side (verification, small-scale-only): the bounded
    # (day, user) DISTINCT frame, as events_active_users
    base = ev.distinct().localCheckpoint()
    dau = base.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))

    def rolling(n_days: int, name: str) -> DataFrame:
        d = days.alias("d")
        b = base.alias("b")
        return (
            F.broadcast(d)
            .join(
                b,
                (F.col("b.day") <= F.col("d.day"))
                & (F.datediff(F.col("d.day"), F.col("b.day")) <= n_days - 1),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("b.user_id").cast("bigint").alias(name))
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")

    def within(exact: str, approx: str) -> F.Column:
        return (
            F.abs(F.col(approx) - F.col(exact)) <= F.lit(0.05) * F.col(exact)
        ).alias(f"{exact}_within_tol")

    return (
        dau.join(F.broadcast(wau), "day")
        .join(F.broadcast(mau), "day")
        .join(F.broadcast(dau_sk), "day")
        .join(F.broadcast(wau_sk), "day")
        .join(F.broadcast(mau_sk), "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            "mau",
            within("dau", "dau_approx"),
            within("wau", "wau_approx"),
            within("mau", "mau_approx"),
        )
        .orderBy("day")
    )


# Float discipline (the queries module docstring): counts and cent sums are
# exact bigints; CUPED's moments go through IEEE doubles in one pinned
# expression order mirrored verbatim by the oracle (the orders_trend_ols
# precedent); every reported rate is rounded once to micro-units.

# ---------------------------------------------------------------------------
# Weekly cohort retention triangle
# ---------------------------------------------------------------------------
#
# Weekly cohort retention triangle: users bucketed by first-active ISO
# week, distinct actives per (cohort, week-age) — the classic retention
# heatmap input, built from two partial-aggregatable rollups of the
# (user, week) DISTINCT frame.


@register(
    "events_retention_triangle",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
        FROM events
    ),
    first AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
    sizes AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
        FROM first GROUP BY cohort
    ),
    act AS (
        SELECT f.cohort, CAST((uw.wk - f.cohort) / 7 AS BIGINT) AS age_weeks,
               CAST(count(DISTINCT uw.user_id) AS BIGINT) AS active_users
        FROM uw JOIN first f ON f.user_id = uw.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(a.cohort AS VARCHAR) AS cohort_week, a.age_weeks,
           a.active_users, s.cohort_users,
           CAST(round(1000000.0 * a.active_users / s.cohort_users) AS BIGINT)
               AS retention_micro
    FROM act a JOIN sizes s ON s.cohort = a.cohort
    ORDER BY cohort_week, age_weeks
    """,
    doc="Weekly cohort retention triangle: each user joins the cohort of "
        "their first active ISO week; for every (cohort, age-in-weeks) "
        "cell, the distinct active users and the retention rate in "
        "micro-units — the classic retention heatmap. The 100 TB shape: "
        "the event log collapses once to the DISTINCT (user, week) frame "
        "(partial-aggregatable), first-week per user is one more "
        "partial-combining min, and every later join/aggregate moves "
        "user-dim or calendar-sized data; cohort sizes broadcast.",
)
def events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    uw = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
        )
        .distinct()
        .localCheckpoint()  # feeds first-week AND the activity rollup
    )
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    act = (
        uw.join(first, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users"))
    )
    return (
        act.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("string").alias("cohort_week"),
            "age_weeks",
            "active_users",
            "cohort_users",
            F.round(
                F.lit(1_000_000.0) * F.col("active_users") / F.col("cohort_users")
            )
            .cast("bigint")
            .alias("retention_micro"),
        )
        .orderBy("cohort_week", "age_weeks")
    )


# ---------------------------------------------------------------------------
# CUPED-adjusted A/B readout
# ---------------------------------------------------------------------------
#
# CUPED-adjusted experiment readout: variance-reduced A/B lift using
# the pre-period covariate (theta = cov(x,y)/var(x) from pooled exact
# integer sums), the standard trick that shrinks experiment confidence
# intervals 30-60% — one narrow scan, one per-user rollup, all moments
# as exact bigint-backed sums folded in a single 1-row aggregate.

_CUPED_SPLIT = "2024-01-15"  # pre-period <= this date, post-period after


@register(
    "events_cuped_adjusted",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               ('0x' || substring(md5('cuped:' || CAST(user_id AS VARCHAR)),
                                  1, 4))::BIGINT % 2 AS arm,
               CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) <= DATE '{_CUPED_SPLIT}'
                    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
               CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) > DATE '{_CUPED_SPLIT}'
                    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN x END), 0) AS BIGINT) AS sx0,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN x END), 0) AS BIGINT) AS sx1,
               CAST(coalesce(sum(CASE WHEN arm = 0 THEN y END), 0) AS BIGINT) AS sy0,
               CAST(coalesce(sum(CASE WHEN arm = 1 THEN y END), 0) AS BIGINT) AS sy1
        FROM per_user
    ),
    t AS (
        SELECT *,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
        FROM s
    )
    SELECT n AS n_users, n0 AS n_arm0, n1 AS n_arm1,
           CAST(round(1000000.0 * theta) AS BIGINT) AS theta_micro,
           CAST(round(1000000.0 * (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
                AS BIGINT) AS mean_y0_micro,
           CAST(round(1000000.0 * (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
                AS BIGINT) AS mean_y1_micro,
           CAST(round(1000000.0 * ((CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                - theta * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                AS BIGINT) AS mean_y0_adj_micro,
           CAST(round(1000000.0 * ((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                - theta * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                AS BIGINT) AS mean_y1_adj_micro,
           CAST(round(1000000.0
                * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                AS BIGINT) AS var_reduction_micro
    FROM t
    """,
    doc="CUPED-adjusted A/B readout (Deng et al. 2013): users hash into "
        "two arms (md5 draw, engine-replayable), the pre-period value "
        "sum is the covariate x, the post-period sum the metric y; "
        "theta = cov(x,y)/var(x) from POOLED moments, adjusted arm "
        "means y_bar - theta*(x_bar_arm - x_bar), and the variance-"
        "reduction factor rho^2 — the standard trick that shrinks "
        "experiment CIs by the pre/post correlation. The 100 TB shape: "
        "one narrow scan collapses map-side into the per-user rollup "
        "(one exchange on user_id), then ALL moments (n/Sx/Sy/Sxx/Sxy/"
        "Syy + per-arm sums) fold in ONE partial-combining 1-row "
        "aggregate — no second pass, no window anywhere. Moments are "
        "exact bigints; theta and the adjusted means go through IEEE "
        "doubles in one pinned expression order the oracle mirrors "
        "verbatim (the orders_trend_ols precedent), each reported once "
        "in micro-units.",
)
def events_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts").cast("date") <= F.lit(_CUPED_SPLIT).cast("date")
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cuped:"), F.col("user_id").cast("string"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 2,
        )
    )
    s = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("x"))), F.lit(0))
        .cast("bigint")
        .alias("sx0"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("x"))), F.lit(0))
        .cast("bigint")
        .alias("sx1"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("sy0"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("sy1"),
    )

    def d(c: str) -> Column:
        return F.col(c).cast("double")

    theta = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        d("n") * d("sxx") - d("sx") * d("sx")
    )
    t = s.withColumn("theta", theta)

    def adj(sy_a: str, n_a: str, sx_a: str) -> Column:
        return (d(sy_a) / d(n_a)) - F.col("theta") * (
            d(sx_a) / d(n_a) - d("sx") / d("n")
        )

    def micro(c: Column) -> Column:
        return F.round(F.lit(1_000_000.0) * c).cast("bigint")

    rho2 = (
        (d("n") * d("sxy") - d("sx") * d("sy"))
        * (d("n") * d("sxy") - d("sx") * d("sy"))
    ) / (
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    return t.select(
        F.col("n").alias("n_users"),
        F.col("n0").alias("n_arm0"),
        F.col("n1").alias("n_arm1"),
        micro(F.col("theta")).alias("theta_micro"),
        micro(d("sy0") / d("n0")).alias("mean_y0_micro"),
        micro(d("sy1") / d("n1")).alias("mean_y1_micro"),
        micro(adj("sy0", "n0", "sx0")).alias("mean_y0_adj_micro"),
        micro(adj("sy1", "n1", "sx1")).alias("mean_y1_adj_micro"),
        micro(rho2).alias("var_reduction_micro"),
    )


# Markov removal-effect attribution.
#
# The data-driven attribution model (Anderl et al. 2014) that
# events_attribution_models' first/last-touch heuristics approximate:
# journeys become a first-order Markov chain over channel states with
# START and absorbing CONV/NULL states, and a channel's credit is its
# REMOVAL EFFECT — how much the chain's conversion probability drops when
# every hop into that channel is redirected to NULL.
#
# Absorption is computed by K unrolled power-iteration steps over the
# (states x states) transition table — a frame bounded by the CHANNEL
# DOMAIN squared (here 7x7), never by events — and, critically for the
# oracle hash-match, the whole chain runs in INTEGER micro-unit
# arithmetic: probabilities are floor-divided micro fractions and each
# step's mass update is a per-edge (mass * p) div 1e6 before the sum, so
# the arithmetic is order-independent and bit-identical in any engine (a
# double-precision chain would hash-mismatch on Spark's nondeterministic
# float aggregation order).  K=8 truncation is pinned in both engines;
# self-loops on the absorbing states mean step K's CONV row IS the
# absorbed mass.
#
# Float discipline: ZERO floats — every probability, mass and effect is
# integer micro-units with explicit floor division.

_MK_STEPS = 8
_MK_CHANNELS = ("click", "error", "signup", "view")  # purchase -> conv
_MK_M = 1_000_000


def _mk_oracle() -> str:
    """Unrolled-CTE DuckDB mirror: same journeys, same integer chain."""
    scen_sql = []
    for r in ("none", *_MK_CHANNELS):
        if r == "none":
            tr = f"""tr_{r} AS (
        SELECT src, dst, p FROM probs
        UNION ALL SELECT 'conv', 'conv', {_MK_M}
        UNION ALL SELECT 'null', 'null', {_MK_M})"""
        else:
            tr = f"""tr_{r} AS (
        SELECT src, CASE WHEN dst = '{r}' THEN 'null' ELSE dst END AS dst,
               CAST(sum(p) AS BIGINT) AS p
        FROM probs WHERE src <> '{r}' GROUP BY 1, 2
        UNION ALL SELECT 'conv', 'conv', {_MK_M}
        UNION ALL SELECT 'null', 'null', {_MK_M})"""
        steps = [f"v0_{r} AS (SELECT 'start' AS s, CAST({_MK_M} AS BIGINT) AS mass)"]
        for k in range(1, _MK_STEPS + 1):
            steps.append(
                f"""v{k}_{r} AS (
        SELECT t.dst AS s,
               CAST(sum((v.mass * t.p) // {_MK_M}) AS BIGINT) AS mass
        FROM v{k - 1}_{r} v JOIN tr_{r} t ON t.src = v.s GROUP BY t.dst)"""
            )
        scen_sql.append(",\n    ".join([tr, *steps]))
    finals = ",\n    ".join(
        f"c_{r} AS (SELECT coalesce((SELECT mass FROM v{_MK_STEPS}_{r} "
        f"WHERE s = 'conv'), 0) AS conv)"
        for r in ("none", *_MK_CHANNELS)
    )
    rows = "\n        UNION ALL ".join(
        f"SELECT '{r}' AS removed_channel, (SELECT conv FROM c_{r}) AS conv_micro"
        for r in ("none", *_MK_CHANNELS)
    )
    scenarios = ",\n    ".join(scen_sql)
    return f"""
    WITH keyed AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 'conv'
                    ELSE event_type END AS state,
               event_type = 'purchase' AS is_conv
        FROM events
    ),
    fp AS (
        SELECT user_id, ts AS cut_ts, event_id AS cut_id FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM keyed WHERE is_conv) WHERE rn = 1
    ),
    j AS (
        SELECT k.user_id, k.ts, k.event_id, k.state
        FROM keyed k LEFT JOIN fp ON fp.user_id = k.user_id
        WHERE fp.cut_ts IS NULL
           OR (k.ts, k.event_id) <= (fp.cut_ts, fp.cut_id)
    ),
    seq AS (
        SELECT user_id, state,
               lag(state) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rdesc
        FROM j
    ),
    edges AS (
        SELECT coalesce(prev, 'start') AS src, state AS dst FROM seq
        UNION ALL
        SELECT state, 'null' FROM seq WHERE rdesc = 1 AND state <> 'conv'
    ),
    cnt AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        FROM edges GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY src),
    probs AS (
        SELECT c.src, c.dst,
               CAST((c.n * {_MK_M}) // t.total AS BIGINT) AS p
        FROM cnt c JOIN tot t ON t.src = c.src
    ),
    {scenarios},
    {finals},
    scen AS (
        {rows}
    )
    SELECT s.removed_channel, s.conv_micro,
           CASE WHEN s.removed_channel = 'none' THEN 0
                ELSE ((SELECT conv FROM c_none) - s.conv_micro) * {_MK_M}
                     // (SELECT conv FROM c_none) END AS removal_effect_micro
    FROM scen s
    ORDER BY removed_channel
    """


@register(
    "events_markov_attribution",
    oracle=_mk_oracle(),
    doc="Markov removal-effect attribution (the data-driven model first/"
        "last-touch approximates): user journeys truncated at first "
        "purchase become a first-order chain over channel states with "
        "START and absorbing CONV/NULL; each channel's credit is how "
        "much K=8-step absorbed conversion mass drops when hops into it "
        "are redirected to NULL (no renormalization — the standard "
        "removal semantics). The 100 TB shape: ONE pass over the event "
        "log builds the edge counts (per-user window + partial-agg "
        "rollup to the CHANNEL-DOMAIN-squared transition frame, here "
        "7x7), and all five scenario chains run as unrolled tiny-frame "
        "joins that never touch raw events again. The entire chain is "
        "INTEGER micro-unit arithmetic (floor-divided probabilities, "
        "per-edge (mass*p) div 1e6 before each sum) — order-independent "
        "and bit-identical across engines, where a double-precision "
        "chain would be hostage to float aggregation order.",
)
def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    keyed = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "conv")
        .otherwise(F.col("event_type"))
        .alias("state"),
        (F.col("event_type") == "purchase").alias("is_conv"),
    )
    key = F.struct("ts", "event_id")
    fp = keyed.where("is_conv").groupBy("user_id").agg(F.min(key).alias("cut"))
    j = keyed.join(fp, "user_id", "left").where(
        F.col("cut").isNull() | (key <= F.col("cut"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = j.select(
        "state",
        F.lag("state").over(w).alias("prev"),
        F.row_number().over(wd).alias("rdesc"),
    )
    # both edge kinds in ONE pass (no self-union of the window frame):
    # the hop edge always, the terminal ->null edge only on the last
    # non-converting row
    hop = F.struct(
        F.coalesce(F.col("prev"), F.lit("start")).alias("src"),
        F.col("state").alias("dst"),
    )
    terminal = F.when(
        (F.col("rdesc") == 1) & (F.col("state") != "conv"),
        F.struct(F.col("state").alias("src"), F.lit("null").alias("dst")),
    )
    edges = (
        seq.select(F.explode(F.array(hop, terminal)).alias("e"))
        .where(F.col("e").isNotNull())
        .select("e.src", "e.dst")
    )
    cnt = edges.groupBy("src", "dst").agg(F.count("*").cast("bigint").alias("n"))
    tot = cnt.groupBy("src").agg(F.sum("n").cast("bigint").alias("total"))
    probs = cnt.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        int_div(F.col("n") * _MK_M, F.col("total")).alias("p"),
    )
    # Pivot the (<= states^2)-row probability frame into ONE row of p_s_t
    # columns: every scenario chain then runs as PURE integer expression
    # arithmetic on that row — zero joins, zero shuffles, zero extra jobs
    # (the first form, a per-step join+groupBy loop, spent 50 s on 40
    # tiny-frame shuffle stages computing the same numbers).
    states = ("start", *_MK_CHANNELS, "conv", "null")
    transient = ("start", *_MK_CHANNELS)
    pivot = probs.agg(
        *[
            F.coalesce(
                F.max(F.when((F.col("src") == s) & (F.col("dst") == t), F.col("p"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"p_{s}_{t}")
            for s in transient
            for t in states
            if t != "start"
        ]
    ).localCheckpoint()
    scens = ("none", *_MK_CHANNELS)

    def p_sql(scen: str, s: str, t: str) -> str | None:
        """Effective transition p(s -> t) under the scenario, as a SQL
        fragment over the pivot row — None when identically zero
        (absorbing self-loops inlined).  Whole steps are built as SQL
        strings because the Column-object form spent 55 s of pure Py4J
        round trips constructing the same arithmetic."""
        if s in ("conv", "null"):
            return str(_MK_M) if t == s else None
        if t == "start":
            return None
        if scen != "none":
            if s == scen or t == scen:
                return None
            if t == "null":
                return f"(p_{s}_null + p_{s}_{scen})"
        return f"p_{s}_{t}"

    p_cols = list(pivot.columns)
    df = pivot.select(
        *p_cols,
        *[
            F.expr(
                f"CAST({_MK_M if st == 'start' else 0} AS BIGINT) AS m_{sc}_{st}"
            )
            for sc in scens
            for st in states
        ],
    )
    for step in range(_MK_STEPS):
        new_masses = []
        for sc in scens:
            for t in states:
                # `div` is Spark SQL's exact integral division on bigints
                # (DuckDB's `//`); per-edge division BEFORE the sum keeps
                # the arithmetic order-independent
                terms = [
                    f"((m_{sc}_{s} * {p}) div {_MK_M})"
                    for s in states
                    for p in [p_sql(sc, s, t)]
                    if p is not None
                ]
                body = " + ".join(terms) if terms else "0"
                new_masses.append(
                    F.expr(f"CAST({body} AS BIGINT) AS m_{sc}_{t}")
                )
        df = df.select(*p_cols, *new_masses)
        # lazy lineage barrier every second step: without any barrier
        # CollapseProject inlines the 8 chained projections into one
        # 7^8-node expression tree (measured 78 s of pure Catalyst time
        # on a 1-row frame); a 2-step span inlines at most 7^2 terms per
        # column while halving the per-barrier compile cost.  Execution
        # stays pipelined single-task work.
        if step % 2 == 1:
            df = df.localCheckpoint(eager=False)
    conv_cols = df.select(
        *[F.col(f"m_{sc}_conv").alias(f"c_{sc}") for sc in scens]
    )
    stacked = conv_cols.select(
        F.expr(
            "stack({n}, {args}) as (removed_channel, conv_micro)".format(
                n=len(scens),
                args=", ".join(f"'{sc}', c_{sc}" for sc in scens),
            )
        ),
        F.col("c_none").alias("base_conv"),
    )
    return stacked.select(
        "removed_channel",
        "conv_micro",
        F.when(F.col("removed_channel") == "none", F.lit(0).cast("bigint"))
        .otherwise(
            int_div(
                (F.col("base_conv") - F.col("conv_micro")) * _MK_M,
                F.col("base_conv"),
            )
        )
        .alias("removal_effect_micro"),
    ).orderBy("removed_channel")
