"""Round-5 tenth batch: new-user growth accounting, weighted median,
inter-purchase gap percentiles, planted-bot detection.

Four more named operators:

- New vs returning growth accounting: per day, first-seen users,
  returning users, and the cumulative user base — the growth curve
  behind every "cumulative users" chart, computed exactly from the
  first-occurrence frame (running DISTINCT rewritten as
  first-seen + cumsum, which partial-aggregates where a sliding
  distinct cannot).
- Weighted median (quantity-weighted price): the smallest value whose
  running weight reaches half the total — the estimator price indexes
  use, computed by the cumsum-threshold device with integer
  cross-multiplication (2*cum >= total), no interpolation ambiguity.
- Inter-purchase gap percentiles per market segment: lag gaps per
  customer, then exact p50/p90 via the same cumsum-threshold device
  over the gap-value frame — purchase-cadence analytics.
- Bot detection with a PLANTED bot: a synthetic user emitting
  perfectly regular events is generated in-plan (the planted-edit
  pattern, extended to row generation) and unioned with the log; the
  detector flags users with >= 100 gaps whose n-scaled gap variance
  is under 1/10000 of the squared mean (cv < 1%) — exactly the
  planted user and provably nobody organic.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py). Float discipline (plans/queries.py header): every statistic
here is EXACT bigint arithmetic — gaps floor-divide to seconds, the
variance test and both percentile cuts are integer
cross-multiplications; no floating point anywhere but display shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

# ---------------------------------------------------------------------------
# New vs returning growth
# ---------------------------------------------------------------------------


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
# Weighted median
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS wt
        FROM lineitem
    ),
    grouped AS (
        SELECT flag, cents, CAST(sum(wt) AS BIGINT) AS wt
        FROM w GROUP BY flag, cents
    ),
    cum AS (
        SELECT flag, cents, wt,
               CAST(sum(wt) OVER (PARTITION BY flag ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_wt
        FROM grouped
    ),
    tot AS (SELECT flag, CAST(sum(wt) AS BIGINT) AS total FROM grouped
            GROUP BY flag)
    SELECT c.flag AS l_returnflag,
           CAST(min(c.cents) AS BIGINT) AS weighted_median_cents,
           CAST(min(t.total) AS BIGINT) AS total_weight
    FROM cum c JOIN tot t ON t.flag = c.flag
    WHERE 2 * c.cum_wt >= t.total
    GROUP BY c.flag
    ORDER BY l_returnflag
    """,
    doc="Weighted median — quantity-weighted price per return flag: the "
        "smallest price whose running weight reaches half the total "
        "(the lower weighted median, pinned by 2*cum >= total integer "
        "cross-multiplication — no interpolation, no division, so the "
        "cut is engine-exact even at ties). This is the estimator price "
        "indexes and robust aggregation use where each observation "
        "carries a volume. The 100 TB shape: the (group, value) "
        "pre-aggregate partial-combines map-side (the cumsum then runs "
        "on the distinct-value frame per group, not raw rows), the "
        "per-group totals broadcast, and the threshold pick is a "
        "filter + min — the same bounded-frame cumsum-threshold device "
        "as the ABC classifier; the documented escalation for huge "
        "value domains is the two-pass histogram narrowing exact "
        "medians use (agg_percentiles).",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    w0 = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("wt"),
    )
    grouped = (
        w0.groupBy("flag", "cents")
        .agg(F.sum("wt").cast("bigint").alias("wt"))
        .localCheckpoint()  # feeds the totals AND the cumsum
    )
    win = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grouped.withColumn("cum_wt", F.sum("wt").over(win).cast("bigint"))
    tot = grouped.groupBy("flag").agg(F.sum("wt").cast("bigint").alias("total"))
    return (
        cum.join(F.broadcast(tot), "flag")
        .filter(2 * F.col("cum_wt") >= F.col("total"))
        .groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.min("cents").cast("bigint").alias("weighted_median_cents"),
            F.min("total").cast("bigint").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Inter-purchase gap percentiles
# ---------------------------------------------------------------------------


@register(
    "orders_interpurchase_gaps",
    oracle="""
    WITH seq AS (
        SELECT o_custkey AS k,
               datediff('day',
                        lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate,
                                                        o_orderkey),
                        o_orderdate) AS gap
        FROM orders
    ),
    gaps AS (
        SELECT c.c_mktsegment AS segment, s.gap
        FROM seq s JOIN customer c ON c.c_custkey = s.k
        WHERE s.gap IS NOT NULL
    ),
    grouped AS (
        SELECT segment, gap, count(*) AS n FROM gaps GROUP BY segment, gap
    ),
    cum AS (
        SELECT segment, gap, n,
               CAST(sum(n) OVER (PARTITION BY segment ORDER BY gap
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_n
        FROM grouped
    ),
    tot AS (SELECT segment, CAST(sum(n) AS BIGINT) AS total FROM grouped
            GROUP BY segment)
    SELECT c.segment,
           CAST(min(c.gap) FILTER (WHERE 2 * c.cum_n >= t.total) AS BIGINT)
               AS p50_gap_days,
           CAST(min(c.gap) FILTER (WHERE 10 * c.cum_n >= 9 * t.total)
                AS BIGINT) AS p90_gap_days,
           CAST(min(t.total) AS BIGINT) AS n_gaps,
           CAST(max(c.gap) AS BIGINT) AS max_gap_days
    FROM cum c JOIN tot t ON t.segment = c.segment
    GROUP BY c.segment
    ORDER BY c.segment
    """,
    doc="Inter-purchase gap percentiles per market segment: per "
        "customer, gaps between consecutive orders (pinned order "
        "(date, key)); per segment, exact p50/p90 gap via the "
        "cumsum-threshold device with integer cross-multiplication "
        "(2*cum >= total, 10*cum >= 9*total — the lower percentile, "
        "no interpolation) — purchase-cadence analytics, the input to "
        "churn windows and replenishment models. The 100 TB shape: one "
        "customer-hash shuffle for the lag window, a broadcast dim "
        "join for the segment, then everything runs on the (segment, "
        "gap-value) frame — bounded by the gap domain in days — via "
        "one partial-aggregatable rollup; same device, same bound, as "
        "agg_weighted_median. All arithmetic exact.",
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("segment")
    )
    gaps = seq.filter(F.col("gap").isNotNull()).join(F.broadcast(cust), "k")
    grouped = (
        gaps.groupBy("segment", "gap")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # feeds the totals AND the cumsum
    )
    win = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grouped.withColumn("cum_n", F.sum("n").over(win).cast("bigint"))
    tot = grouped.groupBy("segment").agg(F.sum("n").cast("bigint").alias("total"))
    return (
        cum.join(F.broadcast(tot), "segment")
        .groupBy("segment")
        .agg(
            F.min(F.when(2 * F.col("cum_n") >= F.col("total"), F.col("gap")))
            .cast("bigint")
            .alias("p50_gap_days"),
            F.min(
                F.when(10 * F.col("cum_n") >= 9 * F.col("total"), F.col("gap"))
            )
            .cast("bigint")
            .alias("p90_gap_days"),
            F.min("total").cast("bigint").alias("n_gaps"),
            F.max("gap").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Bot detection with a planted bot
# ---------------------------------------------------------------------------

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
