"""Round-7 first batch: the sketch escalation for sliding distinct counts.

``events_active_users`` computes exact rolling DAU/WAU/MAU; its docstring
has always named the 100 TB escalation — mergeable per-day sketch state
unioned across the window instead of an exact sliding DISTINCT.  This
module ships that escalation as a registered companion query built on
Spark's native Apache DataSketches HLL aggregates (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``, Spark >= 3.5): one map-side
combinable sketch per day (kilobytes), trailing 7/30-day unions over the
calendar-sized sketch frame, and an IN-PLAN |exact - sketch| tolerance
verdict against the exact form — the ``agg_approx_distinct`` convention,
so the oracle pins the exact counts and the verdict booleans.

Reference parity: none in the reference (glassdoor-scraper/src/main.py).
Float discipline (plans/queries.py header): exact counts are bigints;
the tolerance comparison is the only float op and lands in a boolean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

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
