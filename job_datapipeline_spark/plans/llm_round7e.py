"""Round-7 fifth batch: binned range join.

Spark has no native point-in-interval join — an inequality join compiles
to BroadcastNestedLoopJoin (or CartesianProduct), the O(points x
intervals) shape that dies first at scale.  operators/rangejoin.
bin_range_join is the standard equi-join rewrite (bin the point axis,
explode intervals to covered bins, equi-join on (keys, bin), re-check
bounds); this module registers its flagship use: purchases attributed
into +-30-minute error windows of the SAME user — "did errors suppress
or precede purchases" incident forensics.

Timestamps compare as INTEGER epoch microseconds on both engines
(Spark unix_micros vs DuckDB epoch_us), so the window bounds are exact
and the hash match certifies the full pair set.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Float discipline: integer microseconds and counts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.rangejoin import bin_range_join
from .registry import register

_RW_HALF_US = 1_800_000_000  # +-30 min in microseconds
_RW_BIN_US = 3_600_000_000  # 1 h bins ~ the interval width


@register(
    "join_range_binned_windows",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events
    ),
    err AS (
        SELECT event_id AS err_id, user_id,
               t - {_RW_HALF_US} AS lo, t + {_RW_HALF_US} AS hi
        FROM ev WHERE event_type = 'error'
    ),
    p AS (
        SELECT event_id AS p_id, user_id, t FROM ev
        WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT e.err_id, CAST(count(*) AS BIGINT) AS n,
               CAST(min(p.p_id) AS BIGINT) AS mn
        FROM err e JOIN p
          ON p.user_id = e.user_id AND p.t BETWEEN e.lo AND e.hi
        GROUP BY 1
    )
    SELECT e.err_id AS err_id, e.user_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_purchases,
           m.mn AS first_purchase_id
    FROM err e LEFT JOIN m ON m.err_id = e.err_id
    ORDER BY e.err_id
    """,
    doc="Point-in-interval join via operators/rangejoin.bin_range_join: "
        "every purchase landing inside a +-30-minute window around the "
        "same user's error events — incident forensics Spark would "
        "otherwise run as a BroadcastNestedLoopJoin over points x "
        "intervals. The rewrite bins epoch-microsecond time into 1-hour "
        "buckets, maps each point to its ONE bin, explodes each interval "
        "to the <= 2 bins it covers, equi-joins on (user_id, bin) and "
        "re-checks exact bounds — a pair meets in exactly one bin, so "
        "the result needs no dedup and the join shuffles/AQE-balances "
        "like any equi-join. The 100 TB shape: join rows = |points| + "
        "~2|intervals| (the explode factor is interval_width/W + 1, "
        "tunable; degenerate long intervals get split or broadcast per "
        "the operator doc); bounds compare as exact integer "
        "microseconds on both engines.",
)
def join_range_binned_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        (F.col("t") - _RW_HALF_US).alias("lo"),
        (F.col("t") + _RW_HALF_US).alias("hi"),
    ).localCheckpoint()  # feeds the bin join AND the final zero-fill join
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "t"
    )
    matches = bin_range_join(
        purchases,
        errors,
        point_col="t",
        lo_col="lo",
        hi_col="hi",
        bin_width=_RW_BIN_US,
        keys=["user_id"],
    )
    agg = matches.groupBy("err_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("p_id").cast("bigint").alias("mn"),
    )
    return (
        errors.select("err_id", "user_id")
        .join(agg, "err_id", "left")
        .select(
            "err_id",
            "user_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_purchases"),
            F.col("mn").alias("first_purchase_id"),
        )
        .orderBy("err_id")
    )
