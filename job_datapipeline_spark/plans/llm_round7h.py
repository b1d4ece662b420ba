"""Round-7 eighth batch: streaming stream-static binned range join.

The production composition of operators/rangejoin with Structured
Streaming: purchase events ARRIVE as a file-source stream (3 files, one
AvailableNow micro-batch each), and every micro-batch bin-range-joins
ONLY its own rows against a static interval dimension (per-user +-30 min
error windows) — the stream-enrichment shape of ad-attribution windows,
maintenance/flag intervals and SLA clocks.  Because each point row is
enriched independently, the accumulated sink equals the one-shot batch
join regardless of arrival order, which is what the oracle replays as a
plain inequality join.

Per-micro-batch cost is O(batch): the interval dim broadcasts (it is
bounded by the incident domain, not the stream), the batch explodes to
one bin row per point, and nothing rereads prior batches.

Reference parity: the reference's closest shape is the daily
re-scrape's date-window file pick (data-cleaner/cleaner.py:143) — a
driver-side filter, not a join; this is the distributed, streaming
re-expression.  Float discipline: integer epoch-microsecond bounds and
counts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.rangejoin import bin_range_join
from .llm_round7e import _RW_BIN_US, _RW_HALF_US
from .queries import _scratch_dir, _stream_state_partitions
from .registry import register


@register(
    "streaming_range_join_ingest",
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
    doc="Stream-static binned range join: purchases arrive as a real "
        "AvailableNow file stream (3 hash-split files, one micro-batch "
        "each) and every foreachBatch enriches ONLY its own rows through "
        "operators/rangejoin.bin_range_join against the static per-user "
        "error-window dim, appending matches to the sink — the streaming "
        "enrichment shape of attribution windows and maintenance/flag "
        "intervals. Point rows enrich independently, so the accumulated "
        "sink equals the one-shot batch join for ANY arrival order — the "
        "oracle replays that batch join as a plain inequality join. "
        "Per-batch cost is O(batch): the interval dim broadcasts "
        "(bounded by the incident domain, not the stream) and prior "
        "batches are never reread. Bounds compare as exact integer "
        "epoch-microseconds; the final per-window rollup + zero-fill "
        "runs batch-side over the sink.",
)
def streaming_range_join_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    )
    errors = (
        ev.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            (F.col("t") - _RW_HALF_US).alias("lo"),
            (F.col("t") + _RW_HALF_US).alias("hi"),
        )
        .localCheckpoint()  # the static dim every micro-batch probes
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "t"
    )
    root = _scratch_dir("stream_range_join")
    src = _os.path.join(root, "src")
    result = _os.path.join(root, "matches")
    ckpt = _os.path.join(root, "ckpt")
    staged = purchases.withColumn(
        "_split", F.pmod(F.xxhash64("p_id"), F.lit(3)).cast("int")
    ).localCheckpoint()
    for k in range(3):
        staged.filter(F.col("_split") == k).drop("_split").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        matches = bin_range_join(
            batch_df,
            F.broadcast(errors),
            point_col="t",
            lo_col="lo",
            hi_col="hi",
            bin_width=_RW_BIN_US,
            keys=["user_id"],
        ).select("err_id", "p_id")
        matches.write.mode("append").parquet(result)

    stream = (
        spark.readStream.schema(staged.drop("_split").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(enrich)
            .start()
        )
        q.awaitTermination()
    # explicit schema: a zero-match run leaves no part files and
    # schema inference would fail on the empty directory
    sink = spark.read.schema("err_id long, p_id long").parquet(result)
    agg = sink.groupBy("err_id").agg(
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
