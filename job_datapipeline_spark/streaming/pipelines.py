"""Structured Streaming pipelines over the events stream.

The daily-incremental semantics the reference implements with date-stamped
S3 objects (cleaner.py:143 stamps, populator.py:22 newest-only) become a
file-source stream: new files land in a directory, ``Trigger.AvailableNow``
processes everything outstanding exactly once (checkpointed), and the job
exits — the same cron-shaped operational model, with Spark owning state,
retries, and exactly-once bookkeeping instead of hand-rolled retry loops
(cleaner.py:17-40).

State stays bounded at 100 TB/day because every stateful operator carries a
watermark: windows finalize and evict, and dedup keys expire after the
lateness horizon (``dropDuplicatesWithinWatermark``) instead of growing
forever like the reference's in-process ``@cache`` (listing.py:188).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Stream-side events schema: like schemas.EVENTS but with a zoned timestamp
# (watermark arithmetic is defined on TimestampType; under the engine's
# fixed UTC session timezone the values are identical to the batch NTZ view).
STREAM_EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType = STREAM_EVENTS,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of event parquet files — the
    incremental ingest path. Explicit schema (no inference race with an
    empty directory); ``maxFilesPerTrigger`` bounds micro-batch size for
    continuous runs."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the registry's ``events_hourly_rollup``: tumbling
    1-hour windows, counts + rounded value sums per event_type. The
    watermark finalizes (and evicts) windows once event time has moved
    ``watermark`` past their end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of ``events_sessionize``: native session windows with
    a 30-minute inactivity gap. The batch twin labels sessions with ordinal
    ids (gaps-and-islands); the streaming form identifies a session by its
    (start, end) interval — same partitioning of events, different key
    representation, asserted equivalent in tests."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """In-flight duplicate suppression with bounded state: duplicates of an
    event_id arriving within the watermark horizon are dropped; state for
    old keys is evicted. The streaming form of the reference's in-run
    memo/dedup (page.py:51 set(), listing.py:188 @cache) that cannot grow
    without bound."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def view_click_attribution_stream(
    events: DataFrame,
    horizon_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each click attributed to prior views by
    the same user within ``horizon_minutes`` — the classic streaming
    attribution shape (and the stream-stream-join surface of the engine).

    Both sides carry a watermark and the join condition bounds event time on
    both ends, so Spark can size the join state buffer and evict rows whose
    match window has passed: state stays bounded at any input rate. Without
    the time bound the buffers grow forever — this is the join-condition
    contract Structured Streaming requires for append-mode stream-stream
    joins. Batch-equivalence is asserted in tests by running the identical
    frame both ways.
    """
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if views.isStreaming:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + interval {int(horizon_minutes)} minutes"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


def available_now_to_parquet(
    sdf: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> StreamingQuery:
    """Run an incremental catch-up: process all files not yet seen by this
    checkpoint, write parquet, stop. Re-running with the same checkpoint is
    exactly-once — already-processed files produce nothing."""
    q = (
        sdf.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", path)
        .start()
    )
    q.awaitTermination()
    return q


def available_now_to_memory(
    sdf: DataFrame, name: str, checkpoint: str, output_mode: str = "complete"
) -> StreamingQuery:
    """AvailableNow run into an in-memory table (tests/inspection): complete
    mode emits every window including ones the watermark has not finalized,
    so finite replays compare 1:1 against their batch twin."""
    q = (
        sdf.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return q


def enrich_with_static_dim(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
) -> DataFrame:
    """Stream-STATIC join: each micro-batch joins against a batch dim
    (re-planned per batch, so a refreshed dim table is picked up without
    restarting the stream). The static side carries no watermark and no
    state — this is the bounded-memory enrichment path for dimension
    lookups, vs the stateful stream-stream join which buffers both sides.
    Broadcast hint keeps the per-batch join shuffle-free when the dim is
    dimension-sized."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), events[on_left] == dim[on_right])


def foreachbatch_partition_upsert(
    stream: DataFrame,
    target_dir: str,
    checkpoint: str,
    partition_col: str = "event_hour",
) -> None:
    """The production serving-table maintenance pattern: foreachBatch +
    dynamic partition overwrite. Each micro-batch recomputes the rollups
    for ONLY the partitions it touches and overwrites exactly those
    directories (the per-write ``partitionOverwriteMode=dynamic`` option; the
    session conf is left as it is), so a replayed batch (failure/retry)
    converges to the same state —
    idempotent at the partition level, the MERGE-less upsert for plain
    parquet. The checkpoint gives each batch an id; Spark guarantees
    foreachBatch sees every batch at least once, and the overwrite makes
    re-delivery harmless.

    PRECONDITION — whole partitions per batch: every micro-batch MUST carry
    ALL rows of each `partition_col` value it touches (e.g. an aggregated
    stream in update mode re-emitting the full current rollup rows for the
    touched keys). A batch carrying a PARTIAL partition silently deletes
    the rows an earlier batch wrote for that partition, because overwrite
    replaces the whole directory. If the upstream cannot guarantee this,
    aggregate to one row per (partition, key) inside `upsert` from a
    read-modify-write of the existing partition, or use a MERGE-capable
    table format. The registry query satisfies it by feeding a complete
    per-hour rollup whose update-mode output re-emits every changed hour in
    full."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target_dir)
        )

    q = (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(upsert)
        .outputMode("update")
        .start()
    )
    q.awaitTermination()
