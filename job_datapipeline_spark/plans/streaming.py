"""AvailableNow structured streams: stateful sessionization, dedup,
attribution, rollups, incremental parquet, stream-static enrichment,
``foreachBatch`` upserts, and the incremental LSH, range-join and IVF
index ingests.

Each stream's accumulated output must equal the one-shot batch answer
the oracle computes, whatever the micro-batch boundaries.

Float discipline: the cross-engine determinism rules in the ``queries``
module docstring hold for every plan here.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager
from os import path as _os_path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.scale import fan_out
from ..operators import dedup as _D
from ..operators.rangejoin import bin_range_join
from ..operators.similarity import ivf_index_append, ivf_index_probe
from .common import (
    IVF_CENTS,
    IVF_CENTS_SQL,
    IVF_L2,
    NDD_HASHES,
    NDD_RPB,
    RW_BIN_US,
    RW_HALF_US,
    SQL_BANDED_CAND,
    SQL_CORPUS,
    SQL_SIG,
    error_window_counts,
    error_window_sides,
    planted_corpus,
    scratch_dir,
    sql_shingles,
)
from .registry import register


# ---------------------------------------------------------------------------
# Custom stateful streaming (applyInPandasWithState)
# ---------------------------------------------------------------------------


@_contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope the stream's STATE STORE count: a stateful streaming query
    creates one state store (+ checkpoint directory, per-batch commit)
    per shuffle partition, fixed at first run. 32 stores for a test-scale
    stream means the per-batch fixed cost is 4x the useful work — measured
    5.5 -> 2.8 s on the attribution join at sf0.1. Sized to stream volume
    here (8); a 100 TB/day deployment sizes it to executor-cores x 2 the
    same way. Restored after the run; batch reads of the result are
    unaffected."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


_STREAM_SRC_CACHE: dict[tuple[int, str, bool], str] = {}


def _stream_events_src(spark: SparkSession, sf_dir: str, planted_dups: bool = False) -> str:
    """The file-source directory for streaming queries: the events table
    (ts as a zoned timestamp, one file -> one deterministic micro-batch),
    optionally with planted exact duplicates. Memoized per (session,
    sf_dir): the fixture is a deterministic function of its inputs, and a
    real incremental pipeline reads a source that already exists — the
    streaming queries should time the STREAM RUN, not a fixture rewrite."""
    import os

    key = (id(spark), sf_dir, planted_dups)
    cached = _STREAM_SRC_CACHE.get(key)
    # existence check guards both tmp-reaper cleanup and the (remote) case
    # of a recycled id() aliasing a dead session's entry
    if cached is not None and os.path.isdir(cached):
        return cached

    # scratch key must carry every memo-key dimension that changes the
    # fixture CONTENT (dup planting, scale factor) — a shared key would let
    # one variant wipe-and-replace the directory the other's memo entry
    # still points at.
    import hashlib

    variant = "dups" if planted_dups else "plain"
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src = scratch_dir(f"stream_src_{variant}_{sf_tag}") + "/events_src"
    ev = table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    if planted_dups:
        ev = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    _STREAM_SRC_CACHE[key] = src
    return src


@register(
    "streaming_sessionize_stateful",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    sess AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked),
    agg AS (
        SELECT user_id, sid, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, sid),
    wm AS (SELECT max(ts) - INTERVAL 1 SECOND AS horizon FROM events)
    SELECT user_id, session_start, session_end, CAST(n_events AS BIGINT) AS n_events
    FROM agg, wm
    WHERE sid < (SELECT max(s2.sid) FROM agg s2 WHERE s2.user_id = agg.user_id)
       OR session_end + INTERVAL 30 MINUTE < horizon
    """,
    doc="Custom stateful streaming sessionization (applyInPandasWithState + "
        "EventTimeTimeout): a session row is emitted exactly once — closed "
        "in-flight by a gap-exceeding successor event, or by state timeout "
        "when the watermark passes last_ts + gap. The fn runs a real "
        "AvailableNow streaming job (file source -> stateful op -> memory "
        "sink); the oracle replays the emission rule in SQL: every "
        "non-final session, plus final sessions whose gap horizon lies "
        "strictly below the final watermark (max ts - 1s delay). State is "
        "O(active users); closed keys are removed from the store.",
)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.pipelines import available_now_to_memory, read_events_stream
    from ..streaming.stateful import sessionize_stateful

    src = _stream_events_src(spark, sf_dir)
    name = "sess_stateful_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            sessionize_stateful(read_events_stream(spark, src)),
            name,
            scratch_dir("sess_stateful") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@register(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, user_id, ts, event_type, round(value, 2) AS value
    FROM events
    """,
    doc="dropDuplicatesWithinWatermark as an oracle-checked streaming run: "
        "the source directory holds the events table PLUS planted exact "
        "duplicates (every 10th event re-appended), a real AvailableNow "
        "file-source stream dedups in flight (state = keys within the "
        "1-hour watermark horizon, evicted after), and the memory-sink "
        "result must hash-match the original duplicate-free table. The "
        "streaming twin of the reference's in-run memo sets (page.py:51, "
        "listing.py:188) with BOUNDED state.",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        dedup_events_stream,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir, planted_dups=True)
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            dedup_events_stream(read_events_stream(spark, src)),
            name,
            scratch_dir("stream_dedup") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        F.round("value", 2).alias("value"),
    )


@register(
    "streaming_view_click_attribution",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           v.ts AS view_ts, c.ts AS click_ts
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """,
    doc="Stream-stream interval join, oracle-checked: each click attributed "
        "to prior views by the same user within 30 minutes, run as a real "
        "AvailableNow job (file source -> watermarked interval join -> "
        "memory sink). The two-sided event-time bound is what lets Spark "
        "size and EVICT the join state buffers — the append-mode "
        "stream-stream-join contract; the oracle replays the identical "
        "interval join in batch SQL.",
)
def streaming_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        read_events_stream,
        view_click_attribution_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = "stream_attr_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            view_click_attribution_stream(read_events_stream(spark, src)),
            name,
            scratch_dir("stream_attr") + "/ckpt",
            output_mode="append",
        )
    return spark.table(name)


@register(
    "streaming_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window aggregation as a real streaming run "
        "(file source -> 1h windows + 2h watermark -> AvailableNow -> "
        "memory sink, complete mode so unfinalized windows emit in the "
        "finite replay): the streaming twin of events_hourly_rollup, now "
        "under the hash gate rather than only stream-equals-batch pytest. "
        "At 100 TB/day the watermark is what bounds window state: closed "
        "windows evict instead of accumulating forever.",
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        hourly_rollup_stream,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = "stream_rollup_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        available_now_to_memory(
            hourly_rollup_stream(read_events_stream(spark, src)),
            name,
            scratch_dir("stream_rollup") + "/ckpt",
            output_mode="complete",
        )
    return spark.table(name)


@register(
    "streaming_incremental_parquet",
    oracle="""
    SELECT event_id, user_id, ts, event_type, round(value, 2) AS value
    FROM events
    """,
    doc="The incremental-ingest write path under the hash gate: a real "
        "AvailableNow run writes the events stream to a parquet sink with "
        "a checkpoint, then a SECOND run against the same checkpoint "
        "processes nothing (exactly-once: the files are already "
        "committed), and the sink directory is read back and must "
        "hash-match the source table — proving both the streamed write "
        "and that the re-run added no duplicate rows. This is the "
        "cron-shaped daily catch-up the reference implements with "
        "date-stamped S3 objects, with Spark owning the bookkeeping.",
)
def streaming_incremental_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import available_now_to_parquet, read_events_stream

    src = _stream_events_src(spark, sf_dir)
    base = scratch_dir("stream_sink")
    out, ckpt = base + "/out", base + "/ckpt"
    with _stream_state_partitions(spark):
        for _ in range(2):  # second run: same checkpoint, no new files -> no rows
            available_now_to_parquet(read_events_stream(spark, src), out, ckpt)
    return spark.read.parquet(out).select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        F.round("value", 2).alias("value"),
    )


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Stream-STATIC join (streaming/pipelines.enrich_with_static_dim): "
        "each micro-batch joins the event stream against a batch "
        "dimension — re-planned per batch (a refreshed dim is picked up "
        "live), broadcast so the per-batch join is shuffle-free, and "
        "stateless on the dim side (vs the stream-stream join's "
        "watermark-bounded buffers). The AvailableNow run's complete-"
        "mode rollup must equal the batch join — the third join flavor "
        "in the streaming surface next to stream-stream and stateful.",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..streaming.pipelines import (
        available_now_to_memory,
        enrich_with_static_dim,
        read_events_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    name = "static_enrich_" + uuid.uuid4().hex[:8]
    with _stream_state_partitions(spark):
        enriched = enrich_with_static_dim(
            read_events_stream(spark, src), dim
        )
        rollup = enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        available_now_to_memory(
            rollup,
            name,
            scratch_dir("static_enrich") + "/ckpt",
            output_mode="complete",
        )
    return spark.table(name)


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT date_trunc('day', ts) AS event_day,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
    doc="foreachBatch + DYNAMIC PARTITION OVERWRITE — the MERGE-less "
        "serving-table upsert for plain parquet (streaming/pipelines."
        "foreachbatch_partition_upsert): each micro-batch overwrites "
        "exactly the day partitions it carries, so batch re-delivery "
        "converges instead of duplicating. The source is split on a "
        "day boundary so each batch owns WHOLE partitions (the "
        "pattern's correctness precondition, called out in the helper "
        "doc; day granularity because hour partitions at this corpus "
        "size mean 531 near-empty directories — the small-files "
        "anti-pattern), and the query then REPLAYS the stream under a "
        "fresh checkpoint against the same target — the hash gate "
        "certifies the converged state equals one clean batch rollup, "
        "i.e. replay is harmless.",
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipelines import foreachbatch_partition_upsert

    ev = table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # split the source on an hour edge so each file carries whole hours
    cutoff = ev.agg(
        F.date_trunc(
            "day", F.expr("approx_percentile(ts, 0.5)")
        ).alias("c")
    ).first()["c"]
    src = scratch_dir("febatch_src") + "/events"
    ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    target = scratch_dir("febatch_tgt") + "/hourly"

    def run_stream() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with_day = stream.withColumn("event_day", F.date_trunc("day", "ts"))
        foreachbatch_partition_upsert(
            with_day,
            target,
            scratch_dir("febatch_ck") + "/ckpt",
            partition_col="event_day",
        )

    with _stream_state_partitions(spark):
        run_stream()
        run_stream()  # full replay, fresh checkpoint: must converge, not duplicate
    return (
        spark.read.parquet(target)
        .groupBy("event_day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("event_day").cast("timestamp_ntz").alias("event_day"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Streaming near-dup ingest over persistent LSH state
# ---------------------------------------------------------------------------


def _split_col(key: str):
    """Arrival file 0..2 of a row: its md5(key)-derived split, engine-portable."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(3),
    )


def _replay_arrivals(
    spark: SparkSession, staged: DataFrame, src: str, ckpt: str, handler
) -> None:
    """Write each ``_split`` slice (0..2) of ``staged`` as one arrival file
    under ``src``, then replay them as an AvailableNow file stream, one
    file per micro-batch, into the foreachBatch ``handler``."""
    for k in range(3):
        staged.filter(F.col("_split") == k).drop("_split").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(staged.drop("_split").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with _stream_state_partitions(spark):
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(handler)
            .start()
        )
        q.awaitTermination()


@register(
    "streaming_dedup_state_ingest",
    oracle=f"""
    WITH {SQL_CORPUS}, {sql_shingles('corpus')}, {SQL_SIG}, {SQL_BANDED_CAND}
    SELECT id_a, id_b FROM cand
    """,
    doc="Ingest-time near-dup detection over PERSISTENT LSH state — the "
        "production composition of dedup_state_roundtrip with Structured "
        "Streaming: the planted corpus (base + exact copy + near copy per "
        "doc, the common.SQL_CORPUS convention) arrives as 3 hash-split files, "
        "a real AvailableNow file-source stream processes one file per "
        "micro-batch (maxFilesPerTrigger=1), and each foreachBatch (a) "
        "MinHash-bands ONLY its own batch, (b) self-joins those bands for "
        "within-batch pairs, (c) probes the parquet band index persisted "
        "by PRIOR batches (operators/dedup.lsh_join_state — corpus text "
        "is never re-read), (d) appends candidate pairs to a result sink "
        "normalized to (least, greatest), and (e) appends its own bands "
        "to the state index. Because every pair is found exactly once — "
        "within its batch, or when the later doc's batch probes state — "
        "the accumulated result equals the ONE-SHOT symmetric "
        "lsh_candidate_pairs the oracle replays, independent of batch "
        "arrival order. At 100 TB this is the daily-crawl dedup shape: "
        "state grows by one band row per (new doc, band), probe cost is "
        "O(batch), and the band-partitioned index prunes probe scans.",
)
def streaming_dedup_state_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    corpus = planted_corpus(spark, sf_dir)
    root = scratch_dir("stream_dedup_ingest")
    src = _os.path.join(root, "src")
    state = _os.path.join(root, "band_state")
    result = _os.path.join(root, "pairs")
    ckpt = _os.path.join(root, "ckpt")
    # hash-split into 3 arrival files so planted pairs land both within
    # and across micro-batches (base/copy ids differ by 1e5 -> different
    # md5 split keys; ~1/3 of pairs co-arrive).
    staged = corpus.withColumn("_split", _split_col("doc_id")).localCheckpoint()

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # fan_out BEFORE the minhash map: a 1-file micro-batch is one scan
        # task, so the per-shingle md5 + band build otherwise runs on one
        # core (~1.5 s/batch of the 8 s total, measured r13).  The r12
        # experiment that fanned out WITHOUT reclustering regressed 3x by
        # exploding the state-append file count (32 partitions x bands
        # files per batch); the explicit repartition("band") below keeps
        # the append at one file per band per batch — parallel compute,
        # minimal file count (guide §2.5 + §6).
        bands = _D.band_table(
            _D.minhash_signatures(fan_out(batch_df, "doc_id"), num_hashes=NDD_HASHES),
            rows_per_band=NDD_RPB,
        ).localCheckpoint()  # feeds self-join, state probe, and the state append
        a = bands.select(F.col("doc_id").alias("id_a"), "band", "band_sig")
        b = bands.select(F.col("doc_id").alias("id_b"), "band", "band_sig")
        pairs = (
            a.join(b, ["band", "band_sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        if _os.path.isdir(state):
            cross = _D.lsh_join_state(batch_df.sparkSession.read.parquet(state), bands)
            pairs = pairs.unionByName(
                cross.select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                )
            ).distinct()
        pairs.write.mode("append").parquet(result)
        bands.repartition("band").write.mode("append").partitionBy("band").parquet(
            state
        )

    _replay_arrivals(spark, staged, src, ckpt, ingest)
    return spark.read.parquet(result).distinct()


# streaming stream-static binned range join.
#
# The production composition of operators/rangejoin with Structured
# Streaming: purchase events ARRIVE as a file-source stream (3 files, one
# AvailableNow micro-batch each), and every micro-batch bin-range-joins
# ONLY its own rows against a static interval dimension (per-user +-30 min
# error windows) — the stream-enrichment shape of ad-attribution windows,
# maintenance/flag intervals and SLA clocks.  Because each point row is
# enriched independently, the accumulated sink equals the one-shot batch
# join regardless of arrival order, which is what the oracle replays as a
# plain inequality join.
#
# Per-micro-batch cost is O(batch): the interval dim broadcasts (it is
# bounded by the incident domain, not the stream), the batch explodes to
# one bin row per point, and nothing rereads prior batches.
#
# Float discipline: integer epoch-microsecond bounds and counts only.

@register(
    "streaming_range_join_ingest",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_us(ts) AS t FROM events
    ),
    err AS (
        SELECT event_id AS err_id, user_id,
               t - {RW_HALF_US} AS lo, t + {RW_HALF_US} AS hi
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

    # errors: the static dim every micro-batch probes
    errors, purchases = error_window_sides(spark, sf_dir)
    root = scratch_dir("stream_range_join")
    src = _os.path.join(root, "src")
    result = _os.path.join(root, "matches")
    ckpt = _os.path.join(root, "ckpt")
    staged = purchases.withColumn(
        "_split", F.pmod(F.xxhash64("p_id"), F.lit(3)).cast("int")
    ).localCheckpoint()

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        matches = bin_range_join(
            batch_df,
            F.broadcast(errors),
            point_col="t",
            lo_col="lo",
            hi_col="hi",
            bin_width=RW_BIN_US,
            keys=["user_id"],
        ).select("err_id", "p_id")
        matches.write.mode("append").parquet(result)

    _replay_arrivals(spark, staged, src, ckpt, enrich)
    # explicit schema: a zero-match run leaves no part files and
    # schema inference would fail on the empty directory
    sink = spark.read.schema("err_id long, p_id long").parquet(result)
    return error_window_counts(errors, sink)


# STREAMING ingest into the persistent IVF index.
#
# ``ann_ivf_index_roundtrip`` proves the write/append/probe composition
# over persisted state; this is its production arrival shape — the
# embedding twin of ``streaming_dedup_state_ingest``: vectors arrive as 3
# hash-split files, a real AvailableNow file-source stream processes one
# file per micro-batch, and each ``foreachBatch`` assigns ONLY its own
# batch against the offline-trained quantizer (persisted centroids) and
# appends the batch's cell partitions (operators/similarity.
# ivf_index_append).  The corpus is never re-read, re-assigned, or
# re-normed; per-arrival cost is O(|batch| x k_centroids).
#
# After the stream drains, one probe against the accumulated index must
# equal the ONE-SHOT IVF top-k over the whole corpus — the oracle replays
# that single-pass plan, so a green row proves the result is independent
# of arrival order and batch boundaries.  ``arrival_batch`` labels each
# hit with the deterministic md5 split (the FILE it was staged into —
# cross-engine reproducible, so the oracle pins it); the in-plan
# ``multi_batch_hits`` verdict counts the REAL ``batch_id``s stamped by
# ``foreachBatch`` at ingest (persisted to an ``arrivals`` side table),
# certifying the probe really is serving vectors that arrived in
# different micro-batches — i.e. the incremental appends, not any single
# batch, produced the answer.  The two are deliberately decoupled (r10
# advice): a stream that coalesced all files into one batch would flip
# the real-stamp verdict to false and go red at the gate, while the
# split expression alone would still show 3 values.
#
# Scale shape: identical to ann_ivf_index_roundtrip (broadcast quantizer
# assignment per batch, cell-partitioned appends, DPP-pruned probe); state
# grows by one row per arriving vector.

_SPLIT_SQL = (
    "('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 3"
)


@register(
    "streaming_ann_index_ingest",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS cent FROM embeddings
        WHERE vec_id IN {IVF_CENTS_SQL}
    ),
    corp AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    ca AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM corp e CROSS JOIN cents c) x
        WHERE r = 1
    ),
    qa AS (
        SELECT q_id, qv, cid AS cell FROM (
            SELECT e.vec_id AS q_id, e.embedding AS qv, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {IVF_L2}, c.cid) AS r
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id % 10 = 3 AND e.vec_id < 100) x
        WHERE r <= 2
    ),
    scored AS (
        SELECT qa.q_id, ca.vec_id,
               round(list_dot_product(ca.embedding, qa.qv) /
                     (sqrt(list_dot_product(ca.embedding, ca.embedding)) *
                      sqrt(list_dot_product(qa.qv, qa.qv))), 4) AS cos
        FROM ca JOIN qa USING (cell)
    ),
    topk AS (
        SELECT q_id, vec_id, cos, rank FROM (
            SELECT q_id, vec_id, cos,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, vec_id) AS rank
            FROM scored) x
        WHERE rank <= 5
    )
    SELECT q_id, vec_id, cos, CAST(rank AS BIGINT) AS rank,
           {_SPLIT_SQL} AS arrival_batch,
           (SELECT count(DISTINCT {_SPLIT_SQL}) FROM topk) > 1
               AS multi_batch_hits
    FROM topk ORDER BY q_id, rank
    """,
    doc="Streaming ingest into the persistent IVF index — the daily-"
        "arrival shape of ann_ivf_index_roundtrip: vectors arrive as 3 "
        "md5-split files, an AvailableNow file stream processes one file "
        "per micro-batch, and each foreachBatch assigns ONLY its batch "
        "via the persisted offline quantizer and appends its cell "
        "partitions (no corpus re-read; O(batch x k_cents) per arrival). "
        "One probe after the drain must equal the one-shot IVF top-5 the "
        "oracle replays — independent of arrival order and batch "
        "boundaries. arrival_batch labels each hit's staged file (md5 "
        "split, oracle-pinned); the in-plan multi_batch_hits verdict "
        "counts the REAL foreachBatch batch_ids stamped at ingest, "
        "certifying the answer is assembled from appends across actual "
        "micro-batches, not any single batch.",
)
def streaming_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    queries = emb.filter((F.col("vec_id") % 10 == 3) & (F.col("vec_id") < 100)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    root = scratch_dir("stream_ann_ingest")
    src = _os_path.join(root, "src")
    idx = _os_path.join(root, "ivf_index")
    ckpt = _os_path.join(root, "ckpt")

    # The quantizer is trained OFFLINE (here: the fixed-id convention of
    # the roundtrip query) and persisted before any vector arrives —
    # ingest only assigns against it, exactly like a production IVF
    # deployment where re-training is a separate, rare event.
    corpus.filter(F.col("vec_id").isin(*IVF_CENTS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    ).write.mode("overwrite").parquet(idx + "/centroids")

    # 3 deterministic arrival files: md5-split so each micro-batch holds
    # an unpredictable slice of every cell.
    staged = corpus.withColumn("_split", _split_col("vec_id")).localCheckpoint()

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_append(batch_df.sparkSession, idx, batch_df)
        # Stamp the REAL micro-batch id alongside the index append (r10
        # advice): the multi-batch verdict below must certify actual
        # arrival batches, not the split function that staged the files.
        batch_df.select("vec_id").withColumn(
            "ingest_batch", F.lit(int(batch_id)).cast("bigint")
        ).write.mode("append").parquet(idx + "/arrivals")

    _replay_arrivals(spark, staged, src, ckpt, ingest)

    topk = ivf_index_probe(spark, idx, queries, k=5, nprobe=2, cos_round=4)
    # <=50 rows — materialized so the verdict agg reads the tiny result
    # instead of replaying the probe subtree (the roundtrip precedent).
    # arrival_batch (output column) is the deterministic md5 split — the
    # FILE each vector was staged into, reproducible cross-engine so the
    # oracle can pin it.  multi_batch_hits (the verdict) deliberately
    # does NOT reuse that expression: it counts the REAL batch_ids
    # stamped by ingest() (r10 advice) — if the stream ignored
    # maxFilesPerTrigger and landed all 3 files in one micro-batch, the
    # real count would be 1, the verdict false, and the gate red, even
    # though the split expression would still show 3 distinct values.
    flagged = topk.select(
        "q_id", "vec_id", "cos", "rank", _split_col("vec_id").alias("arrival_batch")
    ).localCheckpoint()
    arrivals = spark.read.parquet(idx + "/arrivals")
    verdict = (
        arrivals.join(F.broadcast(flagged.select("vec_id").distinct()), "vec_id")
        .agg((F.countDistinct("ingest_batch") > 1).alias("multi_batch_hits"))
    )
    return flagged.crossJoin(F.broadcast(verdict)).orderBy("q_id", "rank")
