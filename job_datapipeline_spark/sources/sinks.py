"""Sinks: how results leave the engine (SURVEY.md §2.1 S10-S14).

The reference writes parquet part-files locally then uploads each to S3 and
deletes the directory (glassdoor-scraper/src/main.py:81-107), serializes
CSV through an in-memory buffer + put_object (data-cleaner/cleaner.py:117-137),
and put_item's rows one at a time into DynamoDB (data_populator/
populator.py:47-58).

Spark-first re-expression:
- direct ``df.write`` to the target filesystem (s3a:// in prod) — the
  upload+cleanup dance (S13) disappears;
- run-date becomes a PARTITION COLUMN, not a filename infix, so incremental
  daily batches are append-only directories and "newest run" is partition
  pruning (see readers.read_newest_partition);
- the KV sink batches per partition through one client per executor —
  row-at-a-time put_item from the driver is the anti-pattern the reference's
  loop would hit at scale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from ..deploy import ensure_shipped


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("run_date",),
    mode: str = "append",
    stamp_run_date: bool = False,
) -> None:
    """S10 (main.py:81-86): parquet append, partitioned.

    ``stamp_run_date=True`` adds the reference's dd-MM-yyyy-style run stamp
    (F10, cleaner.py:143) as a proper partition column ``run_date`` in ISO
    form (yyyy-MM-dd — lexicographic order == date order, which the
    reference's dd-MM-yyyy stamps famously break for sorting).

    ``mode="overwrite_partitions"`` makes a daily batch IDEMPOTENT: dynamic
    partition overwrite replaces exactly the partitions present in ``df``
    and leaves every other run's directories untouched — re-running a
    failed day can never duplicate it (plain ``append`` would) and never
    truncates the table (static ``overwrite`` would). This is the retry
    story the reference implements by deleting and re-uploading whole
    directories (main.py:81-107).
    """
    if stamp_run_date:
        df = df.withColumn("run_date", F.date_format(F.current_date(), "yyyy-MM-dd"))
    w = df.write
    if mode == "overwrite_partitions":
        # a per-write option: the session conf, shared with concurrent
        # writers in the same session, is never touched
        w = w.option("partitionOverwriteMode", "dynamic")
        mode = "overwrite"
    w.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S12 (cleaner.py:124-126): CSV sink, header on. Kept for compatibility
    with the reference's downstream consumers; parquet is the default
    at-rest format everywhere else."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite", compression: str | None = "gzip") -> None:
    """JSON-lines sink — the interchange format every LLM training stack
    ingests. ``df.write.json`` emits one JSON object per row (JSONL by
    construction), parallel per partition; gzip by default because JSONL
    at corpus scale is ~5x smaller compressed and every consumer streams
    it. Binary columns don't belong here (base64 bloat) — keep blobs in
    parquet and export metadata + text."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def kv_sink(
    df: DataFrame,
    writer_factory: Callable[[], Callable[[list[dict]], None]],
    batch_size: int = 25,
) -> None:
    """S14 (populator.py:47-58): publish rows to a key-value store.

    ``writer_factory`` runs ONCE PER PARTITION on the executor and returns a
    ``put_batch(items)`` callable — so each executor holds one client
    connection (e.g. a boto3 DynamoDB table resource using
    ``batch_writer()``), and rows flow in batches of ``batch_size`` (25 is
    DynamoDB's BatchWriteItem limit). The reference's one-put_item-per-row
    driver loop becomes a parallel, batched, connection-reusing write.

    The job is an action (``foreachPartition``), not a transformation —
    exactly-once depends on the target's idempotency (deterministic keys,
    see functions.cleaning.deterministic_job_id, make retries safe).
    """

    def per_partition(rows: Iterator[Row]) -> None:
        put_batch = writer_factory()
        buf: list[dict] = []
        for row in rows:
            buf.append(row.asDict())
            if len(buf) >= batch_size:
                put_batch(buf)
                buf = []
        if buf:
            put_batch(buf)

    ensure_shipped(df.sparkSession)
    df.foreachPartition(per_partition)


def collect_kv_items(rows: Iterable[dict], key_col: str) -> dict[str, dict]:
    """Small driver-side helper for tests/serving checks: index KV items by
    key. Not a distributed path."""
    return {r[key_col]: r for r in rows}
