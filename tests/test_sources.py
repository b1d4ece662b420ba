"""Sources/sinks round trips: CSV glob ingest with filename-derived columns,
partitioned parquet append + newest-partition incremental read, JSON side
inputs, and the foreachPartition KV sink."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from job_datapipeline_spark.sources import readers, sinks

CSV_GLOB = os.path.join(os.path.dirname(__file__), "fixtures", "csv", "*.csv")


def test_read_scraped_csv_schema_and_job_position(spark):
    df = readers.read_scraped_csv(spark, CSV_GLOB)
    rows = df.collect()
    assert len(rows) == 4
    # explicit schema: ratings land as doubles, not strings
    assert dict(df.dtypes)["company_starRating"] == "double"
    got = {r["companyName"]: r["job_position"] for r in rows}
    assert got["Checkout Ltd"] == "data scientist"
    assert got["DeepForge"] == "machine learning engineer"
    # quoted comma fields survive
    loc = {r["companyName"]: r["company_roleLocation"] for r in rows}
    assert loc["Checkout Ltd"] == "London, England"


def test_partitioned_parquet_roundtrip_and_newest_partition(spark, tmp_path):
    root = str(tmp_path / "jobs_parquet")
    day1 = spark.createDataFrame(
        [("a", 1, "2021-08-17"), ("b", 2, "2021-08-17")], "k string, v int, run_date string"
    )
    day2 = spark.createDataFrame(
        [("c", 3, "2021-08-18")], "k string, v int, run_date string"
    )
    sinks.write_partitioned_parquet(day1, root, ["run_date"], mode="append")
    sinks.write_partitioned_parquet(day2, root, ["run_date"], mode="append")

    # partition values are type-inferred (ISO dates -> DateType)
    assert str(readers.newest_partition_value(spark, root, "run_date")) == "2021-08-18"
    newest = readers.read_newest_partition(spark, root, "run_date")
    assert [(r["k"], r["v"]) for r in newest.collect()] == [("c", 3)]
    # partition pruning must reach the scan: only the newest dir's files read
    plan = newest._jdf.queryExecution().executedPlan().toString()
    assert "run_date" in plan
    # appending did not rewrite day1
    assert spark.read.parquet(root).count() == 3


def test_write_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv_out")
    df = spark.createDataFrame([("x", 1), ("y", 2)], "k string, v int")
    sinks.write_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert {(r["k"], r["v"]) for r in back.collect()} == {("x", "1"), ("y", "2")}


def test_kv_sink_batches_per_partition(spark, tmp_path):
    """The KV sink must deliver every row exactly once through per-partition
    batched writers (local mode: executors share our filesystem, so each
    batch lands as one JSON file we can audit)."""
    out = str(tmp_path / "kv")
    os.makedirs(out, exist_ok=True)
    df = spark.createDataFrame(
        [(f"id{i}", f"job{i}") for i in range(57)], "job_id string, job string"
    ).repartition(4)

    def writer_factory():
        def put_batch(items):
            path = os.path.join(out, f"{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump(items, f)

        return put_batch

    sinks.kv_sink(df, writer_factory, batch_size=10)
    batches = []
    for name in os.listdir(out):
        with open(os.path.join(out, name)) as f:
            batches.append(json.load(f))
    assert all(len(b) <= 10 for b in batches)
    items = [it for b in batches for it in b]
    assert len(items) == 57
    assert {it["job_id"] for it in items} == {f"id{i}" for i in range(57)}


def test_ensure_shipped_leaves_no_temp_dir(tmp_path):
    """The package zip lives until interpreter exit, then its dir goes."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = (
        "import os, types\n"
        "from job_datapipeline_spark.deploy import ensure_shipped\n"
        "added = []\n"
        "ensure_shipped(types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=added.append)))\n"
        "assert len(added) == 1 and os.path.getsize(added[0]) > 0\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo)
    subprocess.run([sys.executable, "-c", child], env=env, check=True, timeout=120)
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("jdp_pyfiles_")] == []


def test_json_side_input_skills(spark, tmp_path):
    path = str(tmp_path / "skills.json")
    with open(path, "w") as f:
        json.dump({"skills": ["Python", "spark", "SQL"], "jobs": ["data scientist"]}, f)
    terms = readers.skills_terms(spark, path)
    assert {r["token"] for r in terms.collect()} == {"python", "spark", "sql"}


def test_object_store_confs_shape():
    from job_datapipeline_spark.object_store import object_store_confs

    magic = object_store_confs()
    assert magic["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert "PathOutputCommitProtocol" in magic["spark.sql.sources.commitProtocolClass"]
    plain = object_store_confs("file")
    assert "spark.hadoop.fs.s3a.committer.name" not in plain
    import pytest as _pytest

    with _pytest.raises(ValueError):
        object_store_confs("bogus")


def test_overwrite_partitions_is_idempotent_per_day(spark, tmp_path):
    from job_datapipeline_spark.sources.sinks import write_partitioned_parquet

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    conf_before = spark.conf.get(conf_key)
    path = str(tmp_path / "daily")
    d1 = spark.createDataFrame([(1, "2024-05-01"), (2, "2024-05-01")], "v long, run_date string")
    d2 = spark.createDataFrame([(3, "2024-05-02")], "v long, run_date string")
    write_partitioned_parquet(d1, path, ("run_date",), mode="append")
    write_partitioned_parquet(d2, path, ("run_date",), mode="append")

    # re-run day 2 with corrected rows: replaces ONLY that partition
    d2_fixed = spark.createDataFrame(
        [(30, "2024-05-02"), (31, "2024-05-02")], "v long, run_date string"
    )
    write_partitioned_parquet(d2_fixed, path, ("run_date",), mode="overwrite_partitions")
    # partition-column type inference reads run_date back as a date
    got = {(r["v"], str(r["run_date"])) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "2024-05-01"), (2, "2024-05-01"), (30, "2024-05-02"), (31, "2024-05-02")}
    # a second identical re-run changes nothing (idempotent retry)
    write_partitioned_parquet(d2_fixed, path, ("run_date",), mode="overwrite_partitions")
    assert {(r["v"], str(r["run_date"])) for r in spark.read.parquet(path).collect()} == got
    # and the session conf is never touched (Spark spells its static default
    # "STATIC"; the writer-level option leaves it as it was)
    assert spark.conf.get(conf_key) == conf_before and conf_before.lower() == "static"


def test_jsonl_sink_roundtrip(spark, tmp_path):
    import gzip
    import json as _json
    import os

    from job_datapipeline_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(1, "hello world"), (2, 'quote " and unicode é')], "doc_id long, text string"
    )
    path = str(tmp_path / "corpus_jsonl")
    write_jsonl(df.coalesce(1), path)
    part = [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".gz")]
    assert part, os.listdir(path)
    with gzip.open(os.path.join(path, part[0]), "rt") as fh:
        rows = [_json.loads(line) for line in fh]
    assert sorted(rows, key=lambda r: r["doc_id"]) == [
        {"doc_id": 1, "text": "hello world"},
        {"doc_id": 2, "text": 'quote " and unicode é'},
    ]
    # spark reads its own jsonl back
    back = spark.read.json(path)
    assert back.count() == 2


def test_csv_permissive_quarantines_malformed_rows(spark):
    """PERMISSIVE + corrupt-record column: bad type, short row, and
    extra-field rows all surface with their raw line; clean rows parse."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    from job_datapipeline_spark.sources.readers import read_csv_permissive

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType()),
         StructField("score", DoubleType())]
    )
    df = read_csv_permissive(
        spark, "/root/repo/tests/fixtures/csv_corrupt/*.csv", schema
    )
    rows = {r["name"]: r for r in df.collect()}
    assert len(rows) == 8
    corrupt = {n for n, r in rows.items() if r["_corrupt_record"] is not None}
    assert corrupt == {"gamma", "delta", "zeta", "eta"}
    assert rows["gamma"]["id"] is None and rows["gamma"]["score"] == 3.5
    assert rows["delta"]["score"] is None and rows["delta"]["id"] == 4
    assert rows["eta"]["_corrupt_record"] == "7,eta,7.0,extra"
    assert rows["alpha"]["_corrupt_record"] is None


def test_csv_failfast_raises_and_dropmalformed_prune_trap(spark):
    """FAILFAST fails the job on the first bad row. DROPMALFORMED under
    column pruning is a TRAP: count() parses no data columns, so no row is
    malformed and nothing drops; materializing the typed columns drops the
    4 bad rows. Pinned so a Spark upgrade changing either behavior fails
    loudly."""
    import pytest as _pytest
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType()),
         StructField("score", DoubleType())]
    )
    glob = "/root/repo/tests/fixtures/csv_corrupt/*.csv"
    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        (spark.read.schema(schema).option("header", True)
         .option("mode", "FAILFAST").csv(glob).collect())
    dropped = (spark.read.schema(schema).option("header", True)
               .option("mode", "DROPMALFORMED").csv(glob))
    assert dropped.count() == 8  # pruning trap: nothing parsed, nothing dropped
    assert len(dropped.collect()) == 4  # real parse drops the bad rows
