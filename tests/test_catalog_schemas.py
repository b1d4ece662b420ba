"""``catalog.table`` reads every table with its declared schema.

The declared ``TESTDATA_SCHEMAS`` replace footer inference, so two things
must hold: each file's footer still matches its declaration (otherwise a
drifted column would read as nulls, or fail only at scan time), and a
``table`` call starts no Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from job_datapipeline_spark import catalog
from job_datapipeline_spark.schemas import TESTDATA_SCHEMAS
from perfbench import datagen

from conftest import SF_SMOKE, jobs_in_group

TESTDATA_ROOT = os.path.dirname(SF_SMOKE)


def _columns(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _assert_footers_match(spark, sf_dir: str) -> None:
    for name in catalog.TABLE_NAMES:
        footer = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert _columns(footer) == _columns(TESTDATA_SCHEMAS[name]), (sf_dir, name)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_testdata_footers_match_declared_schemas(spark, sf):
    _assert_footers_match(spark, os.path.join(TESTDATA_ROOT, sf))


def test_benchmark_tables_match_declared_schemas(spark, tmp_path):
    scale = datagen.Scale(sf=0.0002, n_documents=60, n_embeddings=40)
    datagen.write_tables(datagen.make_tables(42, scale), str(tmp_path))
    _assert_footers_match(spark, str(tmp_path))


def test_table_starts_no_job(spark, sf_dir):
    def read_declared():
        for name in catalog.TABLE_NAMES:
            catalog.table(spark, sf_dir, name)

    def read_inferred():
        for name in catalog.TABLE_NAMES:
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    assert jobs_in_group(spark, "catalog-table-declared", read_declared) == []
    # Control: footer inference does start a job per table, so the count
    # above would see one.
    assert len(jobs_in_group(spark, "catalog-table-inferred", read_inferred)) >= len(
        catalog.TABLE_NAMES
    )


def test_nanos_timestamp_fails_at_scan(spark, sf_dir, tmp_path):
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.schema.get_field_index("ts")
    nanos = events.set_column(ts, "ts", events["ts"].cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"), coerce_timestamps=None)
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        catalog.table(spark, str(tmp_path), "events").collect()
