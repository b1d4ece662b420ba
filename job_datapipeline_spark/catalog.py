"""Table catalog: read the testdata star schema tables.

Loads are plain ``spark.read.parquet`` scans with the declared schema —
column pruning and filter pushdown then happen at the scan (Catalyst), which
is the whole point: at 100 TB a query that touches 2 columns must read 2
columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .schemas import TESTDATA_SCHEMAS

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)


def _ensure_session_confs(spark: SparkSession) -> None:
    """UTC session tz makes ltz<->ntz conversions the identity, so timestamp
    values agree with engines that read parquet timestamps as naive. Set
    here (not only in the session factory) so externally-created sessions,
    e.g. the driver's, behave identically."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table as a DataFrame (lazy parquet scan).

    The scan is built from the declared ``TESTDATA_SCHEMAS[name]``, so no
    job runs to infer a schema from the file footer. Every timestamp column
    is stored as ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` and read as
    the declared ``timestamp_ntz``; a file that drifts from its declaration
    (for example a ``TIMESTAMP(NANOS)`` column) fails when the scan runs
    instead of reading as longs. ``tests/test_catalog_schemas.py`` checks
    every footer against its declaration."""
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def literal_dim(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A tiny literal dimension (config values, fixture rows, band tables)
    as a PURE JVM plan: ``range(1)`` + ``inline`` of struct literals.

    ``spark.createDataFrame`` on local rows builds a Python-RDD scan whose
    every downstream job re-runs Python worker round-trips — measured 7s
    for a 12-row broadcast cross join on local[32]; this form runs in 0.2s
    and broadcasts for free. Use for any dim small enough to inline into
    the plan (config cross products, FX rates, test fixtures); real data
    comes through ``table``/the sources layer.
    """
    st = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, st.fields)])
        for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))
