"""Queries of the ``formats`` family (sinks, file formats, Python data
sources and UDTFs)."""

from __future__ import annotations

from job_datapipeline_spark.plans.queries import REGISTRY
from job_datapipeline_spark.testing import compare, duck_con

from conftest import SF_SMOKE


def test_python_udtf_regex_spans_leaves_nothing_in_the_session(spark):
    q = REGISTRY["python_udtf_regex_spans"]

    def catalog_sizes():
        return len(spark.catalog.listFunctions()), len(spark.catalog.listTables())

    before = catalog_sizes()
    for _ in range(2):
        sdf = q.fn(spark, SF_SMOKE).toPandas()
    assert catalog_sizes() == before
    assert not compare(sdf, duck_con(SF_SMOKE).execute(q.oracle).df())
