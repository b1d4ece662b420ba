"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship populator-style query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full registry
(``job_datapipeline_spark/plans/registry.py``, driver window first) — one
entry per implemented operator from SURVEY.md §2 plus the extended
training-data surface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may load this file by path from any cwd; make the package
# importable regardless.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from job_datapipeline_spark.plans.queries import REGISTRY  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["top_skills_by_lang"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible ops)."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
