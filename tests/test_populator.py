"""The populator's publish stage (``pipelines.populator.top_skills``): a
tie-heavy golden case computed by hand, and the job counts of building and
evaluating the plan."""

from __future__ import annotations

import hashlib

import pytest

from conftest import SF_SMOKE, jobs_in_group
from job_datapipeline_spark.catalog import table
from job_datapipeline_spark.pipelines.populator import skills_dim, top_skills
from job_datapipeline_spark.plans.queries import REGISTRY, SKILLS_VOCAB
from job_datapipeline_spark.testing import compare, duck_con


def _job_id(job: str) -> str:
    return hashlib.sha256(job.encode()).hexdigest()[:32]


def test_top_skills_golden(spark):
    docs = spark.createDataFrame(
        [
            ("dev", "spark SQL spark python rust"),
            ("dev", "  python java sql scala"),
            ("ops", "AWS aws java"),
            ("qa", "no listed terms here"),
        ],
        "job string, text string",
    )
    skills = skills_dim(spark, ["Python", "SQL", "spark", "java", "scala", "aws"])
    jobs_kv, pivoted = top_skills(docs, skills, "job", "text", k=3)
    # dev counts: python 2, spark 2, sql 2, java 1, scala 1 -> the three-way
    # tie at 2 breaks by token ascending; ops has two skills, so its third
    # column is NULL; qa has none and publishes no row.
    assert pivoted.columns == ["job_id", "top_skill_n_1", "top_skill_n_2", "top_skill_n_3"]
    assert sorted(tuple(r) for r in pivoted.collect()) == sorted([
        (_job_id("dev"), "python", "spark", "sql"),
        (_job_id("ops"), "aws", "java", None),
    ])
    assert sorted(tuple(r) for r in jobs_kv.collect()) == sorted([
        (_job_id("dev"), "dev"),
        (_job_id("ops"), "ops"),
    ])


def test_top_skills_job_counts(spark):
    """Building the plan starts no job; one evaluation starts 4: the
    vocabulary subquery, the (group, token) count exchange, the group
    exchange of the top-k aggregate and the result stage."""
    built = {}

    def build():
        docs = table(spark, SF_SMOKE, "documents")
        built["pivoted"] = top_skills(docs, skills_dim(spark, SKILLS_VOCAB), "lang", "text", k=10)[1]

    assert jobs_in_group(spark, "top_skills_build", build) == []
    assert len(jobs_in_group(spark, "top_skills_eval", lambda: built["pivoted"].collect())) == 4


@pytest.mark.parametrize("name", ["top_skills_by_lang", "top_skills_pivot"])
def test_top_skills_queries_broadcast_nothing(spark, name):
    """The registry's top-skills queries count through the publish stage's
    own ``skill_counts``: the executed plan (subqueries included) holds no
    broadcast, which on the string token key would pin a whole Tungsten
    page per evaluation, and the result still matches the oracle."""
    q = REGISTRY[name]
    df = q.fn(spark, SF_SMOKE)
    got = df.toPandas()
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "isFinalPlan=true" in plan
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan, plan
    assert not compare(got, duck_con(SF_SMOKE).execute(q.oracle).df())
