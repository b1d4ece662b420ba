"""The aggregate/publish stage (data_populator/populator.py:39-58) as one
declarative plan producing the two serving tables:

    jobs_kv(job_id, job)
    top_k_skills(job_id, top_skill_n_1 .. top_skill_n_k)

The reference loops over distinct groups in driver Python with a Counter;
here it is explode -> vocabulary filter -> two-phase hash agg on (group,
token) -> one sorted-list aggregate per group giving the k columns
(deterministic ties). Two shuffles: on (group, token) for the count and on
the group for the top-k; the job key is computed after both. One
evaluation runs 4 jobs: the vocabulary subquery, the two shuffle map
stages and the result stage.

Documented divergence (P3): the reference selects each group's rows by
SUBSTRING containment — ``jobs[jobs.job_position.str.contains(job)]``
(populator.py:43) — so one row can feed several groups. This pipeline
groups by column EQUALITY (the common case its data actually exercises:
job_position values equal the configured search terms). The faithful
contains-semantics form is covered by the ``populator_contains_match``
registry query (broadcast non-equi join).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_dim
from ..functions.cleaning import deterministic_job_id
from ..functions.text import tokenize
from ..operators.topk import top_k_pivot


def skills_dim(spark: SparkSession, skills: Sequence[str]) -> DataFrame:
    """The skills.json term list (data_populator/skills.json:1-16) as a
    single-column literal dim."""
    return literal_dim(spark, [(s.lower(),) for s in skills], "token string")


def skill_counts(df: DataFrame, skills: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """A2 + J6 (populator.py:42-44): tokenize, keep skill tokens, count per
    (group, token). Map-side partial agg makes the explode cheap on the wire.

    Skill tokens are kept by ``array_contains`` against the vocabulary,
    collected once by a scalar subquery, not by a broadcast semi-join: a
    broadcast hash relation on a string key holds a whole Tungsten page
    per evaluation (the session's page size, 16-64 MB on a local session),
    however few the terms, until the broadcast is cleaned up. The lookup
    is a scan of the vocabulary, so ``skills`` must stay config-sized (the
    reference's list has 64 terms)."""
    toks = df.select(F.col(group_col).alias("job"), F.explode(tokenize(F.col(text_col))).alias("token"))
    vocab = skills.select(F.collect_set("token")).scalar()
    return (
        toks.filter(F.array_contains(vocab, F.col("token")))
        .groupBy("job", "token")
        .agg(F.count("*").alias("cnt"))
    )


def top_skills(
    df: DataFrame,
    skills: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Produce (jobs_kv, top_k_skills) — the populator's end state
    (populator.py:47-58), with the W1 determinism fix (ties -> token asc)."""
    counts = skill_counts(df, skills, group_col, text_col)
    top = top_k_pivot(counts, ["job"], "cnt", "token", k)
    job_id = deterministic_job_id(F.col("job")).alias("job_id")
    return top.select(job_id, "job"), top.select(job_id, "*").drop("job")
