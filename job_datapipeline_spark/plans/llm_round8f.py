"""Round-8 sixth batch: recursive-CTE hierarchy walk — Spark 4.1's
``WITH RECURSIVE`` surface, exercised end-to-end.

Hierarchies (org charts, category trees, bill-of-materials) are the
classic capability gap between batch SQL engines; Spark 4.1 closed it
with ANSI recursive CTEs, executed as a bounded iterative union whose
step count is the hierarchy DEPTH, not the row count — each step is an
ordinary equi-join/filter the optimizer plans like any other.  This
query walks a deterministic decimal-digit forest over the part keys
(child pk -> parent pk div 10; roots are single-digit keys) to its
roots and reports the depth histogram with per-depth root counts — the
transitive-closure shape of "roll every leaf up to its ancestor".

The DuckDB oracle is the SAME recursive SQL modulo integer-division
spelling (Spark ``div``, DuckDB ``//``) — the whole point: the
declared recursion is engine-portable.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Exact integers throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from .registry import register

# One recursion-scoped child session per SparkContext (keyed by
# applicationId so a stopped-and-restarted context gets a fresh child,
# never a handle to dead JVM state).
_CHILD_SESSIONS: dict[str, SparkSession] = {}


def _child_session(spark: SparkSession) -> SparkSession:
    key = spark.sparkContext.applicationId
    sub = _CHILD_SESSIONS.get(key)
    if sub is None:
        _CHILD_SESSIONS.clear()  # drop handles tied to dead contexts
        sub = spark.newSession()
        _CHILD_SESSIONS[key] = sub
    # (Re-)set on every call: the raise must survive anything that reset
    # the child's conf between invocations.
    sub.conf.set("spark.sql.cteRecursionRowLimit", 100_000_000)
    return sub


@register(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk(pk, anc, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM part
        UNION ALL
        SELECT pk, anc // 10, depth + 1 FROM walk WHERE anc >= 10
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT anc) AS BIGINT) AS n_roots
    FROM walk WHERE anc < 10
    GROUP BY depth ORDER BY depth
    """,
    doc="Recursive-CTE hierarchy walk (Spark 4.1 WITH RECURSIVE, the "
        "ANSI transitive-closure surface): every part key climbs the "
        "decimal-digit forest (parent = key div 10) to its single-digit "
        "root; output is the depth histogram with per-depth distinct "
        "root counts. The oracle is the SAME recursive SQL modulo the "
        "integer-division spelling — the declared recursion is "
        "engine-portable, which is the capability being certified. The "
        "100 TB shape: Spark executes the recursion as an iterative "
        "union BOUNDED by hierarchy depth (log10 of the key space, ~7 "
        "levels at SF1000), each step an ordinary whole-stage-codegen "
        "filter/project over the frontier — depth-bounded passes, "
        "never row-count-bounded, the same discipline as the "
        "checkpoint-chained pagerank/k-core/LPA iterations.",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The walk materializes |part| x (depth + 1) rows; Spark's default
    # cteRecursionRowLimit (1M) is a runaway-recursion safety valve, not
    # a scale budget — at sf1 the 200k-part x 7-level walk already
    # exceeds it (the round-9 depth ladder in SCALE_GROWTH.md; its harness,
    # tools/scale_growth_round9.py, is in commit 0242173).
    # Depth stays bounded by the level limit (100); raise only the row cap
    # — and ONLY for this query: the limit is read at EXECUTION time of
    # the lazy frame, so a set-and-restore around the builder would undo
    # the raise before the recursion runs, while a bare set leaks into
    # the shared bench/gate session and strips every later recursive CTE
    # of its runaway valve (r9 verdict item 6).  A child newSession()
    # shares the SparkContext (no new JVM state) but carries its own
    # SQLConf and temp-view catalog, so the raise and the temp view both
    # stay scoped to this query's plan.  ONE child per SparkContext,
    # cached module-level (r10 advice): a fresh newSession() per
    # invocation would accumulate JVM session state across bench/gate
    # runs.  Caveat the cache inherits from newSession() itself: the
    # child snapshots parent confs at creation, so a runtime conf the
    # harness sets on the parent AFTER the first invocation does not
    # propagate — acceptable here because the only confs this plan
    # depends on (shuffle partitions, AQE) are builder-level.
    sub = _child_session(spark)
    table(sub, sf_dir, "part").select("p_partkey").createOrReplaceTempView(
        "_r8_hier_part"
    )
    return sub.sql("""
        WITH RECURSIVE walk(pk, anc, depth) AS (
            SELECT p_partkey, p_partkey, 0 FROM _r8_hier_part
            UNION ALL
            SELECT pk, anc div 10, depth + 1 FROM walk WHERE anc >= 10
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT anc) AS BIGINT) AS n_roots
        FROM walk WHERE anc < 10
        GROUP BY depth ORDER BY depth
    """)
