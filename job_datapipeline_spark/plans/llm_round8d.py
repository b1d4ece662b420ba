"""Round-8 fourth batch: synchronous label propagation (community
detection) over the customer-part purchase graph.

The graph family has PageRank (influence), k-core (periphery shedding),
triangle clustering (local density) and connected components (reach —
``dedup_components``); the missing classic is COMMUNITY structure.
Label propagation is the standard scale algorithm for it: every node
starts as its own label, and each synchronous round every node adopts
the most frequent label among its neighbors.  Vanilla LPA is
notoriously nondeterministic (random tie-breaks, random visit order);
this implementation pins both the way the repo's float discipline pins
arithmetic — synchronous rounds (no visit order at all) and the
(count DESC, label ASC) tie-break — so the trajectory replays exactly
on any engine or partitioning, and the DuckDB oracle is just the same
R rounds unrolled.

Reference parity: none in the reference (glassdoor-scraper/src/
main.py).  Exact-integer discipline: labels are bigints, counts are
bigints, nothing floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

_LPA_ROUNDS = 3
_PK_OFFSET = 10_000_000  # disjoint node-id spaces: customers vs parts


def _lpa_round_sql(rnd: int) -> str:
    prev = f"l{rnd - 1}"
    return f"""
    l{rnd} AS (
        SELECT u, lbl FROM (
            SELECT e.u, l.lbl,
                   row_number() OVER (
                       PARTITION BY e.u
                       ORDER BY count(*) DESC, l.lbl) AS rn
            FROM edges e JOIN {prev} l ON l.u = e.v
            GROUP BY e.u, l.lbl) x
        WHERE rn = 1
    )"""


def _lpa_stats_sql(rnd: int) -> str:
    return f"""SELECT CAST({rnd} AS BIGINT) AS round,
           CAST(count(DISTINCT lbl) AS BIGINT) AS n_labels,
           CAST(max(sz) AS BIGINT) AS max_community
    FROM (SELECT lbl, count(*) AS sz FROM l{rnd} GROUP BY lbl)"""


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH bip AS (
        SELECT DISTINCT o.o_custkey AS ck,
               l.l_partkey + {_PK_OFFSET} AS pk
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (
        SELECT ck AS u, pk AS v FROM bip
        UNION ALL
        SELECT pk AS u, ck AS v FROM bip
    ),
    l0 AS (SELECT DISTINCT u, u AS lbl FROM edges),
    {",".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(_lpa_stats_sql(r) for r in range(_LPA_ROUNDS + 1))}
    ) ORDER BY round
    """,
    doc=f"Synchronous label propagation ({_LPA_ROUNDS} rounds) on the "
        "customer-part purchase graph — community detection, the "
        "missing classic next to pagerank/k-core/triangles/components: "
        "every node starts as its own label; each round every node "
        "adopts its neighbors' most frequent label with the FULLY "
        "PINNED (count DESC, label ASC) tie-break, so the normally "
        "nondeterministic algorithm replays exactly on both engines. "
        "Reports the (distinct labels, largest community) trajectory "
        "per round — the convergence curve IS the diagnostic (a "
        "collapsing label count means one giant community; a plateau "
        "means real modular structure). Spark shape: the edge frame "
        "localCheckpoints once, each round is one shuffled label join "
        "keyed by node + one (node, label) partial-combining count + "
        "one window PARTITIONED by node (never global), checkpointed "
        "before the next round — the pagerank iteration discipline. "
        "The 100 TB shape: rounds are bounded (R passes), every "
        "shuffle is keyed by node id, label state is one row per node, "
        "and the hot-label skew AQE-balances because the count "
        "aggregate partial-combines map-side.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bip = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("ck"),
            (F.col("l_partkey") + _PK_OFFSET).alias("pk"),
        )
        .distinct()
    )
    edges = (
        bip.select(F.col("ck").alias("u"), F.col("pk").alias("v"))
        .unionAll(bip.select(F.col("pk").alias("u"), F.col("ck").alias("v")))
        .localCheckpoint()  # read once per round
    )
    labels = edges.select("u").distinct().select("u", F.col("u").alias("lbl"))

    def stats(lbls: DataFrame, rnd: int) -> DataFrame:
        sizes = lbls.groupBy("lbl").agg(F.count("*").alias("sz"))
        return sizes.agg(
            F.lit(rnd).cast("bigint").alias("round"),
            F.count("*").cast("bigint").alias("n_labels"),
            F.max("sz").cast("bigint").alias("max_community"),
        ).select("round", "n_labels", "max_community")

    labels = labels.localCheckpoint()  # feeds round-0 stats AND round 1
    out = stats(labels, 0)
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("lbl"))
    for rnd in range(1, _LPA_ROUNDS + 1):
        labels = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u", "lbl")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("u", "lbl")
            .localCheckpoint()  # feeds this round's stats AND the next round
        )
        out = out.unionAll(stats(labels, rnd))
    return out.orderBy("round")
